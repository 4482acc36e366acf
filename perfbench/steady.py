"""Steadiness evidence: run one workload in two sets of runs and compare.

    python3 perfbench/steady.py --workload serve_rw --runs 5 --seed 1
    python3 perfbench/steady.py --workload serve_rw --runs 10 --seeds 1

With `--seed S` every run uses seed S (run-to-run noise of one input);
with `--seeds S` the runs of a set use seeds S, S+1, ... (noise across
inputs, as a regression check sees it). `--sets 1` makes one set only
(`--runs 10 --seeds S --sets 1` is the ten-seed spread check). For each end-to-end metric it
prints each set's median and quartiles, the spread (q3 - q1) / median
and the second set's median against the first's, in the metric's
worse direction, next to the bound in BENCHMARK.json. Run from the
checkout root; each run's JSON line is kept in `.bench_run/steady/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def one_set(a, label, seconds):
    rows = []
    for k in range(a.runs):
        seed = a.seed if a.seeds is None else a.seeds + k
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True)
        wall = time.time() - t
        if p.returncode != 0:
            sys.exit(f"run failed ({p.returncode}):\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["wall_s"], r["seed"] = wall, seed
        rows.append(r)
        with open(os.path.join(".bench_run", "steady", f"{a.workload}.jsonl"), "a") as f:
            f.write(json.dumps(dict(r, set=label)) + "\n")
        print(f"set {label} run {k + 1} seed {seed}: {wall:.1f} s, "
              f"attempted {r['attempted']} failed {r['failed']} correct {r['correct']}",
              file=sys.stderr)
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=None)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    os.makedirs(os.path.join(".bench_run", "steady"), exist_ok=True)
    sets = [one_set(a, label, bench["run_seconds"]) for label in "AB"[:a.sets]]
    seeds = f"seeds {a.seeds}..{a.seeds + a.runs - 1}" if a.seeds is not None \
        else f"seed {a.seed}"
    print(f"{a.workload}: {a.sets} set(s) of {a.runs} runs, {seeds}; "
          f"wall per run median {statistics.median(r['wall_s'] for s in sets for r in s):.1f} s")
    fails = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
    print("failed share: " + "  ".join(f"{k} {f:.4f}" for k, f in zip("AB", fails)))
    print(f"{'metric':15} {'A median':>10} {'A q1..q3':>21} {'A spread':>8} "
          f"{'B median':>10} {'B spread':>8} {'B vs A':>7} {'bound':>6}")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        stats = []
        for s in sets:
            v = [r["metrics"][name]["value"] for r in s]
            q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
            stats.append((med, q1, q3, (q3 - q1) / med))
        line = f"{name:15} {stats[0][0]:10.4g} {stats[0][1]:10.4g}..{stats[0][2]:<10.4g} " \
               f"{stats[0][3]:8.3f} "
        if len(stats) == 2:
            worse = (stats[1][0] - stats[0][0]) / stats[0][0]
            if m["better"] == "higher":
                worse = -worse
            line += f"{stats[1][0]:10.4g} {stats[1][3]:8.3f} {worse:+7.3f} "
        else:
            line += f"{'':10} {'':8} {'':7} "
        print(line + f"{bound:6.2f}")


if __name__ == "__main__":
    main()
