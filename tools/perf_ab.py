"""Interleaved A/B runs of the repo benchmark across two checkouts.

    python3 tools/perf_ab.py --a ../parent --b . --workload ingest_stream --seeds 1-5
    python3 tools/perf_ab.py --a ../parent --b . --workload serve_rw --seeds 21,22,23 --trace 1

For each seed it runs `perfbench/run.py` once in each checkout, unchanged
and from that checkout's root, alternating which side goes first (A first
on the 1st, 3rd, ... seed, B first on the others), so a drift of the box
over the session lands on both sides alike. Each run's JSON line is
appended, with its side and seed, to `--log`.

It then prints, per metric of BENCHMARK.json (the end-to-end metrics, or
the per-layer ones with `--trace 1`): each side's median, B's median
against A's in the metric's worse direction (+ is worse), A's quartile
spread (q3 - q1) / median, the number of pairs B wins, and the bound.
Runs that are not `correct` or that failed operations are flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(side, root, a, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(a.trace)],
                       cwd=root, capture_output=True, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        print(f"{side} seed {seed}: run.py exited {p.returncode}\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r.update(side=side, seed=seed, wall_s=round(wall, 1), workload=a.workload, trace=a.trace)
    with open(a.log, "a") as f:
        f.write(json.dumps(r) + "\n")
    print(f"{side} seed {seed}: {wall:.1f} s, attempted {r['attempted']} "
          f"failed {r['failed']} correct {r['correct']}", file=sys.stderr)
    return r


def quartiles(v):
    return statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout of the base side (the parent)")
    ap.add_argument("--b", required=True, help="checkout of the changed side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-5 or 1,3,21-25")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--log", default=os.path.join(".bench_run", "perf_ab.jsonl"))
    a = ap.parse_args()
    a.a, a.b, a.log = os.path.abspath(a.a), os.path.abspath(a.b), os.path.abspath(a.log)
    os.makedirs(os.path.dirname(a.log), exist_ok=True)
    bench = json.load(open(os.path.join(a.b, "BENCHMARK.json")))
    pairs = []
    for k, seed in enumerate(seeds_of(a.seeds)):
        order = [("A", a.a), ("B", a.b)] if k % 2 == 0 else [("B", a.b), ("A", a.a)]
        got = {side: run_one(side, root, a, seed, bench["run_seconds"]) for side, root in order}
        if None in got.values():
            sys.exit(f"seed {seed}: a run did not finish; see the messages above")
        pairs.append((seed, got["A"], got["B"]))

    print(f"{a.workload}: {len(pairs)} interleaved pairs, seeds {a.seeds}, "
          f"{'traced' if a.trace else 'untraced'}; A = {a.a}, B = {a.b}")
    for side in "AB":
        runs = [p[1 if side == "A" else 2] for p in pairs]
        bad = [r["seed"] for r in runs if not r["correct"] or r["failed"]]
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        print(f"side {side}: failed {failed}/{attempted} operations"
              + (f"; NOT CORRECT OR FAILED OPS on seeds {bad}" if bad else "; all runs correct"))
    metrics = bench["per_layer"] if a.trace else bench["end_to_end"]
    print(f"{'metric':22} {'A median':>10} {'B median':>10} {'B vs A':>7} "
          f"{'A spread':>8} {'B wins':>7} {'bound':>6}")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        va = [p[1]["metrics"][name]["value"] for p in pairs]
        vb = [p[2]["metrics"][name]["value"] for p in pairs]
        ma, mb = statistics.median(va), statistics.median(vb)
        q1, _, q3 = quartiles(va)
        worse = (mb - ma) / ma if ma else 0.0
        if higher:
            worse = -worse
        wins = sum((y > x) if higher else (y < x) for x, y in zip(va, vb))
        bound = m.get("bound")
        flag = "  WORSE THAN BOUND" if bound is not None and worse > bound else ""
        print(f"{name:22} {ma:10.4g} {mb:10.4g} {worse:+7.3f} "
              f"{(q3 - q1) / ma if ma else 0.0:8.3f} {wins:>3}/{len(pairs):<3} "
              f"{'' if bound is None else bound:>6}{flag}")


if __name__ == "__main__":
    main()
