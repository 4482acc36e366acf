"""Benchmark entry point.

    python3 perfbench/run.py --workload <table_query|serve_rw|ingest_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program if needed
(`build.py`), generates the seeded inputs (`gen.py`), runs the fixed
operation schedule in one JVM, checks every operation (`check.py`) and
prints one JSON line: with `--trace 0` the end-to-end metrics, with
`--trace 1` the per-layer metrics of a traced run.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Timed-phase rounds per second of --seconds, and warm-up rounds: a run is
# a fixed number of whole rounds, so the same --seconds gives the same
# operation counts on every seed and every box. A table_query round is one
# query of each kind (gen.TQ_KINDS); a serve_rw round is one compaction
# cycle (8 BM25 and 8 IVF reads, one write of each kind, both
# compactions); an ingest_stream round is one micro-batch. The warm-up of
# serve_rw is gen.SERVE_WARMUP_READS reads.
PLAN = {
    "table_query": {"rounds_per_s": 0.5, "warmup": 1},
    "serve_rw": {"rounds_per_s": 0.1, "warmup": 1},
    "ingest_stream": {"rounds_per_s": 0.6, "warmup": 3},
}
# The operation kinds each latency metric covers. A metric is the geometric
# mean, over its kinds, of each kind's median latency: every kind weighs the
# same whatever its count in a round, no median falls on the gap between
# two kinds, and a slowdown by a factor f of one of k kinds moves the metric
# by f ** (1 / k). A workload without operations of a metric's kinds
# reports its own primary metric under that name.
SERIES = {
    "query_p50_ms": gen.TQ_KINDS,
    "read_p50_ms": ["bm25_read", "ivf_read"],
    "write_p50_ms": gen.SERVE_WRITES + ["bm25_compact", "ivf_compact"],
    "batch_p50_ms": ["batch"],
}
PRIMARY = {"table_query": "query_p50_ms", "serve_rw": "read_p50_ms",
           "ingest_stream": "batch_p50_ms"}
PER_LAYER = [
    "driver.plan_ms", "driver.jobs_per_op", "stage.tasks_per_op", "stage.task_s_per_op",
    "stage.cpu_s_per_op", "stage.gc_s_per_op", "io.input_mb_per_op",
    "io.shuffle_mb_per_op", "io.files_read_per_op", "fs.read_ops_per_op",
    "fs.write_ops_per_op", "fs.mb_written_per_op", "core.call_ms", "search.load_ms",
    "search.load_hit_ratio", "search.query_ms", "search.upsert_ms", "search.delete_ms",
    "search.compact_ms", "similarity.load_ms", "similarity.query_ms",
    "similarity.upsert_ms", "similarity.delete_ms", "similarity.compact_ms",
    "streaming.trigger_ms", "streaming.sink_ms", "streaming.plan_ms",
    "streaming.log_ms", "state.commit_ms", "state.rows", "state.mb",
]
UNITS = {"ratio": ["search.load_hit_ratio"], "count": [
    "driver.jobs_per_op", "stage.tasks_per_op", "io.files_read_per_op",
    "fs.read_ops_per_op", "fs.write_ops_per_op", "state.rows"],
    "MB": ["io.input_mb_per_op", "io.shuffle_mb_per_op", "fs.mb_written_per_op",
           "state.mb"],
    "s": ["stage.task_s_per_op", "stage.cpu_s_per_op", "stage.gc_s_per_op"],
    "ms/op": ["driver.plan_ms", "core.call_ms"]}
JVM_TIMEOUT_S = 165


def unit_of(name):
    for u, names in UNITS.items():
        if name in names:
            return u
    return "ms"


def cores():
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def jvm_cmd(classes, jars, args, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = classes + ":" + os.path.join(jars, "*")
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def series_ms(lat, kinds):
    """Geometric mean of the per-kind median latencies; None without any."""
    meds = [statistics.median(lat[k]) for k in kinds if k in lat]
    return statistics.geometric_mean(meds) if meds else None


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes, jars = build.ensure(root)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    # set-up starts here: input generation, JVM and session start, artifact
    # builds and the first call of every operation type
    t0_ms = int(time.time() * 1000)
    plan = PLAN[a.workload]
    rounds = max(1, round(a.seconds * plan["rounds_per_s"]))
    run_dir = os.path.join(root, ".bench_run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "data", "out", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    ops = gen.generate(a.workload, a.seed, dirs["inputs"], plan["warmup"], rounds)
    cmd = jvm_cmd(classes, jars, [a.workload, dirs["inputs"], dirs["data"], dirs["out"],
                            str(t0_ms), str(a.trace), str(cores())], dirs["tmp"])
    rc = run_jvm(cmd, os.path.join(dirs["out"], "jvm.log"))
    result_path = os.path.join(dirs["out"], "result.json")
    if rc != 0 or not os.path.exists(result_path):
        print(f"JVM exited with {rc}; see {dirs['out']}/jvm.log", file=sys.stderr)
        return 3
    with open(result_path) as f:
        res = json.load(f)
    verdict = check.check(a.workload, dirs, ops)
    for p in verdict["problems"][:20]:
        print("check:", p, file=sys.stderr)
    if verdict["extra"]:
        print("check:", verdict["extra"], file=sys.stderr)

    if a.trace:
        metrics = {m: {"value": res["trace"][m], "unit": unit_of(m)} for m in PER_LAYER}
    else:
        lat = res["latency_ms"]
        primary = series_ms(lat, SERIES[PRIMARY[a.workload]])
        n = res["timed_ops"]
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "ops_per_s": {"value": n / res["timed_wall_s"], "unit": "1/s"},
        }
        for m, kinds in SERIES.items():
            v = series_ms(lat, kinds)
            metrics[m] = {"value": primary if v is None else v, "unit": "ms"}
        metrics["cpu_ms_per_op"] = {"value": res["cpu_s"] * 1000 / n, "unit": "ms"}
        metrics["heap_mb"] = {"value": res["heap_mb"], "unit": "MB"}
        # what the program wrote: data/ less the streaming feed, which the
        # harness fills; table_query writes nothing and reports its inputs
        disk = du(dirs["inputs"]) if a.workload == "table_query" else \
            du(dirs["data"]) - du(os.path.join(dirs["data"], "feed"))
        metrics["disk_mb"] = {"value": disk / 1e6, "unit": "MB"}
    print(json.dumps({"correct": verdict["correct"], "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
