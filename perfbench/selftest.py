"""Checks of the generator and the checker themselves.

    python3 perfbench/selftest.py

1. The same seed writes byte-identical inputs; another seed writes
   different ones (every workload).
2. For each workload whose last run is still in `.bench_run/<workload>`,
   the checker accepts that run and rejects tampered copies of its
   results: a deleted id injected, two ranks of different score swapped,
   a value changed, a row dropped, a wrongly admitted document.
Run from the checkout root after one run of each workload.
"""
import copy
import hashlib
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.join(".bench_run", "selftest")


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def generator_checks():
    ok = True
    for w in gen.GENERATORS:
        ds = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(ROOT, f"gen_{w}_{tag}")
            shutil.rmtree(d, ignore_errors=True)
            gen.generate(w, seed, d, 1, 2)
            ds.append(digest(d))
        same, differs = ds[0] == ds[1], ds[0] != ds[2]
        ok &= same and differs
        print(f"generator {w}: same seed identical={same}, other seed differs={differs}")
    return ok


def load(w):
    run = os.path.join(".bench_run", w)
    dirs = {k: os.path.join(run, k) for k in ("inputs", "data", "out", "tmp")}
    if not os.path.exists(os.path.join(dirs["out"], "oplog.jsonl")):
        return None
    ops = [json.loads(line) for line in open(os.path.join(dirs["inputs"], "schedule.jsonl"))]
    log = {}
    for line in open(os.path.join(dirs["out"], "oplog.jsonl")):
        r = json.loads(line)
        log[r["i"]] = r
    return dirs, ops, log


def verdict(w, dirs, ops, log):
    bad, extra = check.CHECKS[w](dirs, ops, log)
    return bad, extra


def first(ops, kind, pred=lambda op: True):
    return next(op for op in ops if op["kind"] == kind and op["phase"] == "timed" and pred(op))


def tamper_cases(w, dirs, ops, log):
    """(description, op index expected to fail, tampered log) triples."""
    cases = []
    if w == "table_query":
        op = first(ops, "topn")
        t = copy.deepcopy(log)
        t[op["i"]]["result"][0][2] += 0.01
        cases.append(("topn: a price changed", op["i"], t))
        op = first(ops, "join")
        t = copy.deepcopy(log)
        t[op["i"]]["result"] = t[op["i"]]["result"][1:]
        cases.append(("join: a row dropped", op["i"], t))
        op = first(ops, "topn")
        t = copy.deepcopy(log)
        r = t[op["i"]]["result"]
        r[0], r[-1] = r[-1], r[0]
        cases.append(("topn: first and last rank swapped", op["i"], t))
    elif w == "serve_rw":
        deleted = next(op["p"]["ids"][0] for op in ops if op["kind"] == "bm25_delete")
        late = [op for op in ops if op["kind"] == "bm25_read" and op["phase"] == "timed"
                and op["i"] > next(o["i"] for o in ops if o["kind"] == "bm25_delete")]
        op = late[0]
        t = copy.deepcopy(log)
        t[op["i"]]["result"][-1] = deleted
        cases.append((f"bm25: deleted doc {deleted} injected", op["i"], t))
        op = first(ops, "bm25_read", lambda o: len(log[o["i"]]["result"]) == 10)
        t = copy.deepcopy(log)
        r = t[op["i"]]["result"]
        r[0], r[9] = r[9], r[0]
        cases.append(("bm25: ranks 1 and 10 swapped", op["i"], t))
        op = first(ops, "ivf_read")
        t = copy.deepcopy(log)
        t[op["i"]]["result"][0][1] += 1e-6
        cases.append(("ivf: a cosine changed by 1e-6", op["i"], t))
        vdel = next(op["p"]["ids"][0] for op in ops if op["kind"] == "ivf_delete")
        op = [o for o in ops if o["kind"] == "ivf_read" and o["phase"] == "timed"
              and o["i"] > next(x["i"] for x in ops if x["kind"] == "ivf_delete")][0]
        t = copy.deepcopy(log)
        t[op["i"]]["result"][-1][0] = vdel
        cases.append((f"ivf: deleted vector {vdel} injected", op["i"], t))
    return cases


def ingest_tamper(dirs, ops, log):
    """Copy the run's sink output and add one re-crawled document to the
    curation sink's segment of a timed batch."""
    d = dict(dirs, data=os.path.join(ROOT, "ingest_data"))
    shutil.rmtree(d["data"], ignore_errors=True)
    shutil.copytree(dirs["data"], d["data"], ignore=shutil.ignore_patterns("feed", "ckpt_*"))
    op = next(o for o in ops if o["phase"] == "timed")
    doc = next(i for i, lab in zip(op["p"]["ids"], op["p"]["labels"]) if lab == "recrawl")
    seg = os.path.join(d["data"], "out_curation", "batch=999999")
    os.makedirs(seg)
    pq.write_table(pa.table({"doc_id": pa.array([doc], pa.int64())}),
                   os.path.join(seg, "part-0.parquet"))
    return d, op["i"], doc


def main():
    ok = generator_checks()
    for w in check.CHECKS:
        loaded = load(w)
        if loaded is None:
            print(f"checker {w}: no run in .bench_run/{w}; run the workload first")
            ok = False
            continue
        dirs, ops, log = loaded
        bad, _ = verdict(w, dirs, ops, log)
        print(f"checker {w}: the run's own results: {len(bad)} failed")
        ok &= not bad
        if w == "ingest_stream":
            d, i, doc = ingest_tamper(dirs, ops, log)
            bad, _ = verdict(w, d, ops, log)
            hit = i in bad
            print(f"checker {w}: re-crawled doc {doc} admitted by curation -> rejected={hit}")
            ok &= hit
            continue
        for what, i, t in tamper_cases(w, dirs, ops, log):
            bad, _ = verdict(w, dirs, ops, t)
            print(f"checker {w}: {what} -> rejected={i in bad}")
            ok &= i in bad
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
