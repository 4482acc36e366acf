"""Seeded input generator for the three workloads.

Everything a run feeds the program is made here from ``--seed``: the
tables, the operation schedule (set-up calls, warm-up, timed phase) and
the labels the checker compares against. The same seed writes
byte-identical files; ``selftest.py`` checks that.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One round of each workload is a fixed sequence of operations; a run is
# a whole number of rounds, so counts and sizes repeat exactly.
# A round runs each kind once, in this order: every kind carries the same
# weight, as each query does once per stream in TPC-H's power test, and
# the latency metric takes a median per kind (see run.py). Rounds keep
# this order on every seed; the seed draws the parameters.
TQ_KINDS = ["point", "where", "join", "groupby", "pivot", "topn"]

# serve_rw: the BM25 corpus is an sf0.1-sized document table widened
# WIDEN times in process with word-suffixed copies.
SERVE_BASE_DOCS = 5000
WIDEN = 2
SERVE_VECS = 4000
DIMS = 64
VEC_CLUSTERS = 16
IVF_CENTROIDS = 8
IVF_PROBES = 4
IVF_ITERS = 1
# bucket count of the BM25 postings and the shingle index: one file per
# bucket and writer task, so at this corpus size 8 keeps files from
# being tiny while reads still prune to the query's buckets
BUCKETS = 8
UPSERT_DOCS = 16
UPSERT_VECS = 16
DELETE_IDS = 4
# One serve_rw round is a compaction cycle. The mix is mostly reads, one
# write per READS_PER_WRITE reads, with one weight per kind: the BM25 and
# the IVF read alike, the four write kinds alike (each once a round), and
# both compactions once a round, every four writes. The compactions sit
# between the two halves of the round, so the reads that follow them are
# timed and every round ends at the same point of the cycle. The round has
# the same shape on every seed; the seed draws every query, id and document.
SERVE_WRITES = ["bm25_upsert", "ivf_upsert", "bm25_delete", "ivf_delete"]
READS_PER_WRITE = 4
SERVE_WARMUP_READS = 2

# ingest_stream: the label shares of a 100-document micro-batch
SHARES = {"fresh": 50, "recrawl": 10, "repeat": 10, "neardup": 15, "fail": 15}
INGEST_CORPUS_DOCS = 5000
BATCH_MINUTES = 10
WATERMARK = "10 minutes"

SERVE_WORDS = ("batch part spark line column order small sort fast value scan "
               "a hash slow group agg filter query big key window row table "
               "stream merge data join vector customer the").split()
STOPWORDS = ["the", "a", "of", "and", "to"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, lo, hi, n):
    return rng.integers(lo, hi, n).astype("int32")


# ---------------------------------------------------------------- table_query

def gen_table_query(rng, out, n_warm, n_timed):
    n_cust, n_ord = 15000, 150000
    cust = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": rng.integers(-99999, 999999, n_cust) / 100.0,
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    d0 = 8035  # 1992-01-01 as days since epoch
    odate = _days(rng, d0, d0 + 7 * 365, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": rng.integers(100000, 50000000, n_ord) / 100.0,
        "o_orderdate": pa.array(odate, pa.date32()),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20000, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, 1000, n_li).astype("int64"),
        "l_linenumber": lnum.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": rng.integers(90000, 10500000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, n_li).astype("int32"),
                               pa.date32()),
    })
    _write(cust, os.path.join(out, "customer.parquet"))
    _write(orders, os.path.join(out, "orders.parquet"))
    _write(lineitem, os.path.join(out, "lineitem.parquet"))

    def params(kind):
        if kind == "point":
            return {"key": int(rng.integers(0, n_ord))}
        if kind == "where":
            lo = int(rng.integers(0, n_ord - 300))
            return {"lo": lo, "hi": lo + 300, "qty": 25}
        if kind == "join":
            lo = int(rng.integers(0, n_cust - 10))
            return {"lo": lo, "hi": lo + 10}
        if kind == "groupby":
            y = int(rng.integers(1992, 1999))
            return {"from": f"{y}-01-01", "to": f"{y}-12-31"}
        if kind == "pivot":
            y = int(rng.integers(1992, 1999))
            m = int(rng.integers(1, 10))
            return {"from": f"{y}-{m:02d}-01", "to": f"{y}-{m + 3:02d}-01"}
        if kind == "topn":
            return {"supp": int(rng.integers(0, 1000))}
        raise ValueError(kind)

    ops = []
    for phase, rounds in (("setup", 1), ("warmup", n_warm),
                          ("timed", n_timed)):
        for _ in range(rounds):
            ops += [{"phase": phase, "kind": k, "p": params(k)} for k in TQ_KINDS]
    return ops


# ------------------------------------------------------------------- serve_rw

def _serve_text(rng, n_words, widened=False):
    """Base-vocabulary words; widened, each with the `_<copy>` suffix of a
    random copy, like the documents the JVM widens in process."""
    idx = rng.integers(0, len(SERVE_WORDS), n_words)
    if not widened:
        return " ".join(SERVE_WORDS[i] for i in idx)
    copies = rng.integers(0, WIDEN, n_words)
    return " ".join(f"{SERVE_WORDS[i]}_{c}" for i, c in zip(idx, copies))


def _vectors(rng, centers, n):
    lab = rng.integers(0, len(centers), n)
    v = centers[lab] + rng.normal(0.0, 0.12, (n, DIMS))
    return v.astype("float32"), lab.astype("int32")


def gen_serve(rng, out, n_warm, n_timed):
    texts = [_serve_text(rng, int(rng.integers(10, 70)))
             for _ in range(SERVE_BASE_DOCS)]
    docs = pa.table({
        "doc_id": np.arange(SERVE_BASE_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], SERVE_BASE_DOCS),
        "source": [f"src{i % 20}" for i in range(SERVE_BASE_DOCS)],
    })
    _write(docs, os.path.join(out, "documents.parquet"))
    centers = rng.normal(0.0, 1.0, (VEC_CLUSTERS, DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, labels = _vectors(rng, centers, SERVE_VECS)
    emb = pa.table({
        "vec_id": np.arange(SERVE_VECS, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    _write(emb, os.path.join(out, "embeddings.parquet"))

    live_docs = [b * WIDEN + c for b in range(SERVE_BASE_DOCS) for c in range(WIDEN)]
    live_vecs = list(range(SERVE_VECS))
    next_id = {"doc": 10_000_000, "vec": 10_000_000}

    def bm25_read():
        terms = rng.choice(len(SERVE_WORDS), int(rng.integers(1, 4)), replace=False)
        copies = rng.integers(0, WIDEN, len(terms))
        return {"kind": "bm25_read", "p": {"query": " ".join(
            f"{SERVE_WORDS[t]}_{c}" for t, c in zip(terms, copies))}}

    def ivf_read():
        base = vecs[int(rng.integers(0, SERVE_VECS))].astype("float64")
        q = base + rng.normal(0.0, 0.05, DIMS)
        return {"kind": "ivf_read", "p": {"query": [float(x) for x in q]}}

    def pick(live, n):
        at = sorted(rng.choice(len(live), n, replace=False), reverse=True)
        return [int(live.pop(i)) for i in at]

    def write(kind):
        if kind == "bm25_upsert":
            ids = list(range(next_id["doc"], next_id["doc"] + UPSERT_DOCS))
            next_id["doc"] += UPSERT_DOCS
            live_docs.extend(ids)
            return {"kind": kind, "p": {"ids": ids, "texts": [
                _serve_text(rng, int(rng.integers(10, 70)), widened=True) for _ in ids]}}
        if kind == "ivf_upsert":
            ids = list(range(next_id["vec"], next_id["vec"] + UPSERT_VECS))
            next_id["vec"] += UPSERT_VECS
            live_vecs.extend(ids)
            v, lab = _vectors(rng, centers, UPSERT_VECS)
            return {"kind": kind, "p": {"ids": ids, "labels": [int(x) for x in lab],
                                        "vecs": [[float(x) for x in row] for row in v]}}
        if kind == "bm25_delete":
            return {"kind": kind, "p": {"ids": pick(live_docs, DELETE_IDS)}}
        if kind == "ivf_delete":
            return {"kind": kind, "p": {"ids": pick(live_vecs, DELETE_IDS)}}
        raise ValueError(kind)

    ops = []
    # set-up: the first call of every operation type
    for k in ["bm25_read", "ivf_read"] + SERVE_WRITES + ["bm25_compact", "ivf_compact"]:
        op = bm25_read() if k == "bm25_read" else ivf_read() if k == "ivf_read" \
            else {"kind": k, "p": {}} if k.endswith("compact") else write(k)
        ops.append(dict(op, phase="setup"))
    for r in range(n_warm * SERVE_WARMUP_READS):
        ops.append(dict(bm25_read() if r % 3 else ivf_read(), phase="warmup"))

    def reads_then(k):
        return [bm25_read() if r % 2 == 0 else ivf_read()
                for r in range(READS_PER_WRITE)] + [write(k)]

    compactions = [{"kind": "bm25_compact", "p": {}}, {"kind": "ivf_compact", "p": {}}]
    for _ in range(n_timed):
        cycle = reads_then(SERVE_WRITES[0]) + reads_then(SERVE_WRITES[1]) + compactions + \
            reads_then(SERVE_WRITES[2]) + reads_then(SERVE_WRITES[3])
        ops += [dict(op, phase="timed") for op in cycle]
    return ops


# -------------------------------------------------------------- ingest_stream

def _pseudo_words(rng, n, first):
    """n distinct lowercase words that all start with `first`, so two
    vocabularies with different first letters share no word."""
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = first + "".join(letters[rng.integers(0, len(letters))] +
                            vowels[rng.integers(0, len(vowels))] for _ in range(k))
        words.add(w)
    return sorted(words)


def _ingest_text(rng, vocab, n_words):
    """Content words with a stopword between some of them, never two
    stopwords in a row: every 3-word shingle holds a content word, so
    texts over disjoint vocabularies share no shingle."""
    out = []
    for i in range(n_words):
        out.append(vocab[int(rng.integers(0, len(vocab)))])
        if i % 6 == 2:
            out.append(STOPWORDS[int(rng.integers(0, len(STOPWORDS)))])
    return " ".join(out)


def gen_ingest(rng, out, n_warm, n_timed):
    corpus_vocab = _pseudo_words(rng, 600, "k")
    fresh_vocab = _pseudo_words(rng, 4000, "q")
    corpus_texts = [_ingest_text(rng, corpus_vocab, int(rng.integers(24, 60)))
                    for _ in range(INGEST_CORPUS_DOCS)]
    _write(pa.table({"doc_id": np.arange(INGEST_CORPUS_DOCS, dtype="int64"),
                     "text": corpus_texts}), os.path.join(out, "corpus.parquet"))
    staging = os.path.join(out, "staging")
    os.makedirs(staging)
    seen = set(corpus_texts)

    def fresh_text(n_words):
        while True:
            t = _ingest_text(rng, fresh_vocab, n_words)
            if t not in seen:
                seen.add(t)
                return t

    n_batches = 1 + n_warm + n_timed
    phases = ["setup"] + ["warmup"] * n_warm + ["timed"] * n_timed
    ops, prev_fresh, next_id = [], [], 1_000_000
    t0 = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z in µs
    for b in range(n_batches):
        rows = []  # (text, label)
        n_repeat = SHARES["repeat"] if prev_fresh else 0
        for _ in range(SHARES["fresh"] + SHARES["repeat"] - n_repeat):
            rows.append((fresh_text(int(rng.integers(24, 60))), "fresh"))
        for i in rng.choice(len(prev_fresh), n_repeat, replace=False) if n_repeat else []:
            rows.append((prev_fresh[i], "repeat"))
        picks = rng.choice(INGEST_CORPUS_DOCS, SHARES["recrawl"] + SHARES["neardup"],
                           replace=False).tolist()
        rows += [(corpus_texts[i], "recrawl") for i in picks[:SHARES["recrawl"]]]
        for i in picks[SHARES["recrawl"]:]:
            ws = corpus_texts[i].split(" ")
            ws[len(ws) // 2] = fresh_vocab[int(rng.integers(0, len(fresh_vocab)))]
            rows.append((" ".join(ws), "neardup"))
        for j in range(SHARES["fail"]):
            t = fresh_text(int(rng.integers(24, 60)))
            # a control character fails the encoding scan; a text without
            # stopwords and with long words fails the quality score
            rows.append((t + " \u0007" if j % 2 == 0 else
                         " ".join(w * 4 for w in t.split(" ") if w not in STOPWORDS),
                         "fail"))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        ids = list(range(next_id, next_id + len(rows)))
        next_id += len(rows)
        ts = t0 + (b * BATCH_MINUTES * 60 + rng.integers(0, BATCH_MINUTES * 60, len(rows))) \
            * 1_000_000
        name = f"batch_{b:05d}.parquet"
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": [r[0] for r in rows],
                         "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
               os.path.join(staging, name))
        labels = [r[1] for r in rows]
        ops.append({"phase": phases[b], "kind": "batch", "p": {
            "file": name, "ids": ids, "labels": labels}})
        prev_fresh = [r[0] for r in rows if r[1] == "fresh"]
    return ops


GENERATORS = {"table_query": gen_table_query, "serve_rw": gen_serve,
              "ingest_stream": gen_ingest}


def generate(workload, seed, out, n_warm, n_timed):
    """Write the inputs, `config.json` (the parameters the harness shares
    with the generator) and `schedule.jsonl` for one run into `out`."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "config.json"), "w") as f:
        json.dump({"widen": WIDEN, "ivf_centroids": IVF_CENTROIDS, "ivf_probes": IVF_PROBES,
                   "ivf_iters": IVF_ITERS, "buckets": BUCKETS,
                   "watermark": WATERMARK}, f, sort_keys=True)
    rng = np.random.default_rng(seed)
    ops = GENERATORS[workload](rng, out, n_warm, n_timed)
    with open(os.path.join(out, "schedule.jsonl"), "w") as f:
        for i, op in enumerate(ops):
            op["i"] = i
            f.write(json.dumps(op, sort_keys=True) + "\n")
    return ops
