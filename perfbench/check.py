"""Correctness checks, computed apart from the program.

- table_query: every query is re-run in DuckDB on the same parquet.
- serve_rw: BM25 top-10 against a DuckDB BM25 over the corpus live at that
  read (base plus upserted minus deleted); IVF results against cosines
  recomputed with numpy, live ids only, and recall@10 against the exact
  top-10 above RECALL_FLOOR over the run.
- ingest_stream: each query's admitted ids per micro-batch against the
  generator's labels.

`check(...)` returns the counts the benchmark prints; every operation that
threw or failed its check is failed. A failure outside the timed phase
makes the run incorrect.
"""
import glob
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

REL_TOL = 1e-9
# Mean IVF recall@10 over a run. Queries are perturbed corpus vectors from
# gen.VEC_CLUSTERS (16) well-separated clusters and gen.IVF_PROBES (4) of
# gen.IVF_CENTROIDS (8) cells are probed, so a correct IVF finds nearly
# all exact neighbours; a probe-selection or assignment fault drops whole
# cells and the mean falls far below this.
RECALL_FLOOR = 0.9


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _rows_equal(got, want, ordered):
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


# ---------------------------------------------------------------- table_query

TQ_SQL = {
    "point": "SELECT * FROM orders WHERE o_orderkey = {key}",
    "where": """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi} AND l_quantity > {qty}""",
    "join": """SELECT c_custkey, c_name, o_orderkey, o_orderdate, l_linenumber,
            l_extendedprice
        FROM customer JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_custkey BETWEEN {lo} AND {hi}""",
    "groupby": """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity),
            sum(l_extendedprice), avg(l_discount)
        FROM lineitem WHERE l_shipdate BETWEEN DATE '{from}' AND DATE '{to}'
        GROUP BY ALL ORDER BY 1, 2""",
    "pivot": """WITH f AS (SELECT * FROM orders
            WHERE o_orderdate >= DATE '{from}' AND o_orderdate < DATE '{to}'),
          cells AS (SELECT o_orderstatus, o_orderpriority, count(*) AS c FROM f GROUP BY ALL),
          a AS (SELECT DISTINCT o_orderstatus FROM cells),
          b AS (SELECT DISTINCT o_orderpriority FROM cells)
        SELECT a.o_orderstatus, b.o_orderpriority, coalesce(c, 0)
        FROM a CROSS JOIN b LEFT JOIN cells USING (o_orderstatus, o_orderpriority)
        ORDER BY 1, 2""",
    "topn": """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        WHERE l_suppkey = {supp}
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""",
}
TQ_ORDERED = {"point": True, "where": False, "join": False, "groupby": True,
              "pivot": True, "topn": True}


def _norm(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def check_table_query(dirs, ops, log):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(dirs['inputs'], t + '.parquet')}')")
    bad = {}
    for op in ops:
        rec = log[op["i"]]
        if "error" in rec:
            bad[op["i"]] = rec["error"]
            continue
        want = [[_norm(v) for v in r] for r in
                con.execute(TQ_SQL[op["kind"]].format(**op["p"])).fetchall()]
        if not _rows_equal(rec["result"], want, TQ_ORDERED[op["kind"]]):
            bad[op["i"]] = f"{op['kind']} {op['p']}: {len(rec['result'])} rows " \
                           f"differ from DuckDB's {len(want)}"
    return bad, {}


# ------------------------------------------------------------------- serve_rw

BM25_SQL = """
WITH q(word) AS (SELECT unnest(?::VARCHAR[])),
  lp AS (SELECT p.* FROM post p SEMI JOIN live USING (doc_id)),
  stats AS (SELECT count(*)::DOUBLE AS n, sum(doclen)::DOUBLE / count(*) AS avglen
            FROM lens SEMI JOIN live USING (doc_id)),
  tf AS (SELECT lp.* FROM lp SEMI JOIN q USING (word)),
  dfreq AS (SELECT word, count(*)::DOUBLE AS df FROM tf GROUP BY word),
  scored AS (
    SELECT tf.doc_id, sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (tf.tf * 2.2)
        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / s.avglen))) AS bm25
    FROM tf JOIN dfreq d USING (word) CROSS JOIN stats s GROUP BY tf.doc_id)
SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 40
"""


def _check_ranking(got, oracle, live):
    """`got` ids in rank order against the oracle's (id, score) ranking:
    same length, live distinct ids, and rank i's score equal to the oracle's
    score at rank i (so ties may permute, nothing else may)."""
    want = oracle[:10]
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    if len(set(got)) != len(got):
        return "duplicate ids"
    dead = [i for i in got if i not in live]
    if dead:
        return f"ids not live: {dead}"
    score = dict(oracle)
    for r, (i, (_, s)) in enumerate(zip(got, want)):
        if i not in score or not math.isclose(score[i], s, rel_tol=REL_TOL):
            return f"rank {r + 1}: id {i} scores {score.get(i)}, oracle {s}"
    return None


def check_serve(dirs, ops, log):
    con = duckdb.connect()
    docs = os.path.join(dirs["inputs"], "documents.parquet")
    con.execute(f"""CREATE TABLE docs AS
        SELECT doc_id * {gen.WIDEN} + i AS doc_id,
               regexp_replace(text, '(\\S+)', '\\1_' || i, 'g') AS text
        FROM read_parquet('{docs}') CROSS JOIN range({gen.WIDEN}) t(i)""")
    con.execute("CREATE TABLE post (doc_id BIGINT, word VARCHAR, tf BIGINT, doclen BIGINT)")
    con.execute("CREATE TABLE lens (doc_id BIGINT, doclen BIGINT)")
    con.execute("CREATE TABLE live (doc_id BIGINT PRIMARY KEY)")

    def add_docs(table):
        con.execute(f"""INSERT INTO post SELECT doc_id, w, count(*), any_value(dl) FROM
            (SELECT doc_id, w, count(*) OVER (PARTITION BY doc_id) AS dl FROM
              (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM {table}) WHERE w <> '') GROUP BY doc_id, w""")
        con.execute(f"""INSERT INTO lens SELECT d.doc_id, coalesce(max(p.doclen), 0)
            FROM {table} d LEFT JOIN post p USING (doc_id) GROUP BY d.doc_id""")
        con.execute(f"INSERT INTO live SELECT doc_id FROM {table}")

    add_docs("docs")
    live_docs = set(i for (i,) in con.execute("SELECT doc_id FROM docs").fetchall())
    emb = pq.read_table(os.path.join(dirs["inputs"], "embeddings.parquet"))
    vecs = {int(i): np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in
            zip(emb.column("vec_id").to_pylist(), emb.column("embedding").to_pylist())}
    live_vecs = set(vecs)
    bad, recalls = {}, []
    for op in ops:
        i, kind, p = op["i"], op["kind"], op["p"]
        rec = log[i]
        # writes change the live sets whether or not they threw: a failed
        # write is already counted, later reads are judged on the intent
        if kind == "bm25_upsert":
            con.execute("CREATE OR REPLACE TEMP TABLE delta AS "
                        "SELECT unnest(?::BIGINT[]) AS doc_id, unnest(?::VARCHAR[]) AS text",
                        [p["ids"], p["texts"]])
            add_docs("delta")
            live_docs.update(p["ids"])
        elif kind == "bm25_delete":
            con.execute("DELETE FROM live WHERE doc_id IN (SELECT unnest(?::BIGINT[]))",
                        [p["ids"]])
            live_docs.difference_update(p["ids"])
        elif kind == "ivf_upsert":
            for vid, v in zip(p["ids"], p["vecs"]):
                vecs[vid] = np.asarray(v, dtype=np.float32).astype(np.float64)
            live_vecs.update(p["ids"])
        elif kind == "ivf_delete":
            live_vecs.difference_update(p["ids"])
        if "error" in rec:
            bad[i] = rec["error"]
            continue
        if kind == "bm25_read":
            oracle = con.execute(BM25_SQL, [p["query"].split()]).fetchall()
            why = _check_ranking(rec["result"], oracle, live_docs)
            if why:
                bad[i] = f"bm25 '{p['query']}': {why}"
        elif kind == "ivf_read":
            why, recall = _check_ivf(rec["result"], p["query"], vecs, live_vecs)
            recalls.append(recall)
            if why:
                bad[i] = f"ivf: {why}"
    extra = {"ivf_mean_recall": float(np.mean(recalls)) if recalls else None}
    if recalls and extra["ivf_mean_recall"] < RECALL_FLOOR:
        extra["run_problem"] = f"IVF mean recall@10 {extra['ivf_mean_recall']:.3f} " \
                               f"below {RECALL_FLOOR}"
    return bad, extra


def _check_ivf(result, query, vecs, live):
    q = np.asarray(query, dtype=np.float64)
    ids = sorted(live)
    m = np.stack([vecs[i] for i in ids])
    cos = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    exact = [ids[j] for j in np.lexsort((ids, -cos))[:10]]
    got = [int(r[0]) for r in result]
    recall = len(set(got) & set(exact)) / 10.0
    if not got or len(got) > 10 or len(set(got)) != len(got):
        return f"{len(got)} results or duplicates", recall
    dead = [i for i in got if i not in live]
    if dead:
        return f"ids not live: {dead}", recall
    by_id = dict(zip(ids, cos))
    for vid, c in result:
        if not math.isclose(c, by_id[int(vid)], rel_tol=1e-9, abs_tol=1e-12):
            return f"id {vid} cosine {c}, exact {by_id[int(vid)]}", recall
    scores = [c for _, c in result]
    if any(a < b for a, b in zip(scores, scores[1:])):
        return "not ranked by cosine", recall
    return None, recall


# -------------------------------------------------------------- ingest_stream

ADMITS = {"out_curation": {"fresh", "neardup"},
          "out_neardup": {"fresh", "repeat", "fail"}}


def _admitted(path):
    files = sorted(glob.glob(os.path.join(path, "batch=*", "*.parquet")))
    if not files:
        return set()
    return set(duckdb.sql(f"SELECT doc_id FROM read_parquet({files!r})")
               .fetchnumpy()["doc_id"].tolist())


def check_ingest(dirs, ops, log):
    got = {sink: _admitted(os.path.join(dirs["data"], sink)) for sink in ADMITS}
    bad = {}
    for op in ops:
        i, p = op["i"], op["p"]
        if "error" in log[i]:
            bad[i] = log[i]["error"]
            continue
        ids = set(p["ids"])
        for sink, admits in ADMITS.items():
            want = {d for d, lab in zip(p["ids"], p["labels"]) if lab in admits}
            have = got[sink] & ids
            if have != want:
                bad[i] = f"{sink}: {len(have - want)} admitted wrongly, " \
                         f"{len(want - have)} missing"
    return bad, {}


CHECKS = {"table_query": check_table_query, "serve_rw": check_serve,
          "ingest_stream": check_ingest}


def check(workload, dirs, ops):
    log = {}
    with open(os.path.join(dirs["out"], "oplog.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            log[r["i"]] = r
    missing = [op["i"] for op in ops if op["i"] not in log]
    problems = [f"operations never ran: {missing[:5]}"] if missing else []
    ops_ran = [op for op in ops if op["i"] in log]
    bad, extra = CHECKS[workload](dirs, ops_ran, log)
    if extra.get("run_problem"):
        problems.append(extra["run_problem"])
    timed = [op for op in ops if op["phase"] == "timed"]
    failed = sum(1 for op in timed if op["i"] in bad or op["i"] not in log)
    untimed_bad = [i for i in bad if ops[i]["phase"] != "timed"]
    problems += [f"op {i} ({ops[i]['kind']}): {bad[i]}" for i in sorted(bad)]
    return {"correct": not untimed_bad and not missing and not extra.get("run_problem"),
            "attempted": len(timed), "failed": failed, "problems": problems,
            "extra": extra}
