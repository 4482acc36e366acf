package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

import Fixtures._

/** Vector similarity gates: brute-force, LSH, IVF and PQ top-k, their
  * persisted artifacts' lifecycle (serve, upsert, compact, catch-up,
  * delete, reclaim, streamed segments), the batch recall gates,
  * filtered search, MaxSim and MMR re-ranking. */
object SimilarityGates extends Family {

  /** Shared by the three BATCH ANN recall gates (q_sim_ivf_batch /
    * q_sim_lsh_batch / q_sim_pq_batch): the per-query exact cosine
    * top-10 for the 3-query workload — each gate's batch ANN top-30
    * must contain it, per query. */
  private val annBatchExactTop10Sql: String =
    """WITH qv AS (
      |  SELECT (vec_id + 1)::INT AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id <= 2
      |), scored AS (
      |  SELECT q.qid, e.vec_id,
      |    list_dot_product(e.embedding::DOUBLE[], q.qv)
      |     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |        * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      |  FROM embeddings e CROSS JOIN qv q
      |), ranked AS (
      |  SELECT qid, vec_id, cosine,
      |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS r
      |  FROM scored)
      |SELECT qid, vec_id, cosine FROM ranked
      |WHERE r <= 10 ORDER BY qid, cosine DESC, vec_id""".stripMargin

  /** Shared by the nine ANN recall gates (q_sim_lsh / q_sim_ivf /
    * q_sim_pq, their `_serve` variants over persisted indexes, and the
    * incremental `_upsert` gates over delta-appended artifacts) — each
    * gate must contain exactly this exact cosine top-10 inside its ANN
    * top-20. */
  private val annExactTop10Sql: String =
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |  list_dot_product(embedding::DOUBLE[], qv)
      |   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(qv, qv))) AS cosine
      |FROM embeddings, q
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Shared by the four ANN takedown/reclaim gates: the exact cosine
    * top-10 over the corpus WITHOUT the deleted vectors
    * (vec_id % 7 == 3) — the post-takedown neighborhood the masked (or
    * physically erased) artifact must still recover. */
  private val annExactTop10DeletedSql: String =
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |  list_dot_product(embedding::DOUBLE[], qv)
      |   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(qv, qv))) AS cosine
      |FROM embeddings, q
      |WHERE vec_id % 7 <> 3
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Shared by q_sim_filtered and the q_sim_ivf_filtered recall gate:
    * the exact cosine top-10 over the label < 5 survivors. */
  private val annExactTop10FilteredSql: String =
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |  list_dot_product(embedding::DOUBLE[], qv)
      |   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(qv, qv))) AS cosine
      |FROM embeddings, q
      |WHERE label < 5
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** MaxSim oracle: recompute the late-interaction scoring surface —
    * 4 query-token × 4 doc-token slices (16 dims each via list_slice),
    * per-(doc, query-token) max cosine, then the SAME fixed-order
    * m1+m2+m3+m4 sum the Spark plan computes (conditional-max pivot:
    * SQL sum() over rows would add in engine order and could differ in
    * the last ulp). */
  private val maxSimOracleSql: String =
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
      |),
      |toks AS (SELECT unnest(generate_series(1, 4)) AS tok),
      |dt AS (
      |  SELECT vec_id, t.tok,
      |    list_slice(embedding::DOUBLE[], (t.tok-1)*16+1, t.tok*16) AS dv
      |  FROM embeddings, toks t
      |),
      |qt AS (
      |  SELECT t.tok AS qtok, list_slice(qv, (t.tok-1)*16+1, t.tok*16) AS qvs
      |  FROM q, toks t
      |),
      |pm AS (
      |  SELECT dt.vec_id, qt.qtok,
      |    max(list_dot_product(dt.dv, qt.qvs)
      |      / (sqrt(list_dot_product(dt.dv, dt.dv))
      |         * sqrt(list_dot_product(qt.qvs, qt.qvs)))) AS m
      |  FROM dt, qt GROUP BY 1, 2
      |)
      |SELECT vec_id,
      |  max(CASE WHEN qtok = 1 THEN m END) + max(CASE WHEN qtok = 2 THEN m END)
      |  + max(CASE WHEN qtok = 3 THEN m END) + max(CASE WHEN qtok = 4 THEN m END)
      |  AS maxsim
      |FROM pm GROUP BY vec_id
      |ORDER BY maxsim DESC, vec_id LIMIT 10""".stripMargin

  /** Batch MaxSim oracle: the 3-query workload version — same slicing
    * and fixed-order sum, ranking windowed per query. */
  private val maxSimBatchOracleSql: String =
    """WITH toks AS (SELECT unnest(generate_series(1, 4)) AS tok),
      |qs AS (
      |  SELECT CAST(vec_id + 1 AS INT) AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id <= 2
      |),
      |qt AS (
      |  SELECT qs.qid, t.tok AS qtok,
      |    list_slice(qs.qv, (t.tok-1)*16+1, t.tok*16) AS qvs
      |  FROM qs, toks t
      |),
      |dt AS (
      |  SELECT vec_id, t.tok,
      |    list_slice(embedding::DOUBLE[], (t.tok-1)*16+1, t.tok*16) AS dv
      |  FROM embeddings, toks t
      |),
      |pm AS (
      |  SELECT qt.qid, dt.vec_id, qt.qtok,
      |    max(list_dot_product(dt.dv, qt.qvs)
      |      / (sqrt(list_dot_product(dt.dv, dt.dv))
      |         * sqrt(list_dot_product(qt.qvs, qt.qvs)))) AS m
      |  FROM dt, qt GROUP BY 1, 2, 3
      |),
      |sc AS (
      |  SELECT qid, vec_id,
      |    max(CASE WHEN qtok = 1 THEN m END) + max(CASE WHEN qtok = 2 THEN m END)
      |    + max(CASE WHEN qtok = 3 THEN m END) + max(CASE WHEN qtok = 4 THEN m END)
      |    AS maxsim
      |  FROM pm GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT qid, vec_id, maxsim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, vec_id)
      |      AS maxsim_rank
      |  FROM sc
      |)
      |SELECT qid, vec_id, maxsim, maxsim_rank FROM rk
      |WHERE maxsim_rank <= 10
      |ORDER BY qid, maxsim_rank""".stripMargin

  /** MMR oracle: replay the greedy trajectory in SQL — per query, 10
    * chained argmax steps over the exact cosine top-30 candidates. Step
    * 1 is pure relevance; step i orders by 0.5·rel − 0.5·(correlated
    * max cosine to the picked set), tie-broken (rel desc, vec_id asc)
    * exactly like the Spark greedy loop's keep-first-strict-max scan
    * over its (rel desc, id asc)-sorted group. Generated, not
    * hand-written: k×|queries| CTEs of three mechanical shapes. */
  private def mmrOracleSql(queryVecIds: Seq[Int], k: Int): String = {
    val perQuery = queryVecIds.map { qv =>
      val base =
        s"""cand_$qv AS MATERIALIZED (
           |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
           |    list_dot_product(e.embedding::DOUBLE[], q.qv)
           |     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
           |        * sqrt(list_dot_product(q.qv, q.qv))) AS rel
           |  FROM embeddings e,
           |    (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $qv) q
           |  ORDER BY rel DESC, e.vec_id LIMIT 30
           |),
           |s_${qv}_1 AS MATERIALIZED (
           |  SELECT vec_id, v, rel, 1 AS mmr_rank FROM cand_$qv
           |  ORDER BY rel DESC, vec_id LIMIT 1
           |),
           |sel_${qv}_1 AS MATERIALIZED (SELECT * FROM s_${qv}_1)""".stripMargin
      val steps = (2 to k).map { i =>
        s"""s_${qv}_$i AS MATERIALIZED (
           |  SELECT c.vec_id, c.v, c.rel, $i AS mmr_rank
           |  FROM cand_$qv c
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel_${qv}_${i - 1})
           |  ORDER BY 0.5 * c.rel - 0.5 * (
           |      SELECT max(list_dot_product(c.v, s.v)
           |        / (sqrt(list_dot_product(c.v, c.v))
           |           * sqrt(list_dot_product(s.v, s.v))))
           |      FROM sel_${qv}_${i - 1} s) DESC,
           |    c.rel DESC, c.vec_id ASC
           |  LIMIT 1
           |),
           |sel_${qv}_$i AS MATERIALIZED (
           |  SELECT * FROM sel_${qv}_${i - 1} UNION ALL SELECT * FROM s_${qv}_$i
           |)""".stripMargin
      }
      (base +: steps).mkString(",\n")
    }
    val finals = queryVecIds.map(qv =>
      s"SELECT CAST($qv + 1 AS INT) AS qid, vec_id, mmr_rank FROM sel_${qv}_$k")
    s"""WITH ${perQuery.mkString(",\n")}
       |${finals.mkString("\nUNION ALL\n")}
       |ORDER BY qid, mmr_rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  /** Brute-force cosine top-20 against the vec_id=0 embedding. */
  gate("q_sim_topk", Budget(0),
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |  list_dot_product(embedding::DOUBLE[], qv)
      |   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(qv, qv))) AS cosine
      |FROM embeddings, q
      |ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 20)
  }

  /** LSH-ANN RECALL GATE (oracle-checked): the multi-table ANN top-20
    * (3 independent 8-bit tables, probe Hamming ≤ 4 each — per-table
    * miss probabilities multiply) must contain the entire exact cosine
    * top-10; output is the exact top-10 (id + exact cosine) semi-joined
    * with the ANN result, so the brute-force DuckDB oracle hash-matches
    * iff recall@10 = 100%. Like IVF, the probe fraction is high on this
    * near-uniform synthetic corpus — the gate pins the recall contract,
    * not the pruning ratio. */
  gate("q_sim_lsh", Budget(1), annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val bucketed = Similarity.lshBucketsMulti(emb, "vec_id", "embedding",
      dims = 64, bits = 8, tables = 3)
    val ann = Similarity.lshTopKMulti(bucketed, "vec_id", "embedding", qvec, 20,
      bits = 8, probeDist = 4, tables = 3)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LSH SERVING gate: identical recall contract to q_sim_lsh but the
    * probes run against the PERSISTED layout — one bucket-partitioned
    * projection per hash table; each probe set is enumerated and pushed
    * as an IN partition filter, so the scan reads only the probed
    * bucket directories. Hash planes are deterministic (splitmix64), so
    * the served and in-memory indexes are identical by construction.
    * Same oracle as q_sim_lsh. */
  gate("q_sim_lsh_serve", Budget(1), annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val (table, fp) = fingerprintedArtifact(s, "lsh_idx", dir, "embeddings")
    Similarity.lshIndexFor(emb, "embedding", dims = 64, table,
      bits = 8, tables = 3, fingerprint = fp)
    val ann = Similarity.lshTopKServed(s, table, "vec_id", "embedding", qvec, 20,
      probeDist = 4)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** BATCH LSH recall gate: the 3-query workload served from the SAME
    * persisted bucket-partitioned projections as q_sim_lsh_serve in
    * ONE plan per hash table — each projection is scanned once with
    * the UNION of every query's probe set pushed as its IN partition
    * filter, candidates attach to probing queries via a broadcast
    * equi-join on the bucket id, and ranking windows per query.
    * Per-query probe sets are the single-query path's by construction
    * (shared codesWithin/queryCode), extending q_sim_lsh_serve's
    * recall contract to the whole workload: batch top-30 ⊇ each
    * query's exact cosine top-10. */
  gate("q_sim_lsh_batch",
    // batch ANN recall gates: the serve path's and the exact side's
    // per-query ranking windows (query-keyed, k-row state), the
    // per-(query,id) semi-join of the containment check on each side,
    // and the output ORDER BY — all keyed or k-bounded, no corpus-global
    // exchange; the LSH gate adds the cross-projection dedup, the PQ
    // gate the candidate-window leg. 10/13/11 → 5/6/6: the exact side is
    // one bruteForceTopKBatch plan instead of a per-query TakeOrdered
    // union (plans/r18/q_sim_{ivf,lsh,pq}_batch_*)
    Budget(6,
      bnlj = Some("batch exact side (q_hybrid_rrf_batch's bruteForceTopKBatch shape): build side is the broadcast 3-query WORKLOAD, streamed side one corpus scan")),
    annBatchExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val (table, fp) = fingerprintedArtifact(s, "lsh_idx", dir, "embeddings")
    Similarity.lshIndexFor(emb, "embedding", dims = 64, table,
      bits = 8, tables = 3, fingerprint = fp)
    val qvecs = emb.filter(col("vec_id") <= 2)
      .select((col("vec_id") + 1).cast("int").as("qid"), col("embedding"))
    val ann = Similarity.lshTopKServedBatch(s, table, "vec_id", "embedding",
      qvecs, "qid", "embedding", k = 30, probeDist = 4)
    annBatchContainment(emb, ann)
  }

  /** IVF-ANN RECALL GATE (oracle-checked): spherical k-means index
    * (cosine assignment — L2 cells on unnormalized embeddings split
    * cosine-near vectors by magnitude), probe the 12 of 16
    * cosine-nearest cells; the ANN top-20 must contain the entire exact
    * cosine top-10 (same semi-join shape as q_sim_lsh). The high probe
    * fraction is a property of this near-uniform synthetic corpus (top
    * cosine ≈ 0.37): cell pruning buys little when neighbors aren't
    * clustered — the gate pins the recall contract, not the speedup. */
  gate("q_sim_ivf", Budget(0), annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCentroids = 16, iters = 3)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20, nProbe = 12)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** IVF SERVING gate: identical recall contract to q_sim_ivf but
    * against the PERSISTED index — assignments written partitioned by
    * cluster (probe filters prune partition directories at the source),
    * centroids loaded from the sibling table and cached. Built at most
    * once per session per SF; deterministic k-means makes the loaded
    * and freshly-built indexes identical. Same oracle as q_sim_ivf. */
  // the serving gates answer the same recall contract from the
  // persisted indexes
  gate("q_sim_ivf_serve", Budget(0), annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val (table, fp) = fingerprintedArtifact(s, "ivf_idx", dir, "embeddings")
    val idx = Similarity.ivfIndexFor(emb, "vec_id", "embedding", table,
      nCentroids = 16, iters = 3, fingerprint = fp)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20, nProbe = 12)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** Shared shape of the three BATCH ANN recall gates: the per-query
    * exact cosine top-10 (computed with the SAME hash-proven
    * [[graft.operators.Similarity.bruteForceTopK]] formula the
    * single-query gates anchor to DuckDB) semi-joined against the
    * batch ANN candidates per (query, id) — the output equals the
    * per-query exact top-10 iff batch recall@10 = 100% for EVERY query
    * in the workload. Queries are the vec_id 0-2 embeddings, keyed
    * qid = vec_id + 1 (the hybrid-batch convention). */
  private def annBatchContainment(emb: DataFrame,
      ann: DataFrame): DataFrame = {
    // the exact side is ONE batch plan (corpus scanned once for the
    // whole workload, per-query top-10 windows by qid) instead of a
    // per-query bruteForceTopK union — 3 corpus scans and a driver-side
    // query-vector collect job collapse into the single scan the ANN
    // side already uses (guide §1.2). bruteForceTopKBatch computes the
    // SAME sequential-double cosine (vec_dot / vec_norm·vec_norm, the
    // query norm now in-plan over the identical float→double values),
    // so the selected rows and their cosines bit-match the per-query
    // path the single-query gates anchor to DuckDB.
    val qvecs = emb.filter(col("vec_id") <= 2)
      .select((col("vec_id") + 1).cast("int").as("qid"), col("embedding"))
    val exact = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
        qvecs, "qid", "embedding", k = 10)
      .select(col("qid"), col("vec_id"), col("cosine"))
    exact.join(ann.select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_semi")
      .orderBy(col("qid"), col("cosine").desc, col("vec_id"))
  }

  /** BATCH IVF recall gate: a 3-query workload served from the SAME
    * persisted cluster-partitioned artifact as q_sim_ivf_serve in ONE
    * plan — the scan reads the UNION of the workload's probed cells
    * (an IN partition filter, directory-pruned at the source), each
    * row scores only against the queries that probed its cell (a
    * broadcast equi-join on cluster, never a cross product), ranking
    * windows per query. Per-query probe sets are the single-query
    * path's by construction (shared probeCells), so this gate extends
    * the q_sim_ivf recall contract to every query in the workload:
    * the batch top-30 must contain each query's exact cosine top-10.
    * nProbe 15 of 16: queries 2-3 each keep one exact-top-10 neighbor
    * in a far cell of this near-uniform synthetic corpus (q_sim_ivf's
    * caveat, worse for arbitrary workload vectors than for vec_id 0) —
    * the gate pins the batch recall contract, not the pruning ratio. */
  // the batch gates answer the same recall contract for a 3-query
  // workload served in one plan
  gate("q_sim_ivf_batch",
    // shuffle budget: see q_sim_lsh_batch
    Budget(5,
      bnlj = Some("batch exact side (q_hybrid_rrf_batch's bruteForceTopKBatch shape): build side is the broadcast 3-query WORKLOAD, streamed side one corpus scan")),
    annBatchExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val (table, fp) = fingerprintedArtifact(s, "ivf_idx", dir, "embeddings")
    val idx = Similarity.ivfIndexFor(emb, "vec_id", "embedding", table,
      nCentroids = 16, iters = 3, fingerprint = fp)
    val qvecs = emb.filter(col("vec_id") <= 2)
      .select((col("vec_id") + 1).cast("int").as("qid"), col("embedding"))
    val ann = Similarity.ivfTopKBatch(idx, "vec_id", "embedding",
      qvecs, "qid", "embedding", k = 30, nProbe = 15)
    annBatchContainment(emb, ann)
  }

  /** IVF INCREMENTAL-UPSERT gate: the serving artifact is built over the
    * BASE corpus only (vec_id % 5 != 0), then the delta (vec_id % 5 == 0
    * — including the query vector itself) is admitted through
    * [[graft.operators.Similarity.upsertIvfIndex]]: assigned with the
    * FROZEN base-trained centroids in one map-side pass and APPENDED
    * into the cluster-partitioned store — the base corpus is never
    * re-scanned, re-encoded, or rewritten (DedupSpec pins base-file
    * immutability at the filesystem level). The served top-20 over the
    * upserted index must still contain the exact cosine top-10 over the
    * FULL corpus — the recall contract survives the append even though
    * the centroids never saw the delta (the top hit, the query vector,
    * arrives VIA the upsert). Built-and-upserted ONCE per mtime-keyed
    * generation (the `onceUpserted` marker): upsert is append-only by
    * contract, so a repeated gate serves the admitted generation
    * instead of re-appending into it. Same oracle as q_sim_ivf. */
  gate("q_sim_ivf_upsert",
    // build+upsert run as side-effect jobs (k-means aggs, partitioned
    // writes); the returned frame is exact-top10 semi-join ann-candidates
    // with both sides broadcast-sized at sf0.001 → zero visible exchanges.
    // lsh_upsert's 1 = the served candidates' dropDuplicates(vec_id)
    // across the three unioned table probes
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "ivf_ups", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", nCentroids = 16, iters = 3), table)
      Similarity.upsertIvfIndex(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", table)
    }
    val idx = Similarity.loadIvfIndex(s, table)
    // nProbe 14 (vs q_sim_ivf's 12): centroids trained on 80% of a
    // near-uniform corpus rank the query's neighbors' cells slightly
    // worse than full-corpus training — measured: one top-10 vector
    // lands in cell rank 13-14 at sf0.001/sf0.01. The gate pins the
    // post-upsert recall CONTRACT; cell pruning on this synthetic
    // corpus was never the speedup story (see q_sim_ivf's scaladoc).
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20, nProbe = 14)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** IVF MAINTENANCE-LOOP gate — the upsert-then-compact cadence for
    * the cluster-PARTITIONED artifact on the oracle path: base trained
    * on 80% of the corpus, delta admitted with frozen centroids via
    * [[graft.operators.Similarity.upsertIvfIndex]], then
    * [[graft.operators.Similarity.compactIvfIndex]] retrains spherical
    * k-means over the full corpus as a staged next generation and
    * promotes it by catalog rename + partition re-discovery
    * ([[graft.sources.Sources.promoteTable]]). The retrained geometry
    * equals a direct full-corpus build (deterministic k-means), so the
    * served top-20 must contain the exact cosine top-10 at q_sim_ivf's
    * own nProbe=12 — the recall contract this family always carries,
    * now asserted THROUGH the promote. Runs once per mtime-keyed
    * generation. Same oracle as q_sim_ivf. */
  gate("q_sim_ivf_compact",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "ivf_cpt", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", nCentroids = 16, iters = 3), table)
      Similarity.upsertIvfIndex(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", table)
      Similarity.compactIvfIndex(s, table, "vec_id", "embedding", iters = 3)
    }
    val idx = Similarity.loadIvfIndex(s, table)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20, nProbe = 12)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** IVF CONCURRENT-MAINTENANCE gate — the lost-delta window for the
    * retrained family: [[graft.operators.Similarity
    * .buildNextIvfGeneration]] pins its input to the basis file set,
    * THEN the delta (including the query vector) is upserted into the
    * LIVE artifact with the old frozen centroids — the admission a
    * nightly retrain races against — and [[graft.operators.Similarity
    * .promoteIvfGeneration]]'s catch-up re-ASSIGNS the mid-build delta
    * with the NEW generation's centroids before the swap. Served top-20
    * must contain the exact cosine top-10 at nProbe=14 — the
    * q_sim_ivf_upsert geometry (centroids trained on 80% of the
    * corpus), because the promoted generation was retrained over the
    * basis snapshot, not the full corpus. Without the catch-up the
    * query's own neighborhood would be MISSING from the promoted
    * artifact, a hash mismatch, not a recall nuance. Same oracle as
    * q_sim_ivf. */
  gate("q_sim_ivf_catchup",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "ivf_cu", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", nCentroids = 16, iters = 3), table)
      Similarity.buildNextIvfGeneration(s, table, "vec_id", "embedding",
        iters = 3)
      Similarity.upsertIvfIndex(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", table)
      Similarity.promoteIvfGeneration(s, table)
    }
    val idx = Similarity.loadIvfIndex(s, table)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20,
      nProbe = 14)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** IVF TAKEDOWN gate — the delete tier for the trained family: the
    * index is built over the FULL corpus, every vec_id % 7 == 3 (≈14%
    * of it, including members of the original top-10 neighborhood) is
    * deleted via [[graft.operators.Similarity.deleteVectors]] — one
    * tombstone commit, no file rewrite, nothing retrained — and the
    * served top-20 must (a) contain the exact cosine top-10 over the
    * REMAINING corpus (the DuckDB oracle) and (b) leak no deleted id:
    * an in-plan one-row broadcast gate empties the output if any
    * tombstoned vector survives the mask, turning a leak into a
    * driver-visible row-count break, not a recall nuance. nProbe=14 of
    * 16: the post-delete top-10 pulls in previously-rank-11+ neighbors
    * whose cells the tighter q_sim_ivf probe set may miss. */
  gate("q_sim_ivf_delete",
    // ANN takedown gates: the k-row ANN side is localCheckpoint'd (the
    // leak gate aggregates it twice), so the audited plan is the exact
    // side + two tiny joins — the serve shapes are audited by the base
    // gates (q_sim_ivf/lsh/pq and their _serve variants)
    Budget(0,
      bnlj = Some("takedown leak gate: build side is exactly ONE broadcast row (the deleted-id count over the k-row ANN result)")),
    annExactTop10DeletedSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    val exact = Similarity.bruteForceTopK(remaining, "vec_id", "embedding",
      qvec, 10)
    val table = artifactTable(s, "ivf_del", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(emb, "vec_id", "embedding",
          nCentroids = 16, iters = 3), table)
      Similarity.deleteVectors(s, table,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
    }
    val idx = Similarity.loadIvfIndex(s, table)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20,
      nProbe = 14).select(col("vec_id")).localCheckpoint(true)
    val leakFree = ann.agg(
      (sum(when(col("vec_id") % 7 === 3, 1).otherwise(0)) === 0).as("__ok"))
    exact.join(ann, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(leakFree)).filter(col("__ok"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** IVF RECLAIM gate — physical erasure AND geometry forgetting for
    * the trained family: after the takedown, the full
    * [[graft.operators.Similarity.compactIvfIndex]] cadence runs — the
    * staged retrain excludes the tombstoned vectors (the new centroids
    * are trained WITHOUT them — the deleted data stops shaping the
    * index, not just appearing in it), the promoted generation's files
    * no longer contain them (DeleteSpec reads the raw parquet), and the
    * consumed tombstones leave the sibling — then the same
    * recall-plus-no-leak contract must hold against the retrained
    * geometry with NO mask left in the plan. Same oracle as
    * q_sim_ivf_delete. */
  gate("q_sim_ivf_reclaim",
    // shuffle budget: see q_sim_ivf_delete
    Budget(0,
      bnlj = Some("takedown leak gate: build side is exactly ONE broadcast row (the deleted-id count over the k-row ANN result)")),
    annExactTop10DeletedSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    val exact = Similarity.bruteForceTopK(remaining, "vec_id", "embedding",
      qvec, 10)
    val table = artifactTable(s, "ivf_rcl", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(emb, "vec_id", "embedding",
          nCentroids = 16, iters = 3), table)
      Similarity.deleteVectors(s, table,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      Similarity.compactIvfIndex(s, table, "vec_id", "embedding", iters = 3)
    }
    val idx = Similarity.loadIvfIndex(s, table)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20,
      nProbe = 14).select(col("vec_id")).localCheckpoint(true)
    val leakFree = ann.agg(
      (sum(when(col("vec_id") % 7 === 3, 1).otherwise(0)) === 0).as("__ok"))
    exact.join(ann, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(leakFree)).filter(col("__ok"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LSH INCREMENTAL-UPSERT gate — the second artifact family's append
    * path: the bucket-partitioned per-table layouts are built over the
    * BASE corpus (vec_id % 5 != 0), then the delta (including the query
    * vector) is hashed with the artifact's pinned (bits, tables, dims)
    * and appended via [[graft.operators.Similarity.upsertLshIndex]].
    * Unlike IVF/PQ there is NOTHING trained to drift: the hyperplanes
    * are deterministic splitmix64 functions, so the upserted layout is
    * content-identical to a full rebuild (DedupSpec asserts served
    * top-k equality) and q_sim_lsh_serve's recall contract transfers
    * unchanged. Same oracle as q_sim_lsh. */
  gate("q_sim_lsh_upsert",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(1),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "lsh_ups", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveLshIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "embedding", dims = 64, table, bits = 8, tables = 3)
      Similarity.upsertLshIndex(emb.filter(col("vec_id") % 5 === 0),
        "embedding", table)
    }
    val ann = Similarity.lshTopKServed(s, table, "vec_id", "embedding",
      qvec, 20, probeDist = 4)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LSH MAINTENANCE-LOOP gate — completes the quartet with
    * q_search_bm25_compact / q_sim_ivf_compact / q_sim_pq_compact: the
    * bucket-partitioned projections are built over the BASE corpus,
    * the delta (including the query vector) appended via
    * [[graft.operators.Similarity.upsertLshIndex]], then
    * [[graft.operators.Similarity.compactLshIndex]] rewrites every
    * projection FROM ITS OWN CONTENT (hyperplanes are deterministic —
    * nothing retrains; compaction heals the per-bucket file
    * accumulation) as staged generations promoted by catalog rename
    * ([[graft.sources.Sources.promoteTable]]). The served top-20 over
    * the compacted layout must contain the exact cosine top-10 —
    * q_sim_lsh's own recall contract, asserted THROUGH the promote.
    * Runs once per mtime-keyed generation. Same oracle as q_sim_lsh. */
  gate("q_sim_lsh_compact",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(1),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "lsh_cpt", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveLshIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "embedding", dims = 64, table, bits = 8, tables = 3)
      Similarity.upsertLshIndex(emb.filter(col("vec_id") % 5 === 0),
        "embedding", table)
      Similarity.compactLshIndex(s, table)
    }
    val ann = Similarity.lshTopKServed(s, table, "vec_id", "embedding",
      qvec, 20, probeDist = 4)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LSH CONCURRENT-MAINTENANCE gate — the lost-delta window for the
    * deterministic family: [[graft.operators.Similarity
    * .buildNextLshLayout]] pins every projection's rewrite to its basis
    * file set, THEN the delta (including the query vector) is upserted
    * into the LIVE projections, and [[graft.operators.Similarity
    * .promoteLshLayout]]'s catch-up COPIES the mid-build files into
    * each staged projection before the swaps (hyperplanes are
    * deterministic — the copied bucket codes are exactly what a rebuild
    * would assign; nothing re-hashes). Served top-20 must contain the
    * exact cosine top-10 at q_sim_lsh's own probeDist=4: without the
    * catch-up, the promoted projections would be missing the query's
    * neighborhood entirely. Same oracle as q_sim_lsh. */
  gate("q_sim_lsh_catchup",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(1),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "lsh_cu", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveLshIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "embedding", dims = 64, table, bits = 8, tables = 3)
      Similarity.buildNextLshLayout(s, table)
      Similarity.upsertLshIndex(emb.filter(col("vec_id") % 5 === 0),
        "embedding", table)
      Similarity.promoteLshLayout(s, table)
    }
    val ann = Similarity.lshTopKServed(s, table, "vec_id", "embedding",
      qvec, 20, probeDist = 4)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LSH TAKEDOWN gate — the delete tier for the deterministic family:
    * the bucket-partitioned projections are built over the FULL corpus,
    * vec_id % 7 == 3 deleted (one tombstone commit covers every
    * projection — the sibling keys on the artifact prefix), and the
    * served top-20 must contain the exact cosine top-10 over the
    * remaining corpus with no deleted id leaking (the in-plan gate of
    * q_sim_ivf_delete). Masking happens once, after the cross-
    * projection candidate dedup — one broadcast anti-join per query,
    * not one per projection. q_sim_lsh's own probeDist=4. */
  gate("q_sim_lsh_delete",
    // shuffle budget: see q_sim_ivf_delete
    Budget(0,
      bnlj = Some("takedown leak gate: build side is exactly ONE broadcast row (the deleted-id count over the k-row ANN result)")),
    annExactTop10DeletedSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    val exact = Similarity.bruteForceTopK(remaining, "vec_id", "embedding",
      qvec, 10)
    val table = artifactTable(s, "lsh_del", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveLshIndex(emb, "embedding", dims = 64, table,
        bits = 8, tables = 3)
      Similarity.deleteVectors(s, table,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
    }
    val ann = Similarity.lshTopKServed(s, table, "vec_id", "embedding",
      qvec, 20, probeDist = 4).select(col("vec_id")).localCheckpoint(true)
    val leakFree = ann.agg(
      (sum(when(col("vec_id") % 7 === 3, 1).otherwise(0)) === 0).as("__ok"))
    exact.join(ann, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(leakFree)).filter(col("__ok"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LSH RECLAIM gate — physical erasure for the deterministic family:
    * after the takedown, [[graft.operators.Similarity.compactLshIndex]]
    * rewrites every projection WITHOUT the tombstoned ids (nothing
    * retrains — hyperplanes are deterministic, so the reclaimed layout
    * is content-identical to a direct build over the survivors, pinned
    * in DeleteSpec) and the consumed tombstones leave the sibling; the
    * recall-plus-no-leak contract must hold with NO mask left in the
    * plan. Same oracle as q_sim_lsh_delete. */
  gate("q_sim_lsh_reclaim",
    // shuffle budget: see q_sim_ivf_delete
    Budget(0,
      bnlj = Some("takedown leak gate: build side is exactly ONE broadcast row (the deleted-id count over the k-row ANN result)")),
    annExactTop10DeletedSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    val exact = Similarity.bruteForceTopK(remaining, "vec_id", "embedding",
      qvec, 10)
    val table = artifactTable(s, "lsh_rcl", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.saveLshIndex(emb, "embedding", dims = 64, table,
        bits = 8, tables = 3)
      Similarity.deleteVectors(s, table,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      Similarity.compactLshIndex(s, table)
    }
    val ann = Similarity.lshTopKServed(s, table, "vec_id", "embedding",
      qvec, 20, probeDist = 4).select(col("vec_id")).localCheckpoint(true)
    val leakFree = ann.agg(
      (sum(when(col("vec_id") % 7 === 3, 1).otherwise(0)) === 0).as("__ok"))
    exact.join(ann, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(leakFree)).filter(col("__ok"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** PQ INCREMENTAL-UPSERT gate — the third artifact family's append
    * path: codebooks are trained over the BASE corpus only, the delta
    * (including the query vector) is encoded with those FROZEN codebooks
    * in one map-side `pq_encode` pass and appended
    * ([[graft.operators.Similarity.upsertPqIndex]]) — the corpus is
    * never re-encoded, the PQ-at-scale invariant. The reranked top-20
    * over the upserted store must contain the exact full-corpus cosine
    * top-10: the ADC candidate generation survives encoding today's
    * delta with yesterday's codebooks (drift resets on
    * `compactPqIndex`'s cadence, pinned in DedupSpec). Same oracle as
    * q_sim_pq. */
  gate("q_sim_pq_upsert",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "pq_ups", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.savePqIndex(
        Similarity.pqIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", dims = 64, m = 16, nCodes = 32, iters = 8,
          sampleN = 2048), table)
      Similarity.upsertPqIndex(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", table)
    }
    val idx = Similarity.loadPqIndex(s, table)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** PQ MAINTENANCE-LOOP gate — completes the trio with
    * q_search_bm25_compact and q_sim_ivf_compact: base codebooks trained
    * on 80% of the corpus, delta encoded with the FROZEN codebooks via
    * [[graft.operators.Similarity.upsertPqIndex]], then
    * [[graft.operators.Similarity.compactPqIndex]] retrains per-subspace
    * k-means over the full corpus and re-encodes into a staged next
    * generation promoted by catalog rename. The reranked top-20 over the
    * promoted generation must contain the exact cosine top-10 —
    * q_sim_pq's own contract, asserted THROUGH the promote. Runs once
    * per mtime-keyed generation. Same oracle as q_sim_pq. */
  gate("q_sim_pq_compact",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "pq_cpt", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.savePqIndex(
        Similarity.pqIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", dims = 64, m = 16, nCodes = 32, iters = 8,
          sampleN = 2048), table)
      Similarity.upsertPqIndex(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", table)
      Similarity.compactPqIndex(s, table, "vec_id", "embedding", iters = 8,
        sampleN = 2048)
    }
    val idx = Similarity.loadPqIndex(s, table)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** PQ CONCURRENT-MAINTENANCE gate — the lost-delta window for the
    * encoded family, and the sharpest of the four: a delta upserted
    * during a PQ retrain carries codes from the OLD codebooks, which
    * the retrain invalidates — so [[graft.operators.Similarity
    * .promotePqGeneration]]'s catch-up must not just carry the rows
    * over but re-ENCODE them with the NEW generation's codebooks
    * (CatchUpSpec pins the code equality). Base codebooks train on 80%
    * of the corpus, the staged retrain snapshots that basis, the delta
    * (including the query vector) lands mid-build via
    * [[graft.operators.Similarity.upsertPqIndex]], and the promoted
    * generation's reranked top-20 must contain the exact cosine
    * top-10 — q_sim_pq_upsert's contract. Same oracle as q_sim_pq. */
  gate("q_sim_pq_catchup",
    // shuffle budget: see q_sim_ivf_upsert
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "pq_cu", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.savePqIndex(
        Similarity.pqIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", dims = 64, m = 16, nCodes = 32, iters = 8,
          sampleN = 2048), table)
      Similarity.buildNextPqGeneration(s, table, "vec_id", "embedding",
        iters = 8, sampleN = 2048)
      Similarity.upsertPqIndex(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", table)
      Similarity.promotePqGeneration(s, table)
    }
    val idx = Similarity.loadPqIndex(s, table)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** STREAMING LSH ingest gate — completes the streaming-admission
    * symmetry across the serving families on the ORACLE path: the
    * bucket-partitioned projections are built over 80% of the corpus,
    * the remaining vectors (including the query vector) STREAM in
    * through [[graft.streaming.Streaming.lshIngestSink]] (per-batch
    * deterministic-hyperplane hashing into idempotent
    * `batch=<id>/t<k>/bucket=<b>` segments, last projection as the
    * completeness marker), and the served top-20 over base ∪ admitted
    * segments must contain the exact cosine top-10 — q_sim_lsh's own
    * recall contract; hyperplanes are deterministic, so base ∪ segments
    * is content-identical to a rebuild and the contract transfers
    * unchanged. Admitted once per mtime-keyed generation; the segments
    * persist beside the artifact and are SERVED here (folding is pinned
    * in StreamingSpec). Same oracle as q_sim_lsh. */
  gate("q_stream_lsh_ingest",
    // ingest gates serve base ∪ segment unions; the one exchange in the
    // LSH shape is the served candidates' cross-table dropDuplicates
    Budget(1),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "lsh_ing", dir, "embeddings")
    val segDir = s"${s.conf.get("spark.sql.warehouse.dir")}/${table}_segs"
    onceUpserted(s, table) {
      Similarity.saveLshIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "embedding", dims = 64, table, bits = 8, tables = 3)
      // clear segments from a crashed prior attempt: a rerun may slice
      // fewer batches, and per-batch overwrite only replaces its own id
      val hp = new org.apache.hadoop.fs.Path(segDir)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val stream = graft.streaming.Streaming.fileStream(s, dir,
        "embeddings.parquet").filter(col("vec_id") % 5 === 0)
      val q = graft.streaming.Streaming.lshIngestSink(stream, table,
        "embedding", segDir)
      try q.processAllAvailable() finally q.stop()
    }
    val ann = Similarity.lshTopKServedWithSegments(s, table, "vec_id",
      "embedding", qvec, 20, probeDist = 4, segDir)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** STREAMING IVF ingest gate — the last ingest family joins the
    * hash-checked path (r11 ran it under ScalaTest only, reasoning that
    * centroids aren't oracle-expressible; the SERVE-path recall
    * contract is, exactly as in q_sim_ivf_upsert): centroids trained on
    * 80% of the corpus, the remaining vectors (including the query
    * vector) STREAM in through
    * [[graft.streaming.Streaming.ivfIngestSink]] (per-batch map-side
    * frozen-centroid assignment into idempotent
    * `batch=<id>/cluster=<c>` segments), and the served top-20 over
    * base ∪ admitted segments — probe pruning spanning base and segment
    * partitions alike — must contain the exact full-corpus cosine
    * top-10 at q_sim_ivf_upsert's nProbe=14 (same split, same
    * frozen-centroid contract, so the measured recall transfers).
    * Admitted once per mtime-keyed generation; segments persist and are
    * SERVED here (folding pinned in StreamingSpec). Same oracle as
    * q_sim_ivf. */
  gate("q_stream_ivf_ingest",
    // shuffle budget: see q_stream_lsh_ingest
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "ivf_ing", dir, "embeddings")
    val segDir = s"${s.conf.get("spark.sql.warehouse.dir")}/${table}_segs"
    onceUpserted(s, table) {
      Similarity.saveIvfIndex(
        Similarity.ivfIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", nCentroids = 16, iters = 3), table)
      val hp = new org.apache.hadoop.fs.Path(segDir)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val stream = graft.streaming.Streaming.fileStream(s, dir,
        "embeddings.parquet").filter(col("vec_id") % 5 === 0)
      val q = graft.streaming.Streaming.ivfIngestSink(stream, table,
        "embedding", segDir)
      try q.processAllAvailable() finally q.stop()
    }
    val idx = Similarity.loadIvfIndexWithSegments(s, table, segDir)
    val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20,
      nProbe = 14)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** STREAMING PQ ingest gate — the compressed-scan tier's live
    * admission on the oracle path: codebooks are trained over 80% of
    * the corpus, the remaining vectors (including the query vector)
    * STREAM in through [[graft.streaming.Streaming.pqIngestSink]]
    * (per-batch FROZEN-codebook map-side encode into idempotent plain
    * `batch=<id>` segments, `_SUCCESS` as the completeness marker), and
    * the reranked top-20 over base ∪ admitted segments must contain the
    * exact full-corpus cosine top-10 — q_sim_pq_upsert's contract,
    * asserted through the streamed admission (base ∪ segments is
    * content-identical to upserting every batch). Admitted once per
    * mtime-keyed generation; segments persist and are SERVED here
    * (folding pinned in StreamingSpec). Same oracle as q_sim_pq. */
  gate("q_stream_pq_ingest",
    // shuffle budget: see q_stream_lsh_ingest
    Budget(0),
    annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val table = artifactTable(s, "pq_ing", dir, "embeddings")
    val segDir = s"${s.conf.get("spark.sql.warehouse.dir")}/${table}_segs"
    onceUpserted(s, table) {
      Similarity.savePqIndex(
        Similarity.pqIndex(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", dims = 64, m = 16, nCodes = 32, iters = 8,
          sampleN = 2048), table)
      val hp = new org.apache.hadoop.fs.Path(segDir)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val stream = graft.streaming.Streaming.fileStream(s, dir,
        "embeddings.parquet").filter(col("vec_id") % 5 === 0)
      val q = graft.streaming.Streaming.pqIngestSink(stream, table,
        "embedding", segDir)
      try q.processAllAvailable() finally q.stop()
    }
    val idx = Similarity.loadPqIndexWithSegments(s, table, segDir)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** PQ-ANN RECALL GATE (oracle-checked): product-quantize to 16
    * subspaces × 32 codes (16 bytes of codes standing in for 256 bytes
    * of floats during candidate generation), ADC-score the corpus
    * against the query's lookup table, exact-rerank the best 500
    * candidates with the full vectors; the reranked top-20 must contain
    * the entire exact cosine top-10 (same semi-join shape as
    * q_sim_lsh/q_sim_ivf). The generous candidate pool is a property of
    * this near-uniform synthetic corpus (top cosine ≈ 0.37 — tiny gaps
    * between ranks); the gate pins the recall contract of the
    * compressed-scan path. */
  gate("q_sim_pq", Budget(0), annExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val idx = Similarity.pqIndex(emb, "vec_id", "embedding", dims = 64,
      m = 16, nCodes = 32, iters = 8, sampleN = 2048)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  // ------------------------------------------------------------------
  // Training-data pipeline: split / sample / decontaminate / chunk /
  // ------------------------------------------------------------------

  /** PQ SERVING gate: identical recall contract to q_sim_pq but the ADC
    * scan reads the PERSISTED encoded table — codes computed once at
    * build time, codebooks loaded from the sibling table and cached.
    * Deterministic per-subspace k-means makes loaded and freshly-built
    * indexes identical. Same oracle as q_sim_pq. */
  gate("q_sim_pq_serve", Budget(0), annExactTop10Sql) { (s, dir) =>
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 10)
    val (table, fp) = fingerprintedArtifact(s, "pq_idx", dir, "embeddings")
    val idx = Similarity.pqIndexFor(emb, "vec_id", "embedding", dims = 64,
      table, m = 16, nCodes = 32, iters = 8, sampleN = 2048,
      fingerprint = fp)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  /** BATCH PQ recall gate: the 3-query workload scored against the
    * encoded corpus in TWO scans total (vs one per query): scan one
    * evaluates every query's ADC lookup table per code row inside one
    * codegen'd expression (pq_adc_score_multi — the LUT stack is a
    * KB-sized reference object) and window-ranks candidates per
    * query; scan two fetches exactly the candidate vectors (broadcast
    * request-sized candidate set) for the exact cosine rerank.
    * Candidate selection order matches pqTopK's (__adc desc, id), so
    * per-query candidate sets are the single-query path's by
    * construction. Batch top-30 ⊇ each query's exact top-10, at
    * q_sim_pq's own candidates=500. */
  gate("q_sim_pq_batch",
    // shuffle budget: see q_sim_lsh_batch
    Budget(6,
      bnlj = Some("batch exact side (q_hybrid_rrf_batch's bruteForceTopKBatch shape): build side is the broadcast 3-query WORKLOAD, streamed side one corpus scan")),
    annBatchExactTop10Sql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val idx = Similarity.pqIndex(emb, "vec_id", "embedding", dims = 64,
      m = 16, nCodes = 32, iters = 8, sampleN = 2048)
    val qvecs = emb.filter(col("vec_id") <= 2)
      .select((col("vec_id") + 1).cast("int").as("qid"), col("embedding"))
    val ann = Similarity.pqTopKBatch(idx, "vec_id", "embedding",
      qvecs, "qid", "embedding", k = 30, candidates = 500)
    annBatchContainment(emb, ann)
  }

  /** FILTERED exact vector search: cosine top-10 among rows passing a
    * metadata predicate (label < 5, ~half the corpus) — the
    * "nearest English docs" shape. Pre-filtering: the predicate rides
    * the scan (PushedFilters at the parquet source, pinned in
    * PushdownSpec), so exactness within the filtered corpus holds by
    * construction. Oracle is the same ranking with a WHERE clause. */
  gate("q_sim_filtered",
    // filtered search: predicate + ranking ride the scan (TakeOrdered /
    // broadcast semi-join; no exchange at audit scale)
    Budget(0),
    annExactTop10FilteredSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    Similarity.bruteForceTopKFiltered(emb, "vec_id", "embedding",
      col("label") < 5, qvec, 10)
  }

  /** FILTERED IVF recall gate: the bucketed serve path with the same
    * label < 5 predicate composed INSIDE the probed-cell scan (cluster
    * IN prunes partition directories, the predicate prunes row groups
    * within them) — served from the SAME persisted artifact as
    * q_sim_ivf_serve, whose assigned frame carries the label column
    * precisely so filtered serves cost no join. The filtered top-30 at
    * nProbe 14/16 must contain the exact FILTERED top-10: a filter
    * thins every cell, so the filtered top-k reaches deeper into the
    * corpus than the unfiltered one — the wider probe is the
    * documented filtered-ANN trade, and the gate pins that the recall
    * contract survives it. Oracle: exact filtered top-10. */
  gate("q_sim_ivf_filtered",
    // shuffle budget: see q_sim_filtered
    Budget(0),
    annExactTop10FilteredSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val pred = col("label") < 5
    val exact = Similarity.bruteForceTopKFiltered(emb, "vec_id",
      "embedding", pred, qvec, 10)
    val (table, fp) = fingerprintedArtifact(s, "ivf_idx", dir, "embeddings")
    val idx = Similarity.ivfIndexFor(emb, "vec_id", "embedding", table,
      nCentroids = 16, iters = 3, fingerprint = fp)
    val ann = Similarity.ivfTopKFiltered(idx, "vec_id", "embedding", pred,
      qvec, 30, nProbe = 14)
    exact.join(ann.select("vec_id"), Seq("vec_id"), "left_semi")
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** LATE-INTERACTION retrieval (MaxSim, ColBERT scoring): documents
    * and the query are bags of 4 token vectors (the deterministic
    * sliceTokens adapter over the 64-dim fixture embeddings — 16 dims
    * per token), score = Σ per-query-token max-cosine over doc tokens.
    * One token-table scan, literal query tokens (no join), per-doc
    * hash-aggregate of order-insensitive maxes, fixed-order Σ — the
    * oracle recomputes the full scoring surface with list_slice +
    * conditional-max pivots and must match the double bit-for-bit. */
  gate("q_sim_maxsim",
    // maxsim: one token-scan + per-doc hash-aggregate (partial/final =
    // 1 visible exchange); the batch adds the (query,doc)-keyed agg,
    // the per-query ranking window, and the output ORDER BY
    Budget(1),
    maxSimOracleSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val sub = qvec.length / 4
    val qtoks = (0 until 4).map(i => qvec.slice(i * sub, (i + 1) * sub))
    val docTokens = Similarity.sliceTokens(emb, "vec_id", "embedding",
      qvec.length, 4)
    Similarity.maxSimTopK(docTokens, "vec_id", "tok_vec", qtoks, 10)
  }

  /** BATCH MaxSim: the 3-query workload (qid = vec_id + 1) served in
    * ONE token-table scan — query vectors sliced in-plan and broadcast,
    * per-(query, doc) maxes in one hash-aggregate, ranking windowed per
    * query. The late-interaction member of the batch family
    * (q_search_bm25_batch / q_sim_ivf_batch / q_hybrid_rrf_batch);
    * unlike the recall-containment ANN gates this one is EXACT, so the
    * oracle pins ids, ranks, and the maxsim double itself per query. */
  gate("q_sim_maxsim_batch",
    // shuffle budget: see q_sim_maxsim
    Budget(3,
      bnlj = Some("batch MaxSim scoring: build side is the broadcast QUERY WORKLOAD (3 sliced query-token bags; workload-sized by design), streamed side one token-table scan — every (token row, query) pair scores map-side; the late-interaction member of the batch family")),
    maxSimBatchOracleSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val docTokens = Similarity.sliceTokens(emb, "vec_id", "embedding", 64, 4)
    val qvecs = emb.filter(col("vec_id") <= 2)
      .select((col("vec_id") + 1).cast("int").as("qid"), col("embedding"))
    Similarity.maxSimTopKBatch(docTokens, "vec_id", "tok_vec",
      qvecs, "qid", "embedding", dim = 64, tokens = 4, k = 10)
  }

  /** MMR DIVERSIFICATION gate: each query's exact cosine top-30 (the
    * batch brute-force retriever) greedily re-ranked to a top-10 that
    * balances relevance against redundancy (λ = 0.5) — the diversify
    * stage of the retrieval stack, run per query on the top-N-bounded
    * candidate frame (request-scale; the corpus-scale work happened in
    * the retriever). The oracle replays the ENTIRE greedy trajectory in
    * SQL — 10 chained argmax CTEs per query, penalty as a correlated
    * max-cosine over the picked set — so a single divergent pick at any
    * step fails the gate; both engines compute every cosine with the
    * same sequential-dot arithmetic, and ties break (score desc, rel
    * desc, id asc) identically by construction. */
  gate("q_mmr_rerank",
    // mmr: the audited plan starts at the greedy loop's RDD boundary
    // (createDataFrame severs lineage — the Ordinals caveat on Budget),
    // so the visible 1 is the output ORDER BY; the retriever's exchanges
    // are q_sim_topk-batch-shaped and the repartition-by-query is
    // workload-keyed on the top-N-bounded candidate frame
    Budget(1),
    mmrOracleSql(Seq(0, 1, 2), 10)) { (s, dir) =>
    import graft.operators.Diversify
    val emb = t(s, dir, "embeddings").df
    val qvecs = emb.filter(col("vec_id") <= 2)
      .select((col("vec_id") + 1).cast("int").as("qid"), col("embedding"))
    val cands = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
        qvecs, "qid", "embedding", 30)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    Diversify.mmrRerank(cands, "qid", "vec_id", "cosine", "embedding",
      k = 10, lambda = 0.5)
  }

  /** PQ TAKEDOWN gate — the delete tier for the encoded family: codes
    * are trained and stored over the FULL corpus, vec_id % 7 == 3
    * deleted via the one-commit tombstone path (no re-encode — codes of
    * masked rows simply stop being ADC candidates), and the reranked
    * top-20 must contain the exact cosine top-10 over the remaining
    * corpus with no deleted id leaking (q_sim_ivf_delete's in-plan
    * gate). q_sim_pq's own candidates=500. */
  gate("q_sim_pq_delete",
    // shuffle budget: see q_sim_ivf_delete
    Budget(0,
      bnlj = Some("takedown leak gate: build side is exactly ONE broadcast row (the deleted-id count over the k-row ANN result)")),
    annExactTop10DeletedSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    val exact = Similarity.bruteForceTopK(remaining, "vec_id", "embedding",
      qvec, 10)
    val table = artifactTable(s, "pq_del", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.savePqIndex(
        Similarity.pqIndex(emb, "vec_id", "embedding", dims = 64,
          m = 16, nCodes = 32, iters = 8, sampleN = 2048), table)
      Similarity.deleteVectors(s, table,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
    }
    val idx = Similarity.loadPqIndex(s, table)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500).select(col("vec_id")).localCheckpoint(true)
    val leakFree = ann.agg(
      (sum(when(col("vec_id") % 7 === 3, 1).otherwise(0)) === 0).as("__ok"))
    exact.join(ann, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(leakFree)).filter(col("__ok"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** PQ RECLAIM gate — physical erasure AND codebook forgetting for the
    * encoded family: after the takedown,
    * [[graft.operators.Similarity.compactPqIndex]] retrains the
    * per-subspace codebooks WITHOUT the tombstoned vectors and
    * re-encodes only the survivors (deterministic k-means over the
    * masked sample ⇒ the reclaimed artifact equals a direct build over
    * the survivors, pinned in DeleteSpec); consumed tombstones leave
    * the sibling, and the recall-plus-no-leak contract must hold
    * against the retrained codes with no mask in the plan. Same oracle
    * as q_sim_pq_delete. */
  gate("q_sim_pq_reclaim",
    // shuffle budget: see q_sim_ivf_delete
    Budget(0,
      bnlj = Some("takedown leak gate: build side is exactly ONE broadcast row (the deleted-id count over the k-row ANN result)")),
    annExactTop10DeletedSql) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    val exact = Similarity.bruteForceTopK(remaining, "vec_id", "embedding",
      qvec, 10)
    val table = artifactTable(s, "pq_rcl", dir, "embeddings")
    onceUpserted(s, table) {
      Similarity.savePqIndex(
        Similarity.pqIndex(emb, "vec_id", "embedding", dims = 64,
          m = 16, nCodes = 32, iters = 8, sampleN = 2048), table)
      Similarity.deleteVectors(s, table,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      Similarity.compactPqIndex(s, table, "vec_id", "embedding",
        iters = 8, sampleN = 2048)
    }
    val idx = Similarity.loadPqIndex(s, table)
    val ann = Similarity.pqTopK(idx, "vec_id", "embedding", qvec, 20,
      candidates = 500).select(col("vec_id")).localCheckpoint(true)
    val leakFree = ann.agg(
      (sum(when(col("vec_id") % 7 === 3, 1).otherwise(0)) === 0).as("__ok"))
    exact.join(ann, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(leakFree)).filter(col("__ok"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }
}
