package graft.gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

import Fixtures._

/** Sketch gates: HLL distinct counts, the sketch cube and its lifecycle,
  * KLL quantile rollups, count-min and heavy hitters. */
object SketchGates extends Family {

  /** HLL approximate-distinct accuracy gate: per source, the exact
    * distinct doc-length count next to a within-tolerance flag for the
    * HLL estimate (both aggregates share one shuffle). The oracle emits
    * `true` unconditionally — rows only hash-match if every estimate
    * landed inside 15% relative error. HLL is hash-deterministic and
    * merge-order-independent, so the flag is partition-layout-free. */
  gate("q_approx_distinct", Budget(3),
    """SELECT source, count(DISTINCT n_chars) AS exact_nd,
      |  true AS within_tol
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    Sketch.distinctReport(t(s, dir, "documents").df, Seq("source"), "n_chars",
        rsd = 0.05, tol = 0.15)
      .orderBy(col("source"))
  }

  /** Mergeable-sketch ROLLUP gate (the pre-aggregated reporting cube a
    * 100 TB deployment serves reports from): per-(source, lang, shard)
    * HLL sketches are built once and PERSISTED (mtime-keyed artifact),
    * then per-source answers come from MERGING the persisted sketches —
    * no corpus access on the serve path. Two guarantees folded into the
    * gate filter, so a violation drops rows and breaks the hash match
    * vs the unconditional exact oracle:
    *  - ROW CONSERVATION (bit-exact): the cube's `n_rows` rolls up to
    *    the corpus's per-source row counts — the cube covers every row
    *    exactly once;
    *  - ACCURACY: every rolled-up estimate — both the one-hop rollup
    *    and the two-hop rollup through an intermediate (source, lang)
    *    sketch tier — lands within 15% of the exact distinct count
    *    (lgK=12 ⇒ rse ≈ 1.6%; wide margin for tiny groups).
    * Rolled estimates are deliberately NOT compared bit-exact across
    * paths or against a fresh single sketch: intermediate union
    * serialization and the HIP-vs-composite estimator split both move
    * estimates within the error band — see [[graft.operators.Sketch
    * .buildDistinctSketches]]. */
  // unconditional exact per-source distinct counts: the Spark side
  // only emits a row when the cube's row counts roll up EXACTLY and
  // BOTH rollup paths' estimates land within tolerance of the exact
  // count (bit-equality across paths is a documented non-guarantee)
  gate("q_sketch_rollup",
    // cube-sized aggregates: one-hop rollup (1) + two-hop rollup (2) +
    // corpus exact distinct (2: partial/final count_distinct) + the
    // final orderBy range exchange — the CORPUS is scanned once, for
    // the exact side only; the serve paths touch just the cube table
    Budget(6),
    """SELECT source, count(DISTINCT n_chars) AS n_exact
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val docs = t(s, dir, "documents").df
    val table = artifactTable(s, "hll_cube", dir, "documents")
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.replaceTable(s, table)
      Sketch.buildDistinctSketches(
          docs.withColumn("shard", col("doc_id") % 4),
          Seq("source", "lang", "shard"), "n_chars")
        .write.mode("overwrite").format("parquet").saveAsTable(table)
    }
    val cube = s.table(table)
    val oneHop = Sketch.rollupDistinct(cube, Seq("source"))
    val twoHop = Sketch.rollupDistinct(
        Sketch.rollupSketches(cube, Seq("source", "lang")), Seq("source"))
      .select(col("source"), col("est_distinct").as("__est2"),
        col("n_rows").as("__n2"))
    val exact = docs.groupBy(col("source"))
      .agg(count_distinct(col("n_chars")).as("n_exact"),
        count(lit(1)).as("__n_rows_corpus"))
    def withinTol(est: Column) =
      abs(est - col("n_exact")).cast("double") <= lit(0.15) * col("n_exact")
    oneHop.join(twoHop, "source").join(exact, "source")
      .filter(col("n_rows") === col("__n_rows_corpus") &&
        col("__n2") === col("__n_rows_corpus") &&
        withinTol(col("est_distinct")) && withinTol(col("__est2")))
      .select(col("source"), col("n_exact"))
      .orderBy(col("source"))
  }

  /** HLL cube MAINTENANCE-LOOP gate — the sketch family joins the
    * upsert/compact story, and mergeability IS the mechanism: the cube
    * is built over 80% of the corpus, the remaining docs' finest-group
    * sketch rows are APPENDED via [[graft.operators.Sketch
    * .upsertDistinctSketches]] (one aggregate over the delta, no corpus
    * access), then [[graft.operators.Sketch.compactDistinctCube]]
    * re-merges the accumulated rows as a staged generation promoted by
    * catalog rename. The served per-source report must STILL satisfy
    * q_sketch_rollup's full contract against the FULL corpus — row
    * conservation bit-exact (the appended delta covered exactly the
    * missing rows; the compaction lost none) and both rollup paths
    * within 15% of exact. Same oracle as q_sketch_rollup. */
  // the upsert+compact loop serves the SAME full-corpus contract
  gate("q_sketch_compact",
    // same serve shape over the upserted-then-compacted cube
    Budget(6),
    """SELECT source, count(DISTINCT n_chars) AS n_exact
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val docs = t(s, dir, "documents").df
    val keys = Seq("source", "lang", "shard")
    val table = artifactTable(s, "hll_cube_cpt", dir, "documents")
    onceUpserted(s, table) {
      graft.sources.Sources.replaceTable(s, table)
      Sketch.buildDistinctSketches(
          docs.filter(col("doc_id") % 5 =!= 0)
            .withColumn("shard", col("doc_id") % 4),
          keys, "n_chars")
        .write.mode("overwrite").format("parquet").saveAsTable(table)
      Sketch.upsertDistinctSketches(
        docs.filter(col("doc_id") % 5 === 0)
          .withColumn("shard", col("doc_id") % 4),
        keys, "n_chars", table)
      Sketch.compactDistinctCube(s, table, keys)
    }
    val cube = s.table(table)
    val oneHop = Sketch.rollupDistinct(cube, Seq("source"))
    val twoHop = Sketch.rollupDistinct(
        Sketch.rollupSketches(cube, Seq("source", "lang")), Seq("source"))
      .select(col("source"), col("est_distinct").as("__est2"),
        col("n_rows").as("__n2"))
    val exact = docs.groupBy(col("source"))
      .agg(count_distinct(col("n_chars")).as("n_exact"),
        count(lit(1)).as("__n_rows_corpus"))
    def withinTol(est: Column) =
      abs(est - col("n_exact")).cast("double") <= lit(0.15) * col("n_exact")
    oneHop.join(twoHop, "source").join(exact, "source")
      .filter(col("n_rows") === col("__n_rows_corpus") &&
        col("__n2") === col("__n_rows_corpus") &&
        withinTol(col("est_distinct")) && withinTol(col("__est2")))
      .select(col("source"), col("n_exact"))
      .orderBy(col("source"))
  }

  /** Sketch-cube TAKEDOWN gate — the sixth family's delete tier on the
    * oracle path, via the family's documented (and deliberately
    * different) mechanism: HLL registers are not invertible, so
    * [[graft.operators.Sketch.rebuildDistinctExcluding]] REBUILDS the
    * cube over corpus-minus-tombstones — one aggregate, staged beside
    * the live cube and promoted by catalog rename; the promoted files
    * never contained the deleted rows' contributions (physical erasure
    * in one step, no residual tombstones). The served per-source report
    * must satisfy q_sketch_rollup's full contract against the REDUCED
    * corpus: row conservation bit-exact (rebuild covered exactly the
    * surviving rows) and both rollup paths' estimates within 15% of the
    * reduced corpus's exact distinct counts. Build + takedown run once
    * per mtime-keyed generation. */
  // the takedown rebuild serves the REDUCED-corpus contract: exact
  // row conservation + both rollup paths in tolerance, minus the
  // tombstoned docs' contributions
  gate("q_sketch_delete",
    // same serve shape over the takedown-rebuilt cube (exact side scans
    // the reduced corpus)
    Budget(6),
    """SELECT source, count(DISTINCT n_chars) AS n_exact
      |FROM documents WHERE doc_id % 7 <> 3
      |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val docs = t(s, dir, "documents").df
    val keys = Seq("source", "lang", "shard")
    val table = artifactTable(s, "hll_cube_del", dir, "documents")
    val sharded = docs.withColumn("shard", col("doc_id") % 4)
    onceUpserted(s, table) {
      graft.sources.Sources.replaceTable(s, table)
      Sketch.buildDistinctSketches(sharded, keys, "n_chars")
        .write.mode("overwrite").format("parquet").saveAsTable(table)
      Sketch.rebuildDistinctExcluding(sharded, keys, "n_chars",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), table)
    }
    val reduced = docs.filter(col("doc_id") % 7 =!= 3)
    val cube = s.table(table)
    val oneHop = Sketch.rollupDistinct(cube, Seq("source"))
    val twoHop = Sketch.rollupDistinct(
        Sketch.rollupSketches(cube, Seq("source", "lang")), Seq("source"))
      .select(col("source"), col("est_distinct").as("__est2"),
        col("n_rows").as("__n2"))
    val exact = reduced.groupBy(col("source"))
      .agg(count_distinct(col("n_chars")).as("n_exact"),
        count(lit(1)).as("__n_rows_corpus"))
    def withinTol(est: Column) =
      abs(est - col("n_exact")).cast("double") <= lit(0.15) * col("n_exact")
    oneHop.join(twoHop, "source").join(exact, "source")
      .filter(col("n_rows") === col("__n_rows_corpus") &&
        col("__n2") === col("__n_rows_corpus") &&
        withinTol(col("est_distinct")) && withinTol(col("__est2")))
      .select(col("source"), col("n_exact"))
      .orderBy(col("source"))
  }

  /** STREAMING sketch-cube ingest gate — the sixth family's live
    * admission on the oracle path: the cube is built over 80% of the
    * corpus, the remaining docs STREAM through
    * [[graft.streaming.Streaming.sketchCubeIngestSink]] (each
    * micro-batch aggregates to its finest-group HLL rows and lands as
    * an idempotent `batch=<id>` segment), and the served per-source
    * report over base ∪ admitted segments must satisfy
    * q_sketch_rollup's FULL-corpus contract — row conservation
    * bit-exact (mergeability makes admission exact for counts) and the
    * rollup estimate within 15% of exact. Same oracle as
    * q_sketch_rollup. */
  // streaming admission serves the same full-corpus contract
  gate("q_stream_sketch_ingest",
    // one-hop rollup over base ∪ segments (2) + corpus exact distinct
    // (partial/final) — no two-hop leg in this gate
    Budget(4),
    """SELECT source, count(DISTINCT n_chars) AS n_exact
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val docs = t(s, dir, "documents").df
    val keys = Seq("source", "lang", "shard")
    val table = artifactTable(s, "hll_cube_ing", dir, "documents")
    val segDir = s"${s.conf.get("spark.sql.warehouse.dir")}/${table}_segs"
    onceUpserted(s, table) {
      graft.sources.Sources.replaceTable(s, table)
      graft.sources.Sources.replaceTable(s, s"${table}_folded")
      Sketch.buildDistinctSketches(
          docs.filter(col("doc_id") % 5 =!= 0)
            .withColumn("shard", col("doc_id") % 4),
          keys, "n_chars")
        .write.mode("overwrite").format("parquet").saveAsTable(table)
      val hp = new org.apache.hadoop.fs.Path(segDir)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val stream = graft.streaming.Streaming.fileStream(s, dir,
          "documents.parquet").filter(col("doc_id") % 5 === 0)
        .withColumn("shard", col("doc_id") % 4)
      val q = graft.streaming.Streaming.sketchCubeIngestSink(stream, table,
        keys, "n_chars", segDir)
      try q.processAllAvailable() finally q.stop()
    }
    val cube = Sketch.loadCubeWithSegments(s, table, segDir)
    val served = Sketch.rollupDistinct(cube, Seq("source"))
    val exact = docs.groupBy(col("source"))
      .agg(count_distinct(col("n_chars")).as("n_exact"),
        count(lit(1)).as("__n_rows_corpus"))
    served.join(exact, "source")
      .filter(col("n_rows") === col("__n_rows_corpus") &&
        abs(col("est_distinct") - col("n_exact")).cast("double") <=
          lit(0.15) * col("n_exact"))
      .select(col("source"), col("n_exact"))
      .orderBy(col("source"))
  }

  /** KLL quantile-rollup gate — the QUANTILE face of the persisted
    * sketch cube: per-(source, lang, shard) KLL sketches of n_chars are
    * built once (mtime-keyed artifact, sharing `q_sketch_rollup`'s
    * build discipline), then per-source p50/p90 are served by MERGE
    * with no corpus access. The gated contract is KLL's actual
    * guarantee — the RANK of the served quantile (see [[kllRankGate]]:
    * rank error ≤ max(0.05·n, 1 rank); KLL's guarantee is normalized
    * rank error, ~1.65% at k = 200/99% conf, so 5% is wide margin) —
    * and the cube's row counts must roll up exactly. Rows failing
    * either drop and break the hash match vs the unconditional exact
    * per-source row-count oracle. */
  // unconditional exact per-source row counts: the Spark side only
  // emits a row when the merged KLL p50/p90's true ranks are within
  // 5% of target and the cube's row counts conserve exactly
  gate("q_quantile_rollup",
    // merge rollup over the cube (1) + the grouped rank check over the
    // broadcast-joined corpus (partial/final fold into one visible
    // exchange at audit scale) + the orderBy exchange
    Budget(3),
    """SELECT source, count(n_chars) AS n_rows
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val docs = t(s, dir, "documents").df
    val table = artifactTable(s, "kll_cube", dir, "documents")
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.replaceTable(s, table)
      Sketch.buildQuantileSketches(
          docs.withColumn("shard", col("doc_id") % 4),
          Seq("source", "lang", "shard"), "n_chars")
        .write.mode("overwrite").format("parquet").saveAsTable(table)
    }
    val served = Sketch.rollupQuantiles(s.table(table), Seq("source"),
        Seq(0.5, 0.9))
      .select(col("source"), col("q_50").as("__q50"),
        col("q_90").as("__q90"), col("n_rows"))
    kllRankGate(docs, col("n_chars"), served, Seq("source"))
  }

  /** Count-min-sketch frequency gate: per event type, the exact count,
    * emitted only if the CMS estimate respects both CMS guarantees
    * (never under-counts; over-counts by at most eps·N). A dropped row
    * breaks the hash match against the unconditional exact oracle. */
  gate("q_cms_counts",
    // q_cms_counts 2 → 3: the CMS serve became a lazy in-plan aggregate
    // (global agg = +1 single-partition exchange of ONE sketch row)
    // instead of a driver-side collect-and-relit
    Budget(3,
      bnlj = Some("CMS serve join: build side is exactly ONE broadcast row (the sketch aggregate), probed by a bounded candidate list")),
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val ev = events(s, dir).df.select(col("event_type"))
    // one exact aggregate (type-count-sized, bytes) yields the type list,
    // the stream length, AND the gate's exact side — the corpus scans
    // twice (exact + sketch) instead of four times, and only the tiny
    // aggregate is pinned in the cache manager
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exactRows = exact.orderBy(col("event_type")).collect()
    val types = exactRows.map(_.getString(0)).toSeq
    val total = exactRows.map(_.getLong(1)).sum
    val est = Sketch.cmsEstimates(ev, "event_type", types, eps = 0.0001)
    est.join(exact, "event_type")
      .filter(col("est_count") >= col("n") &&
        col("est_count") <= col("n") + lit(math.ceil(0.0001 * total).toLong))
      .select(col("event_type"), col("n"))
      .orderBy(col("event_type"))
  }

  /** Misra-Gries HEAVY-HITTER GATE: 28 counters over the ~31-distinct-
    * token corpus stream — real eviction pressure, not a trivially-exact
    * run. Emits the exact count of every token whose frequency clears
    * the MG threshold (n·29 > N), but only when the sketch honored its
    * contract for that token: present among the candidates with
    * exact − N/29 ≤ est ≤ exact (integer-exact inequalities, no float
    * thresholds). A violated bound drops the row and breaks the hash
    * match against the unconditional exact oracle. est_count itself is
    * merge-order-dependent inside the guarantee band, so it is gated,
    * never emitted. */
  gate("q_heavy_hitters", Budget(3),
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents
      |), t2 AS (SELECT token FROM toks WHERE token <> ''),
      |tot AS (SELECT count(*) AS n_total FROM t2)
      |SELECT token, count(*) AS n FROM t2
      |GROUP BY token
      |HAVING count(*) * 29 > (SELECT n_total FROM tot)
      |ORDER BY token""".stripMargin) { (s, dir) =>
    import graft.operators.Sketch
    val k = 28
    // pin the TINY exact-count frame (vocab-sized, KBs) and derive the
    // stream length from it — the corpus tokenizes twice (counts +
    // sketch) instead of three times, and nothing corpus-sized stays in
    // the cache manager for the rest of the session
    val toks = t(s, dir, "documents").df
      .select(explode(TextAnalysis.words(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTotal = counts.agg(sum(col("n"))).head().getLong(0)
    val hh = Sketch.heavyHitters(toks, "token", k)
    counts
      .filter(col("n") * (k + 1) > lit(nTotal))
      .join(hh, col("token") === col("item"), "left")
      .filter(col("item").isNotNull &&
        col("est_count") <= col("n") &&
        col("est_count") * (k + 1) >= col("n") * (k + 1) - lit(nTotal))
      .select(col("token"), col("n"))
      .orderBy(col("token"))
  }
}
