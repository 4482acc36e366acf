package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximations (beyond the reference — the estimators a
  * 100 TB pipeline reaches for when the exact answer is a shuffle-heavy
  * luxury: per-group cardinalities for corpus reports, frequency
  * estimates for heavy-hitter analysis).
  *
  * Scale shape: both sketches aggregate with map-side partial combine —
  * the shuffle moves fixed-size sketch buffers (HLL registers / CMS
  * grids), never value sets. That is the whole point: exact
  * count-distinct shuffles every distinct value; the HLL buffer is KBs
  * per group regardless of cardinality.
  */
object Sketch {

  /** Per-group approximate distinct count (HyperLogLog++,
    * `approx_count_distinct`). `rsd` is the target relative standard
    * deviation (Spark default 0.05). */
  def approxDistinct(df: DataFrame, groupKeys: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(groupKeys.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_nd"))

  /** Accuracy-gated distinct report: per group, the EXACT distinct count
    * plus a flag that the HLL estimate landed within `tol` relative
    * error. Both aggregates share one shuffle (two aggregation buffers,
    * one pass). Downstream keeps the exact value; the flag exists so a
    * correctness gate can pin the estimator — rows only hash-match an
    * exact-only oracle if every estimate was in tolerance.
    *
    * This is the verification-grade shape (it still pays the exact
    * count); production reporting at scale calls [[approxDistinct]]
    * alone. */
  def distinctReport(df: DataFrame, groupKeys: Seq[String], valueCol: String,
      rsd: Double = 0.05, tol: Double = 0.15): DataFrame =
    df.groupBy(groupKeys.map(col): _*)
      .agg(count_distinct(col(valueCol)).as("exact_nd"),
        approx_count_distinct(col(valueCol), rsd).as("__approx"))
      .withColumn("within_tol",
        abs(col("__approx") - col("exact_nd")).cast("double") <=
          lit(tol) * col("exact_nd"))
      .drop("__approx")

  // ------------------------------------------------------------------
  // Mergeable sketch ROLLUP (the pre-aggregated reporting cube)
  // ------------------------------------------------------------------

  /** Per-group Datasketches HLL sketches: one `(keys..., sketch, n_rows)`
    * row per group, with `sketch` the serialized HLL of `valueCol`'s
    * distinct values (lgK registers; map-side partially aggregated like
    * any Spark agg). This is the BUILD half of the sketch-rollup pattern:
    * persist this table once per corpus generation at the finest grouping
    * you report on, and every coarser rollup merges sketches instead of
    * rescanning the corpus — the cube is group-count-sized, the corpus is
    * 100 TB.
    *
    * Guarantees (and the deliberate non-guarantees): per-group row
    * counts roll up EXACTLY (the cube covers every row once), repeated
    * rollups of the same persisted cube are deterministic, and every
    * rollup path reports within the ~1.04/√2^lgK relative-error band of
    * the exact count — which is what the accuracy gate checks. Estimate
    * BIT-stability beyond that is not promised: different rollup paths,
    * different build layouts, and rolled-vs-lone-sketch comparisons can
    * each nudge registers or switch estimators (set→HLL promotion
    * points depend on partial-merge order; an intermediate union gadget
    * serializes to a target sketch type; a lone sketch answers with the
    * stream-order-dependent HIP estimator while a union falls back to
    * composite). All of it stays inside the same error band — measured
    * in SketchSpec. */
  def buildDistinctSketches(df: DataFrame, keys: Seq[String],
      valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_rows"))

  /** INCREMENTAL upsert into a persisted HLL sketch cube — the sketch
    * family's maintenance loop, and the one where mergeability IS the
    * upsert mechanism: the delta's finest-group sketch rows simply
    * APPEND (one aggregate over the DELTA, no corpus access, no base
    * file rewritten), because every serve-side rollup already groups by
    * its keep-keys across ALL rows — a finest group that accumulated
    * several rows (base + N deltas) merges at serve time for free,
    * with row counts still exact and estimates inside the same error
    * band (union of unions is a union). [[compactDistinctCube]] heals
    * the per-group row accumulation on cadence.
    *
    * The deliberate NON-capability, stated here because every other
    * serving family has one: sketches do not support tombstone-mask
    * TAKEDOWN — HLL registers and KLL compactors are not invertible,
    * so deletion from a sketch cube is a REBUILD over the reduced
    * corpus (cheap: one aggregate), never a mask. That rebuild is
    * callable: [[rebuildDistinctExcluding]] /
    * [[rebuildQuantileExcluding]]. */
  def upsertDistinctSketches(delta: DataFrame, keys: Seq[String],
      valueCol: String, table: String, lgK: Int = 12): Unit =
    buildDistinctSketches(delta, keys, valueCol, lgK)
      .write.mode("append").format("parquet").saveAsTable(table)

  /** [[upsertDistinctSketches]] for the KLL quantile cube. */
  def upsertQuantileSketches(delta: DataFrame, keys: Seq[String],
      valueCol: String, table: String, k: Int = 200): Unit =
    buildQuantileSketches(delta, keys, valueCol, k)
      .write.mode("append").format("parquet").saveAsTable(table)

  /** COMPACTION for a persisted sketch cube: re-merge the accumulated
    * rows down to one row per finest group — layout hygiene for the
    * append-only upsert path; content is invariant (sketch union is
    * associative) up to the documented estimator nudges inside the
    * error band. A staged generation ([[Generations]]): a delta
    * upserted mid-rewrite is COPIED verbatim into the staged cube at the
    * promote (sketch rows are generation-independent — nothing
    * re-derives). */
  def compactDistinctCube(spark: org.apache.spark.sql.SparkSession,
      table: String, keys: Seq[String]): Unit = {
    buildNextSketchCube(spark, table, rollupSketches(_, keys))
    promoteSketchCube(spark, table)
  }

  /** [[compactDistinctCube]] for the KLL quantile cube (`k` must match
    * the build-time k — see [[rollupQuantileSketches]]). */
  def compactQuantileCube(spark: org.apache.spark.sql.SparkSession,
      table: String, keys: Seq[String], k: Int = 200): Unit = {
    buildNextSketchCube(spark, table, rollupQuantileSketches(_, keys, k))
    promoteSketchCube(spark, table)
  }

  /** TAKEDOWN for a persisted HLL sketch cube — the family's
    * non-invertibility answer made callable instead of hand-rolled:
    * HLL registers cannot subtract, so deletion is a REBUILD of the
    * cube over corpus-minus-tombstones — ONE aggregate over the
    * reduced corpus (the corpus scan is the documented price of sketch
    * takedown; there is no cheaper exact path), staged-promoted like a
    * compaction ([[Generations]]): sketch rows upserted mid-rebuild are
    * copied verbatim into the staged cube at the promote (they are
    * fresh admissions, not part of the takedown request — a delta that
    * OVERLAPS the tombstoned ids is the caller's sequencing error,
    * exactly as re-admitting a deleted doc is on the mask-based
    * families). The promoted cube's files
    * never contained the deleted rows' contributions — physical erasure
    * in one step, no residual tombstones to reclaim.
    *
    * `tombstones` is a one-column frame named with the corpus column to
    * exclude on (typically the doc id). */
  def rebuildDistinctExcluding(corpus: DataFrame, keys: Seq[String],
      valueCol: String, tombstones: DataFrame, table: String,
      lgK: Int = 12): Unit =
    rebuildExcluding(corpus, tombstones, table,
      reduced => buildDistinctSketches(reduced, keys, valueCol, lgK))

  /** [[rebuildDistinctExcluding]] for the KLL quantile cube (`k` must
    * match the build-time k — see [[rollupQuantileSketches]]). */
  def rebuildQuantileExcluding(corpus: DataFrame, keys: Seq[String],
      valueCol: String, tombstones: DataFrame, table: String,
      k: Int = 200): Unit =
    rebuildExcluding(corpus, tombstones, table,
      reduced => buildQuantileSketches(reduced, keys, valueCol, k))

  private def rebuildExcluding(corpus: DataFrame, tombstones: DataFrame,
      table: String, build: DataFrame => DataFrame): Unit = {
    val spark = corpus.sparkSession
    val idCol = tombstones.columns.head
    // takedown sets are requests, not ingest: broadcast anti-join, the
    // same mask shape every other family serves through — here applied
    // once at rebuild time instead of on every query
    val reduced = corpus.join(
      broadcast(tombstones.select(col(idCol)).dropDuplicates(idCol)),
      Seq(idCol), "left_anti")
    buildNextSketchCube(spark, table, _ => build(reduced))
    promoteSketchCube(spark, table)
  }

  /** The long half of a cube compaction: `merge` over the pinned cube
    * into the staged cube ([[Generations.buildNext]]). */
  def buildNextSketchCube(spark: org.apache.spark.sql.SparkSession,
      table: String, merge: DataFrame => DataFrame): Unit = {
    val a = Generations.Artifact(table, Seq(table))
    Generations.buildNext(spark, a) { b =>
      graft.sources.Sources.replaceTable(spark, a.staged(0))
      merge(b.input(0)).write.format("parquet")
        .options(graft.sources.Sources.stagedWriteOptions(spark, a.staged(0)))
        .saveAsTable(a.staged(0))
    }
  }

  /** The short half ([[Generations.promote]]): the catch-up copies rows
    * upserted since the build verbatim — the serve-side rollup merges
    * them exactly as it merged them against the old layout. */
  def promoteSketchCube(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val a = Generations.Artifact(table, Seq(table))
    Generations.promote(spark, a, admit = (_, rows, _) =>
      rows.write.mode("append").format("parquet").saveAsTable(a.staged(0)))
  }

  /** Load a persisted sketch cube over base ∪ streaming-admitted
    * segments ([[graft.streaming.Streaming.sketchCubeIngestSink]]):
    * segment rows are finest-group sketch rows exactly like the base's,
    * so base ∪ segments is content-equivalent to upserting every
    * admitted batch — the serve-side rollup merges across all of them.
    * Ledgered and incomplete segments are skipped
    * ([[graft.operators.Segments]]). */
  def loadCubeWithSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): DataFrame = {
    val base = spark.table(table)
    val segs = Segments.pendingFor(spark, table, segDir)
    if (segs.isEmpty) base
    else base.unionByName(Segments.read(spark, segDir, segs))
  }

  /** Fold streaming-admitted cube segments into the base table — a
    * plain append (segment rows ARE finest-group sketch rows; nothing
    * re-derives) through [[graft.operators.Segments]]' ledgered fold.
    * The per-group row accumulation this leaves is exactly what
    * [[compactDistinctCube]]/[[compactQuantileCube]] heal on their
    * cadence. */
  def foldSketchSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): Unit =
    Segments.foldInto(spark, table, segDir)(todo =>
      Segments.read(spark, segDir, todo)
        .write.mode("append").format("parquet").saveAsTable(table))

  /** Intermediate rollup that KEEPS sketches mergeable: union down to
    * `keepKeys`, preserving the `sketch` column for further rollups —
    * the multi-tier cube shape (hour → day → month) where each tier is
    * itself a persisted sketch table. */
  def rollupSketches(sketches: DataFrame, keepKeys: Seq[String]): DataFrame =
    sketches.groupBy(keepKeys.map(col): _*)
      .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"),
        sum(col("n_rows")).as("n_rows"))

  /** The SERVE half: roll a sketch table up to `keepKeys` by HLL union
    * and report the distinct estimate per coarser group — no corpus
    * access at all. Composes [[rollupSketches]] (one union
    * implementation) + the estimate projection. See
    * [[buildDistinctSketches]] for the accuracy guarantees. */
  def rollupDistinct(sketches: DataFrame, keepKeys: Seq[String]): DataFrame =
    rollupSketches(sketches, keepKeys)
      .select(keepKeys.map(col) ++ Seq(
        hll_sketch_estimate(col("sketch")).as("est_distinct"),
        col("n_rows")): _*)

  /** Per-group KLL quantile sketches over a BIGINT column — the
    * QUANTILE companion to [[buildDistinctSketches]]'s cube: persist at
    * the finest grouping once per corpus generation, and serve any
    * coarser group's quantiles by MERGING sketches (KLL merge preserves
    * the rank-error guarantee; k = 200 ⇒ normalized rank error ≈ 1.65%
    * at 99% confidence). Same non-guarantees as the HLL cube: merged
    * sketches are deterministic for a fixed cube but not bit-stable
    * across build layouts; the gated contract is the RANK guarantee —
    * the true rank of a served q-quantile sits within ε of q·n. */
  def buildQuantileSketches(df: DataFrame, keys: Seq[String],
      valueCol: String, k: Int = 200): DataFrame =
    df.groupBy(keys.map(col): _*)
      // count(valueCol), not count(*): the sketch skips NULLs, and
      // n_rows is the rank denominator — counting NULL rows would skew
      // every q·n target on a nullable column
      .agg(kll_sketch_agg_bigint(col(valueCol), lit(k)).as("qsketch"),
        count(col(valueCol)).as("n_rows"))

  /** Merge a KLL sketch table down to `keepKeys`, keeping the sketch
    * mergeable for further tiers (the [[rollupSketches]] shape).
    * `k` MUST match the build-time k: Spark's `kll_merge_agg_bigint`
    * builds its merge target with the DEFAULT k (200) when none is
    * given, silently downgrading a higher-precision build — so the
    * parameter is threaded, not defaulted away. */
  def rollupQuantileSketches(sketches: DataFrame,
      keepKeys: Seq[String], k: Int = 200): DataFrame =
    sketches.groupBy(keepKeys.map(col): _*)
      .agg(kll_merge_agg_bigint(col("qsketch"), lit(k)).as("qsketch"),
        sum(col("n_rows")).as("n_rows"))

  /** [[rollupQuantileSketches]] for DOUBLE-typed KLL sketches (the
    * [[graft.streaming.Streaming.quantilesStream]] output) — the
    * Datasketches wire formats are type-specific, so a bigint merge of
    * a doubles sketch throws; pick the variant matching the build. */
  def rollupQuantileSketchesDouble(sketches: DataFrame,
      keepKeys: Seq[String], k: Int = 200): DataFrame =
    sketches.groupBy(keepKeys.map(col): _*)
      .agg(kll_merge_agg_double(col("qsketch"), lit(k)).as("qsketch"),
        sum(col("n_rows")).as("n_rows"))

  /** Collision-free column name for a quantile: `q_50`/`q_90` for whole
    * percents, the full decimal otherwise (`q_0_995`) — a rounded
    * percent would alias 0.995 and 0.999 onto one name. */
  private def quantileColName(q: Double): String = {
    val pct = q * 100
    if (math.abs(pct - pct.round) < 1e-9) s"q_${pct.round}"
    else "q_" + q.toString.replace(".", "_").replace("-", "m")
  }

  /** Serve quantile estimates per coarser group from a sketch table —
    * one column per requested quantile ([[quantileColName]] naming), no
    * corpus access. `k` must match the build (see
    * [[rollupQuantileSketches]]). */
  def rollupQuantiles(sketches: DataFrame, keepKeys: Seq[String],
      quantiles: Seq[Double], k: Int = 200): DataFrame = {
    val names = quantiles.map(quantileColName)
    require(names.distinct == names,
      s"quantile column names collide: $names")
    val merged = rollupQuantileSketches(sketches, keepKeys, k)
    // n_rows == 0 ⇔ the group's valueCol was entirely NULL ⇔ the merged
    // sketch is empty, and Datasketches' getQuantile THROWS on an empty
    // sketch — serve NULL for such groups instead of crashing the scan
    val cols = keepKeys.map(col) ++ quantiles.zip(names).map { case (q, n) =>
      when(col("n_rows") > 0,
        kll_sketch_get_quantile_bigint(col("qsketch"), lit(q)))
        .otherwise(lit(null)).as(n)
    } :+ col("n_rows")
    merged.select(cols: _*)
  }

  /** Misra-Gries heavy hitters over `valueCol`: one row per candidate
    * `(item, est_count)`, where every value with true frequency > N/(k+1)
    * is guaranteed a row and `true − N/(k+1) ≤ est_count ≤ true`. The
    * whole aggregation moves O(k) state per partition (map-side combined,
    * merge-safe per Agarwal et al. 2012) — the sketch answers "what
    * dominates this 100 TB column" without shuffling its distinct values.
    * Estimates depend on merge order within the guarantee band, so treat
    * `est_count` as a bound, not a statistic — downstream exact counts
    * for the candidate set are one semi-join away. */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int): DataFrame =
    df.agg(graft.functions.Aggregators.heavy_hitters(col(valueCol), k).as("__hh"))
      .select(explode(col("__hh")).as(Seq("item", "est_count")))

  /** Count-min-sketch frequency estimates for a candidate set of values:
    * builds ONE CMS over `valueCol` (eps/confidence size the grid) and
    * evaluates each candidate against it — all INSIDE the returned plan
    * (nothing executes until the caller's first action, the engine-wide
    * lazy contract). The sketch is a single fixed-size aggregation
    * buffer (map-side combined) that broadcasts as ONE row; candidates
    * are a tiny literal table; the lookup is the codegen'd
    * [[graft.functions.SketchExpressions.cms_estimate]] expression. The
    * nominal nested-loop join is a map over the candidate side against a
    * one-row build — scale-safe at any corpus size. Estimates only ever
    * OVER-count (CMS guarantee): `est ≥ true`, and `est ≤ true + eps·N`
    * with probability `confidence`. */
  def cmsEstimates(df: DataFrame, valueCol: String,
      candidates: Seq[String], eps: Double = 0.0001,
      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sk = df
      .agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence), lit(seed))
        .as("__sk"))
    candidates.toDF(valueCol)
      .crossJoin(broadcast(sk))
      .select(col(valueCol),
        graft.functions.SketchExpressions
          .cms_estimate(col("__sk"), col(valueCol)).as("est_count"))
  }
}
