package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`) —
  * BASELINE.json north-star operator, beyond the reference.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — one scan, one TakeOrdered;
  *     the correctness baseline at any scale where a full scan is
  *     affordable;
  *   - [[lshTopK]]: random-hyperplane LSH — deterministic hyperplanes
  *     derived from splitmix64, bucket the table once (cacheable /
  *     writable), probe only matching buckets at query time. The 100 TB
  *     path: candidate set shrinks ~2^bits fold per table scan avoided.
  */
object Similarity {

  import graft.functions.VectorExpressions.{vec_dot, vec_norm}

  /** Codegen'd dot product (see [[graft.functions.VecDot]]). */
  private def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** Exact cosine top-k against a literal query vector: one scan +
    * TakeOrdered, dot product in whole-stage codegen. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val v = col(vecCol)
    df.select(col(idCol),
        (dot(v, q) / (vec_norm(v) * lit(qNorm))).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** FILTERED exact cosine top-k: [[bruteForceTopK]] with a metadata
    * predicate composed BEFORE the ranking — the filtered-search shape
    * every production vector workload needs ("nearest English docs",
    * "nearest rows of label L"). The predicate is a plain Catalyst
    * `Column`, so it rides the scan: against parquet it reaches
    * `PushedFilters` (row-group stats prune bytes before the dot
    * product runs), and against a partitioned serving layout a
    * partition-column predicate prunes whole directories. Top-k is
    * computed over the SURVIVORS — exact within the filtered corpus by
    * construction, no post-filter recall loss (the pre- vs
    * post-filtering distinction the ANN literature draws: this is
    * pre-filtering, the exact baseline [[ivfTopKFiltered]] trades
    * against). */
  def bruteForceTopKFiltered(df: DataFrame, idCol: String, vecCol: String,
      predicate: Column, query: Seq[Double], k: Int): DataFrame =
    bruteForceTopK(df.filter(predicate), idCol, vecCol, query, k)

  /** BATCH exact cosine top-k: a WORKLOAD of query vectors scored in
    * one plan — the corpus is scanned ONCE and every (corpus row,
    * query) pair scores map-side against the broadcast workload; the
    * per-query top-k is a window PARTITIONED BY query (per-query k-row
    * state, never a global sort). The [[graft.operators.Search
    * .searchBm25Batch]] companion on the vector side — together they
    * feed per-query fusion ([[Fusion.rrfByQuery]]) and batch
    * evaluation. `queries` carries (queryIdCol, queryVecCol); returns
    * (queryIdCol, idCol, cosine, cos_rank) with rank ≤ k. The
    * broadcast cross product is the intended shape: workload-sized
    * build side, one streamed corpus scan — the brute-force baseline
    * the bucketed ANN families replace when selectivity matters. */
  def bruteForceTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val q = queries.select(col(queryIdCol),
      col(queryVecCol).cast("array<double>").as("__qv"))
    val v = col(vecCol)
    val scored = df.select(col(idCol), v.as("__v"))
      .crossJoin(broadcast(q))
      .select(col(queryIdCol), col(idCol),
        (dot(col("__v"), col("__qv"))
          / (vec_norm(col("__v")) * vec_norm(col("__qv")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("cos_rank", row_number().over(w))
      .filter(col("cos_rank") <= k)
      .orderBy(col(queryIdCol), col("cos_rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * splitmix64 → uniform in [-1, 1). No RNG state, reproducible anywhere. */
  private def planeComponent(plane: Int, dim: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  private[graft] def codeColumn(v: Column, dims: Int, bits: Int, table: Int): Column =
    (0 until bits).map { p =>
      val plane = array((0 until dims).map(d =>
        lit(planeComponent(table * bits + p, d))): _*)
      when(dot(v, plane) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  private def queryCode(query: Seq[Double], bits: Int, table: Int,
      dims: Int): Long =
    (0 until bits).map { p =>
      // hash over exactly the same component count as the data-side code
      // (codeColumn uses `dims` planes; VecDot truncates at min length) —
      // summing the query's full length would be a DIFFERENT hash
      // function and recall would silently collapse
      val n = math.min(dims, query.length)
      val d = (0 until n).map(i => query(i) * planeComponent(table * bits + p, i)).sum
      if (d >= 0) 1L << p else 0L
    }.reduce(_ | _)

  /** Sign-random-projection bucket id (`bits`-bit code) for each row. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, bits: Int = 12): DataFrame =
    graft.core.Partitions.ensureParallelism(df)
      .withColumn("bucket", codeColumn(col(vecCol), dims, bits, table = 0))

  /** Multi-table variant: `tables` independent hyperplane sets, one
    * bucket column per table (`bucket_0..bucket_{L-1}`). The classic
    * LSH amplification — per-table miss probabilities MULTIPLY, which is
    * what makes high recall affordable: L small-radius probes beat one
    * huge-radius probe (probing radius r costs Σ C(bits,i) buckets). */
  def lshBucketsMulti(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, bits: Int = 8, tables: Int = 2): DataFrame =
    (0 until tables).foldLeft(graft.core.Partitions.ensureParallelism(df)) {
      (d, t) => d.withColumn(s"bucket_$t", codeColumn(col(vecCol), dims, bits, t))
    }

  /** LSH-accelerated approximate top-k: probe buckets within `probeDist`
    * Hamming distance of the query's bucket, exact-rank the candidates.
    * `dims` must match the value given to [[lshBuckets]] (defaults to
    * the query length). */
  def lshTopK(bucketed: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, bits: Int = 12, probeDist: Int = 1,
      dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else query.length
    val qCode = queryCode(query, bits, table = 0, dims = d)
    val cands = bucketed.filter(
      bit_count(col("bucket").bitwiseXOR(lit(qCode))) <= probeDist)
    bruteForceTopK(cands, idCol, vecCol, query, k)
  }

  /** Multi-table approximate top-k over [[lshBucketsMulti]] output: a row
    * is a candidate if ANY table's bucket falls within `probeDist` of the
    * query's code for that table — one scan, an OR of per-table bit
    * tests, no union. `dims` must match [[lshBucketsMulti]]. */
  def lshTopKMulti(bucketed: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, bits: Int = 8, probeDist: Int = 2,
      tables: Int = 2, dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else query.length
    val cond = (0 until tables).map { t =>
      bit_count(col(s"bucket_$t").bitwiseXOR(
        lit(queryCode(query, bits, t, dims = d)))) <= probeDist
    }.reduce(_ || _)
    bruteForceTopK(bucketed.filter(cond), idCol, vecCol, query, k)
  }

  /** Persist a multi-table LSH index in the CLASSIC serving layout: one
    * projection per hash table, each written PARTITIONED BY its bucket
    * id, so a query's probe set (every code within Hamming `probeDist`
    * of the query's code) becomes an `IN` partition filter that prunes
    * directories at the source. Storage is `tables`× the corpus — the
    * standard LSH trade: L independent small-radius probes buy the
    * multiplied miss probability. A `<table>_meta` sibling pins
    * (bits, tables, dims) so serving can never silently hash with
    * different parameters than the build. */
  def saveLshIndex(df: DataFrame, vecCol: String, dims: Int,
      table: String, bits: Int = 8, tables: Int = 2): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // a rebuilt artifact is a fresh identity: a stale fold ledger could
    // mark a new checkpoint's batch ids as already folded, and stale
    // tombstones would mask the new corpus's valid ids
    graft.sources.Sources.replaceTable(spark, s"${table}_folded")
    graft.sources.Sources.replaceTable(spark, s"${table}_deleted")
    for (t <- 0 until tables) {
      graft.sources.Sources.replaceTable(spark, s"${table}_t$t")
      df.withColumn("bucket", codeColumn(col(vecCol), dims, bits, t))
        .write.mode("overwrite").format("parquet")
        .options(graft.sources.Sources.stagedWriteOptions(spark, s"${table}_t$t"))
        .partitionBy("bucket").saveAsTable(s"${table}_t$t")
    }
    graft.sources.Sources.replaceTable(spark, s"${table}_meta")
    Seq((bits, tables, dims)).toDF("bits", "tables", "dims")
      .write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, s"${table}_meta"))
      .saveAsTable(s"${table}_meta")
    // read-your-own-writes under a nonzero stamp TTL: the rebuilding
    // session must serve its own new meta immediately
    cachesFor(spark).lshMeta.remove(table)
  }

  /** Per-session driver-side caches of build-time constants (LSH meta,
    * IVF centroids, PQ codebooks — KBs each). Keyed WEAKLY by session:
    * a closed/unreferenced SparkSession and its cached artifacts become
    * collectable instead of living for the JVM lifetime. Access is
    * synchronized on the map (WeakHashMap is not thread-safe); the
    * per-session TrieMaps handle concurrent per-table access. Entries
    * are GENERATION-STAMP keyed ([[graft.sources.Sources.tableStamp]]
    * of the constants' sibling table): a rebuild/retrain/promote
    * committed by ANY session changes the sibling's file set, so every
    * other live session re-collects the new constants on its next
    * serve call — no stale-centroid probing against a re-encoded
    * generation, no restart, no manual invalidation. */
  private final class SessionCaches {
    val lshMeta = scala.collection.concurrent
      .TrieMap.empty[String, (String, Long, (Int, Int, Int))]
    val centroids = scala.collection.concurrent
      .TrieMap.empty[String, (String, Long, Array[Array[Double]])]
    val codebooks = scala.collection.concurrent
      .TrieMap.empty[String, (String, Long, Array[Array[Array[Double]]])]
  }
  private val sessionCaches =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, SessionCaches]()
  private def cachesFor(spark: org.apache.spark.sql.SparkSession): SessionCaches =
    sessionCaches.synchronized {
      var c = sessionCaches.get(spark)
      if (c == null) { c = new SessionCaches; sessionCaches.put(spark, c) }
      c
    }

  /** Build-if-missing for the persisted LSH layout. An existing artifact
    * is reused only when its pinned (bits, tables, dims) match the
    * request — a parameter change rebuilds instead of silently serving
    * the old hash configuration. Pass `fingerprint` (e.g.
    * [[graft.sources.Sources.pathFingerprint]] of the corpus) to also
    * detect SOURCE-DATA changes: a stored artifact whose stamped
    * fingerprint differs rebuilds instead of silently serving stale
    * data. An empty fingerprint keeps the name-identifies-a-build
    * contract (use a new name when the corpus changes). */
  def lshIndexFor(df: DataFrame, vecCol: String, dims: Int,
      table: String, bits: Int = 8, tables: Int = 2,
      fingerprint: String = ""): Unit = {
    val spark = df.sparkSession
    val matches = spark.catalog.tableExists(s"${table}_meta") &&
      (0 until tables).forall(t => spark.catalog.tableExists(s"${table}_t$t")) && {
        val m = spark.table(s"${table}_meta").head()
        (m.getInt(0), m.getInt(1), m.getInt(2)) == ((bits, tables, dims))
      } && (fingerprint.isEmpty ||
        graft.sources.Sources.readFingerprint(spark, table)
          .contains(fingerprint))
    if (!matches) {
      saveLshIndex(df, vecCol, dims, table, bits, tables)
      // stamped LAST: a build that dies mid-way reads as a mismatch
      if (fingerprint.nonEmpty)
        graft.sources.Sources.writeFingerprint(spark, table, fingerprint)
    }
  }

  /** INCREMENTAL upsert into a persisted LSH serving layout: hash ONLY
    * the `delta` rows with the artifact's pinned (bits, tables, dims)
    * and APPEND them into each hash table's bucket-partitioned
    * projection. Unlike the IVF/PQ upserts there is NO drift to
    * compact away: the hyperplanes are deterministic functions of
    * (table, plane, dim) — splitmix64, never trained — so an upserted
    * layout is IDENTICAL in content to a full rebuild over the grown
    * corpus; the only rebuild reason left is file-count hygiene —
    * [[compactLshIndex]]'s job, on cadence. Identity is append-only —
    * the caller owns id uniqueness (the dedup tier). */
  def upsertLshIndex(delta: DataFrame, vecCol: String, table: String): Unit = {
    val spark = delta.sparkSession
    val (bits, tables, dims) = lshMetaFor(spark, table)
    for (t <- 0 until tables)
      delta.withColumn("bucket", codeColumn(col(vecCol), dims, bits, t))
        .write.mode("append").format("parquet")
        .partitionBy("bucket").saveAsTable(s"${table}_t$t")
  }

  private[graft] def lshMetaFor(spark: org.apache.spark.sql.SparkSession,
      table: String): (Int, Int, Int) =
    graft.sources.Sources.stamped(spark, cachesFor(spark).lshMeta, table,
      s"${table}_meta") {
      val m = spark.table(s"${table}_meta").head()
      // a meta move means a REBUILD: refresh every projection's cached
      // listing too (their files were replaced under this session).
      // Cross-session APPENDS (upserts) move no meta — a reader session
      // serves the snapshot its relation cache listed until any
      // generation change or REFRESH TABLE advances it, Spark's
      // standard external-writer contract.
      (0 until m.getInt(1)).foreach { t =>
        if (spark.catalog.tableExists(s"${table}_t$t"))
          spark.catalog.refreshTable(s"${table}_t$t")
      }
      (m.getInt(0), m.getInt(1), m.getInt(2))
    }

  /** DELETE vectors from a persisted ANN serving artifact (IVF, PQ, or
    * LSH — the tombstone sibling keys on the artifact prefix, so one
    * call covers an LSH layout's every projection) — the takedown path
    * ([[graft.operators.Tombstones]]): `ids` is a one-column frame
    * named with the artifact's id column; the ids append into
    * `<table>_deleted` in one small commit and every serve path (base,
    * upserted deltas, streaming segments) masks them with a broadcast
    * anti-join from that moment. No base file is rewritten and nothing
    * retrains — unlike the append side there is no drift to manage:
    * masked rows simply stop being candidates. Physical erasure and
    * geometry forgetting (centroids/codebooks retrained WITHOUT the
    * deleted vectors) ride the family's next compaction cadence.
    * Re-deleting an id is a no-op; deleting an unknown id is a harmless
    * permanent tombstone (reclaimed at compaction). */
  def deleteVectors(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame): Unit = {
    val idCol = ids.columns.head
    val dedup = ids.select(col(idCol)).dropDuplicates(idCol)
    val fresh = graft.operators.Tombstones.read(spark, table)
      .map(t => dedup.join(
        broadcast(t.select(col(idCol)).dropDuplicates(idCol)),
        Seq(idCol), "left_anti"))
      .getOrElse(dedup)
    graft.operators.Tombstones.append(spark, table, fresh)
  }

  /** FILE-COMPACTION for the LSH layout — the [[graft.operators.Search
    * .compactBm25Index]] analogue: each [[upsertLshIndex]] adds a file
    * per touched bucket partition per hash table; this rewrites every
    * projection FROM ITS OWN CONTENT (no rehash — the hyperplanes are
    * deterministic, so content is already rebuild-identical; compaction
    * changes layout, never content). `repartition(bucket)` collapses
    * each bucket's accumulated files into one before the partitioned
    * write. A staged generation ([[Generations]]): every projection is
    * built before any swaps, so no window serves projections of
    * different generations. */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    buildNextLshLayout(spark, table)
    promoteLshLayout(spark, table)
  }

  private def lshArtifact(spark: org.apache.spark.sql.SparkSession,
      table: String): Generations.Artifact =
    Generations.Artifact(table,
      (0 until lshMetaFor(spark, table)._2).map(t => s"${table}_t$t"))

  /** The long half of [[compactLshIndex]] ([[Generations.buildNext]]). */
  def buildNextLshLayout(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val a = lshArtifact(spark, table)
    Generations.buildNext(spark, a) { b =>
      for (p <- a.parts.indices) {
        graft.sources.Sources.replaceTable(spark, a.staged(p))
        b.input(p).repartition(col("bucket"))
          .write.format("parquet")
          .options(graft.sources.Sources.stagedWriteOptions(spark, a.staged(p)))
          .partitionBy("bucket").saveAsTable(a.staged(p))
      }
    }
  }

  /** The short half of [[compactLshIndex]] ([[Generations.promote]]):
    * the catch-up COPIES each projection's mid-build files (bucket codes
    * are what a rebuild would assign; nothing re-hashes). Streaming
    * segments need no catch-up: their codes are generation-independent,
    * so serve keeps unioning them and the fold merges them later. */
  def promoteLshLayout(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val a = lshArtifact(spark, table)
    Generations.promote(spark, a, admit = (p, rows, _) =>
      rows.write.mode("append").format("parquet")
        .partitionBy("bucket").saveAsTable(a.staged(p)))
  }

  /** All `bits`-bit codes within Hamming distance `d` of `code` —
    * Σ C(bits, 0..d) values, the enumerable probe set. */
  private def codesWithin(code: Long, bits: Int, d: Int): Seq[Long] =
    (0 to d).flatMap {
      case 0 => Seq(code)
      case i => (0 until bits).combinations(i)
        .map(_.foldLeft(code)((c, p) => c ^ (1L << p))).toSeq
    }

  /** Serve a top-k query from the persisted LSH layout: per table, the
    * probe set is enumerated and pushed as an `IN` partition filter
    * (directory pruning — the scan reads only the probed buckets);
    * candidates from all tables union, dedup by id, exact-rerank. Same
    * semantics as [[lshTopKMulti]]'s Hamming filter, but the pruning
    * happens at the source instead of inside the scan. */
  def lshTopKServed(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, vecCol: String, query: Seq[Double], k: Int,
      probeDist: Int = 2): DataFrame =
    bruteForceTopK(
      lshServedCandidates(spark, table, idCol, vecCol, query, probeDist),
      idCol, vecCol, query, k)

  /** The candidate rows the probe set admits from the persisted layout
    * (pre-rerank, deduped by id) — the scan cost of a served query.
    * Exposed separately so serving-cost accounting (rows read per probe
    * radius) is testable without the rerank on top. */
  def lshServedCandidates(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String, query: Seq[Double],
      probeDist: Int): DataFrame = {
    val (bits, tables, dims) = lshMetaFor(spark, table)
    (0 until tables).map { t =>
      val probes = codesWithin(queryCode(query, bits, t, dims), bits, probeDist)
      spark.table(s"${table}_t$t")
        .filter(col("bucket").isin(probes: _*))
        .select(col(idCol), col(vecCol))
    }.reduce(_ unionByName _).dropDuplicates(idCol)
      // takedown masking once, after the cross-projection dedup — one
      // broadcast anti-join instead of one per projection
      .transform(graft.operators.Tombstones.mask(spark, table, _))
  }

  /** BATCH multi-table LSH top-k over [[lshBucketsMulti]] output: the
    * corpus is scanned ONCE for the whole workload — each row tests its
    * L bucket codes against every query's codes (an OR of per-table bit
    * tests per (row, query) pair, evaluated against the broadcast
    * workload), survivors score exact cosine, and ranking is a window
    * PARTITIONED BY query. Candidate sets per query are identical to
    * [[lshTopKMulti]]'s by construction (same [[queryCode]] hash, same
    * Hamming test). Returns (queryIdCol, idCol, cosine, cos_rank) with
    * rank ≤ k. The broadcast build side carries one row per query with
    * its L codes — workload-sized, KBs. */
  def lshTopKMultiBatch(bucketed: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, bits: Int = 8, probeDist: Int = 2, tables: Int = 2,
      dims: Int = -1): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = bucketed.sparkSession
    val qField = queries.schema(queryIdCol)
    val qrows = queries
      .select(col(queryIdCol), col(queryVecCol).cast("array<double>"))
      .collect()
    val codeRows: Seq[org.apache.spark.sql.Row] = qrows.toSeq.map { r =>
      val qv = r.getSeq[Double](1)
      val d = if (dims > 0) dims else qv.length
      org.apache.spark.sql.Row.fromSeq(
        r.get(0) +: qv +: (0 until tables).map(t =>
          queryCode(qv, bits, t, dims = d)))
    }
    val codeSchema = org.apache.spark.sql.types.StructType(
      qField.copy(name = queryIdCol) +:
        org.apache.spark.sql.types.StructField("__qv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)) +:
        (0 until tables).map(t => org.apache.spark.sql.types.StructField(
          s"__qcode_$t", org.apache.spark.sql.types.LongType,
          nullable = false)))
    val codes = spark.createDataFrame(
      spark.sparkContext.parallelize(codeRows, 1), codeSchema)
    val cond = (0 until tables).map { t =>
      bit_count(col(s"bucket_$t").bitwiseXOR(col(s"__qcode_$t"))) <= probeDist
    }.reduce(_ || _)
    val scored = bucketed
      .select((idCol +: (0 until tables).map(t => s"bucket_$t")).map(col) :+
        col(vecCol).as("__v"): _*)
      .crossJoin(broadcast(codes))
      .filter(cond)
      .select(col(queryIdCol), col(idCol),
        (dot(col("__v"), col("__qv"))
          / (vec_norm(col("__v")) * vec_norm(col("__qv")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("cos_rank", row_number().over(w))
      .filter(col("cos_rank") <= k)
      .orderBy(col(queryIdCol), col("cos_rank"))
  }

  /** BATCH serve from the persisted LSH layout: per hash table, the
    * UNION of every query's probe set is pushed as ONE `IN` partition
    * filter (each projection is scanned once for the whole workload,
    * reading only probed bucket directories), candidates attach to the
    * queries that probed their bucket via a broadcast equi-join on the
    * bucket id — never a cross product — then union across tables,
    * dedup per (query, id), takedown-mask, exact-score, and rank per
    * query. Per-query candidate sets are identical to
    * [[lshTopKServed]]'s by construction (same [[codesWithin]]
    * enumeration). Returns (queryIdCol, idCol, cosine, cos_rank),
    * rank ≤ k. */
  def lshTopKServedBatch(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      probeDist: Int = 2): DataFrame = {
    require(k > 0, "k must be positive")
    val (bits, tables, dims) = lshMetaFor(spark, table)
    val qField = queries.schema(queryIdCol)
    val qrows = queries
      .select(col(queryIdCol), col(queryVecCol).cast("array<double>"))
      .collect()
    val qvSchema = org.apache.spark.sql.types.StructType(Seq(
      qField.copy(name = queryIdCol),
      org.apache.spark.sql.types.StructField("__qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val qvecs = spark.createDataFrame(
      spark.sparkContext.parallelize(
        qrows.toSeq.map(r => org.apache.spark.sql.Row(r.get(0), r.getSeq[Double](1))), 1),
      qvSchema)
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      qField.copy(name = queryIdCol),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val cands = (0 until tables).map { t =>
      val pairRows: Seq[org.apache.spark.sql.Row] = qrows.toSeq.flatMap { r =>
        codesWithin(queryCode(r.getSeq[Double](1), bits, t, dims), bits,
          probeDist).map(b => org.apache.spark.sql.Row(r.get(0), b))
      }
      val pairs = spark.createDataFrame(
        spark.sparkContext.parallelize(pairRows, 1), pairSchema)
      val buckets = pairRows.map(_.getLong(1)).distinct
      spark.table(s"${table}_t$t")
        .filter(col("bucket").isin(buckets: _*))
        .select(col(idCol), col("bucket").cast("long").as("bucket"),
          col(vecCol))
        .join(broadcast(pairs), Seq("bucket"))
        .select(col(queryIdCol), col(idCol), col(vecCol))
    }.reduce(_ unionByName _).dropDuplicates(queryIdCol, idCol)
    val masked = graft.operators.Tombstones.mask(spark, table, cands)
    val scored = masked.join(broadcast(qvecs), Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol),
        (dot(col(vecCol), col("__qv"))
          / (vec_norm(col(vecCol)) * vec_norm(col("__qv")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("cos_rank", row_number().over(w))
      .filter(col("cos_rank") <= k)
      .orderBy(col(queryIdCol), col("cos_rank"))
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) index
  // ------------------------------------------------------------------

  /** IVF index: the table with a `cluster` column, plus the (tiny) centroid
    * set kept driver-side for query-time probe selection. The assigned
    * DataFrame is the scale object (cache it, or write it partitioned by
    * `cluster` so probes prune parquet partitions); centroids are
    * nCentroids×dims doubles — KBs. */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[Array[Double]])

  /** Cosine nearest-centroid id as a codegen'd expression with the
    * (unit-norm) centroid matrix as a reference object (a broadcast of
    * the centroid table would shuffle; this keeps assignment map-side and
    * linear in table size — the 100 TB property). See
    * [[graft.functions.NearestCentroid]]. */
  private def nearestCentroidCos(v: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.VectorExpressions.nearest_centroid_cos(v, centroids)

  private def unit(x: Array[Double]): Array[Double] = {
    val n = math.sqrt(x.map(d => d * d).sum)
    if (n == 0.0) x else x.map(_ / n)
  }

  /** Build an IVF index with deterministic SPHERICAL k-means (Lloyd)
    * iterations — centroids unit-normalized, assignment by max dot
    * product, i.e. cosine. L2 assignment on unnormalized embeddings
    * splits cosine-near vectors of different magnitude across clusters,
    * which silently destroys top-k recall; the serving metric (cosine)
    * must also be the clustering metric.
    *
    * Init = hash-ordered sample (reproducible); each iteration is one
    * map-side assignment + one groupBy(cluster, dim) average — no
    * all-pairs, no driver-side data beyond the centroid set. */
  def ivfIndex(df0: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 64, iters: Int = 3): IvfIndex = {
    val v = col(vecCol)
    // null vectors can be sampled into the init set (driver NPE) and
    // can never be assigned — exclude them from the index. NO
    // ensureParallelism here: k-means re-scans the input 5+ times, and a
    // repartition in the lineage would re-shuffle on every pass —
    // measured 2× SLOWER than the single-split scans it replaces.
    val df = df0.filter(v.isNotNull)
    var centroids: Array[Array[Double]] = df
      .select(col(idCol), v)
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(nCentroids)
      .collect()
      .map(r => unit(r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
      }.toArray))
    var it = 0
    while (it < iters) {
      val means = df
        .select(nearestCentroidCos(v, centroids).as("cluster"), posexplode(v))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        // ragged vectors can emit positions past the centroid dims
        if (r.getInt(1) < next(r.getInt(0)).length)
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      // spherical step: re-normalize the per-cluster means
      centroids = next.map(unit)
      it += 1
    }
    IvfIndex(df.withColumn("cluster", nearestCentroidCos(v, centroids)), centroids)
  }

  /** Persist an IVF index as a serving artifact: the assigned table
    * written PARTITIONED BY cluster — a probe's `cluster IN (...)`
    * filter then prunes whole partition directories at the source, so a
    * query reads ~nProbe/nCentroids of the corpus bytes — plus a
    * sibling `<table>_centroids` table (nCentroids×dims doubles, KBs).
    * The vector-DB build/serve split: cluster once, serve many. */
  def saveIvfIndex(index: IvfIndex, table: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // a rebuilt artifact is a fresh identity: a stale fold ledger from a
    // previous generation could mark a NEW checkpoint's batch ids as
    // already folded (batch numbering restarts) — silent segment loss —
    // and stale tombstones would mask the new corpus's valid ids
    graft.sources.Sources.replaceTable(spark, s"${table}_folded")
    graft.sources.Sources.replaceTable(spark, s"${table}_deleted")
    graft.sources.Sources.replaceTable(spark, table)
    index.assigned.write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, table))
      .partitionBy("cluster").saveAsTable(table)
    graft.sources.Sources.replaceTable(spark, s"${table}_centroids")
    index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, s"${table}_centroids"))
      .saveAsTable(s"${table}_centroids")
    // read-your-own-writes under a nonzero stamp TTL
    cachesFor(spark).centroids.remove(table)
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String): IvfIndex = {
    // centroids are constants OF A GENERATION: cached per (session,
    // table) under the centroids sibling's stamp, so the serving path
    // pays no collect job while the generation holds and re-collects
    // after any session's retrain/promote
    // alsoRefresh = the assigned table: a centroids move means a
    // retrain/promote rewrote the encoded rows too
    val centroids = graft.sources.Sources.stamped(spark,
      cachesFor(spark).centroids, table, s"${table}_centroids",
      alsoRefresh = Seq(table))(centroidsOf(spark, s"${table}_centroids"))
    // takedown masking: tombstoned ids anti-join out map-side; identity
    // when no tombstones exist (the cluster-pruned plan is unchanged)
    IvfIndex(graft.operators.Tombstones.mask(spark, table,
      spark.table(table)), centroids)
  }

  /** INCREMENTAL upsert into a persisted IVF serving artifact: assign
    * ONLY the `delta` rows with the artifact's FROZEN centroids (one
    * map-side codegen pass over the delta — the corpus is never
    * re-scanned or re-encoded) and APPEND them into the
    * cluster-partitioned store. Touched cluster partitions gain new
    * files; no existing file is rewritten — a daily 100 TB ingest pays
    * for its delta, not for the corpus (the build-once alternative
    * re-clusters and rewrites everything nightly).
    *
    * Frozen-centroid contract (the standard vector-DB add path — e.g.
    * FAISS `add` never retrains): upserted rows are assigned to the
    * nearest EXISTING centroid, so `ivfTopK`'s probe arithmetic is
    * unchanged and the recall contract transfers to the appended rows.
    * Centroid drift from a corpus that GROWS differently than it was
    * trained accumulates until [[compactIvfIndex]] retrains on its own
    * cadence — the exact contract the near-dup serving tier already has
    * ([[graft.streaming.Streaming.compactNearDedupIndex]]).
    *
    * Identity: append-only — the caller owns id uniqueness (the dedup
    * tier exists for exactly that); re-upserting the same delta doubles
    * its rows. Null vectors are dropped, as in [[ivfIndex]]. */
  def upsertIvfIndex(delta: DataFrame, idCol: String, vecCol: String,
      table: String): Unit = appendAssigned(delta, vecCol,
    loadIvfIndex(delta.sparkSession, table).centroids, table)

  /** Assign `rows` to their nearest of `centroids`, append into `t`. */
  private def appendAssigned(rows: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], t: String): Unit = {
    val v = col(vecCol)
    rows.filter(v.isNotNull)
      .withColumn("cluster", nearestCentroidCos(v, centroids))
      .write.mode("append").format("parquet")
      .partitionBy("cluster").saveAsTable(t)
  }

  /** RETRAIN-on-cadence compaction for the IVF artifact — the closing
    * half of the upsert loop: re-run spherical k-means over the table's
    * CURRENT content (original corpus ∪ every upserted delta) and
    * rewrite the serving artifact, resetting the centroid drift
    * [[upsertIvfIndex]]'s frozen-centroid contract accumulates. The
    * nightly shape mirrors the near-dup tier's
    * [[graft.streaming.Streaming.compactNearDedupIndex]]: upsert against
    * frozen centroids all day; compact; the new generation serves
    * tomorrow. A compaction IS a full re-cluster + rewrite by definition
    * — that cost moves to the cadence, off the ingest path. A staged
    * generation ([[Generations]]): the live artifact keeps serving until
    * the metadata-only swaps. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String,
      iters: Int = 3, segDir: Option[String] = None): IvfIndex = {
    // Streaming-admitted segments MUST be folded before the retrain:
    // they carry OLD-generation cluster ids, so serving them next to a
    // retrained base would put them in effectively random partitions
    // (silent recall loss), and folding them afterwards would bake the
    // stale assignments into the new table. Pass the sink's segDir so
    // the fold happens inside the compaction, in order.
    segDir.foreach(d => foldIvfSegments(spark, table, d))
    // geometry comes from the ARTIFACT, never from caller defaults: a
    // compaction that silently retrained to a different centroid count
    // would make the next ivfIndexFor(nCentroids = <old>) see a
    // mismatch and rebuild from its base frame — dropping every
    // upserted delta from the serving artifact. (`iters` stays a
    // parameter: it is not recoverable from the artifact.)
    buildNextIvfGeneration(spark, table, idCol, vecCol, iters)
    // segDir rides into the promote too: segments admitted AFTER the
    // pre-build fold are re-assigned with the new centroids there
    promoteIvfGeneration(spark, table, segDir)
  }

  private def ivfArtifact(table: String): Generations.Artifact =
    Generations.Artifact(table, Seq(table), Seq("_centroids"))

  private def centroidsOf(spark: org.apache.spark.sql.SparkSession,
      t: String): Array[Array[Double]] =
    spark.table(t).orderBy(col("cluster")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** Build the NEXT IVF generation beside the live one — the long half
    * of a compaction ([[Generations.buildNext]]): the retrain excludes
    * the tombstoned ids, so the new generation's files no longer hold
    * them and its centroids forget them. Geometry (nCentroids) comes
    * from the artifact, as in [[compactIvfIndex]]. Pair with
    * [[promoteIvfGeneration]] in the maintenance window. */
  def buildNextIvfGeneration(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String, iters: Int = 3): Unit = {
    val nCentroids = loadIvfIndex(spark, table).centroids.length
    val a = ivfArtifact(table)
    Generations.buildNext(spark, a, vecCol)(b => saveIvfIndex(
      ivfIndex(b.input(0).drop("cluster"), idCol, vecCol, nCentroids, iters),
      a.staged(0)))
  }

  /** Promote a fully-built staged IVF generation over the live one —
    * the short half of a compaction ([[Generations.promote]]): the
    * catch-up re-ASSIGNS rows admitted since the build (upserted files
    * and, with the streaming sink's `segDir`, unledgered segments) with
    * the NEW centroids, so no stale cluster id serves against the
    * retrained geometry; then the centroids swap, then the table. */
  def promoteIvfGeneration(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: Option[String] = None): IvfIndex = {
    val a = ivfArtifact(table)
    Generations.promote(spark, a, segDir,
      admit = (_, rows, basis) => appendAssigned(rows.drop("cluster"),
        basis.vecCol, centroidsOf(spark, a.newest(spark, "_centroids")),
        a.staged(0)),
      // read-your-own-writes under a nonzero stamp TTL
      afterSwap = () => cachesFor(spark).centroids.remove(table))
    loadIvfIndex(spark, table)
  }

  /** Load the IVF index over base table ∪ streaming-admitted segments
    * ([[graft.streaming.Streaming.ivfIngestSink]]'s `cluster=<c>`
    * partitioned segments): the segment rows carry the SAME
    * frozen-centroid assignments as the base, and `cluster` is a
    * partition column in BOTH sources, so a probe's `cluster IN (...)`
    * filter prunes directories across base and every segment alike.
    * Ledgered and incomplete segments are skipped
    * ([[graft.operators.Segments]]). */
  def loadIvfIndexWithSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): IvfIndex = {
    val base = loadIvfIndex(spark, table)
    val segs = graft.operators.Segments.pendingFor(spark, table, segDir)
    if (segs.isEmpty) base
    // segments mask too (base.assigned already does, via loadIvfIndex):
    // a takedown must hide a vector even while it is segment-resident
    else IvfIndex(base.assigned.unionByName(
      graft.operators.Tombstones.mask(spark, table,
        graft.operators.Segments.read(spark, segDir, segs))), base.centroids)
  }

  /** Fold streaming-admitted segments into the base IVF table — the
    * CHEAP half of the compaction cadence: segment rows already carry
    * the frozen-centroid assignments, so the fold is a plain partition
    * append (no re-encode, no retrain); only touched cluster partitions
    * gain files. Idempotent by the `<table>_folded` ledger
    * ([[graft.operators.Segments]]' ledgered fold). */
  def foldIvfSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): Unit =
    graft.operators.Segments.foldInto(spark, table, segDir)(todo =>
      graft.operators.Segments.read(spark, segDir, todo)
        .write.mode("append").format("parquet")
        .partitionBy("cluster").saveAsTable(table))

  /** LSH candidates from the persisted layout ∪ streaming-admitted
    * segments ([[graft.streaming.Streaming.lshIngestSink]]'s
    * `t<k>/bucket=<b>` parts): per hash table, the probe set prunes
    * bucket partitions in the base projection AND in every complete,
    * unledgered segment's matching `t<k>` part — the same directory
    * pruning, extended over the not-yet-folded admissions. Hyperplanes
    * are deterministic, so segment codes are identical to what a
    * rebuild would assign. */
  def lshServedCandidatesWithSegments(
      spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, vecCol: String, query: Seq[Double], probeDist: Int,
      segDir: String): DataFrame = {
    val (bits, tables, dims) = lshMetaFor(spark, table)
    val segs = graft.operators.Segments.pendingFor(spark, table, segDir,
      s"t${tables - 1}")
    (0 until tables).map { t =>
      val probes = codesWithin(queryCode(query, bits, t, dims), bits, probeDist)
      val base = spark.table(s"${table}_t$t")
        .filter(col("bucket").isin(probes: _*))
        .select(col(idCol), col(vecCol))
      segs.foldLeft(base) { (acc, d) =>
        acc.unionByName(
          spark.read.option("basePath", s"$d/t$t").parquet(s"$d/t$t")
            .filter(col("bucket").isin(probes: _*))
            .select(col(idCol), col(vecCol)))
      }
    }.reduce(_ unionByName _).dropDuplicates(idCol)
      // takedown masking once over base ∪ segments, after the dedup
      .transform(graft.operators.Tombstones.mask(spark, table, _))
  }

  /** Top-k over base ∪ admitted LSH segments — [[lshTopKServed]]'s
    * contract, extended over the not-yet-folded admissions. */
  def lshTopKServedWithSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String, query: Seq[Double],
      k: Int, probeDist: Int, segDir: String): DataFrame =
    bruteForceTopK(lshServedCandidatesWithSegments(spark, table, idCol,
      vecCol, query, probeDist, segDir), idCol, vecCol, query, k)

  /** Fold streaming-admitted LSH segments into the base projections —
    * [[foldIvfSegments]] per hash table: segment rows already carry
    * deterministic-hyperplane bucket codes, so each projection's fold is
    * a plain bucket-partitioned append, and the ledger commits once
    * after ALL projections appended. A crash before that commit
    * re-appends every projection on retry: exact duplicate rows,
    * invisible to serving (candidates dedup by id). */
  def foldLshSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): Unit = {
    val (_, tables, _) = lshMetaFor(spark, table)
    graft.operators.Segments.foldInto(spark, table, segDir,
        s"t${tables - 1}") { todo =>
      for (t <- 0 until tables)
        todo.map(d => spark.read.option("basePath", s"$d/t$t")
            .parquet(s"$d/t$t"))
          .reduce(_ unionByName _)
          .write.mode("append").format("parquet")
          .partitionBy("bucket").saveAsTable(s"${table}_t$t")
    }
  }

  /** Load the persisted IVF index, building and persisting it first if
    * this session doesn't know it. An existing artifact is reused only
    * when its centroid count matches `nCentroids` (a changed `iters`
    * is not recoverable from the artifact and does not trigger a
    * rebuild). Pass `fingerprint` ([[graft.sources.Sources
    * .pathFingerprint]] of the corpus) to also detect source-data
    * changes; empty keeps the name-identifies-a-build contract. */
  def ivfIndexFor(df: DataFrame, idCol: String, vecCol: String, table: String,
      nCentroids: Int = 64, iters: Int = 3,
      fingerprint: String = ""): IvfIndex = {
    val spark = df.sparkSession
    val matches = spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(s"${table}_centroids") &&
      spark.table(s"${table}_centroids").count() == nCentroids &&
      (fingerprint.isEmpty ||
        graft.sources.Sources.readFingerprint(spark, table)
          .contains(fingerprint))
    if (!matches) {
      saveIvfIndex(ivfIndex(df, idCol, vecCol, nCentroids, iters), table)
      if (fingerprint.nonEmpty)
        graft.sources.Sources.writeFingerprint(spark, table, fingerprint)
    }
    loadIvfIndex(spark, table)
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ)
  // ------------------------------------------------------------------

  /** PQ index: the table with a `pq_code` column (`array<int>`, one code
    * per subspace) next to the ORIGINAL vector column (kept for exact
    * re-ranking), plus the codebook tensor `[subspace][code][subdim]`
    * driver-side. The codebooks are m·codes·subdim doubles — KBs; the
    * encoded table is the scale object. At 100 TB the point is memory:
    * m codes (m·log₂(codes) bits) stand in for dims floats during
    * candidate generation — a 64-dim float vector (256 B) scans as
    * 16 codes (16 B equivalent), so the ADC pass is bandwidth-bound on
    * 6% of the bytes. */
  final case class PqIndex(encoded: DataFrame,
      codebooks: Array[Array[Array[Double]]])

  /** Build a PQ index with deterministic per-subspace Lloyd k-means over
    * a hash-ordered sample (collected driver-side — sampleN·dims doubles,
    * ~1 MB; the corpus itself is touched exactly once, by the map-side
    * encode). Vectors are L2-normalized before chopping into `m`
    * subspaces, so ADC inner products approximate cosine — the serving
    * metric, matching [[ivfIndex]]'s discipline. `dims` must be known
    * (and divisible by m for even subspaces; a ragged tail subspace is
    * zero-padded).
    *
    * Init = first `nCodes` distinct subvectors in hash order
    * (reproducible anywhere); empty cells keep their previous codeword —
    * the classic Lloyd degeneracy guard. */
  def pqIndex(df0: DataFrame, idCol: String, vecCol: String, dims: Int,
      m: Int = 16, nCodes: Int = 32, iters: Int = 8,
      sampleN: Int = 2048): PqIndex = {
    require(m > 0 && nCodes > 1 && dims >= m,
      "pqIndex needs m >= 1, nCodes >= 2, dims >= m")
    import graft.functions.VectorExpressions.{vec_l2_normalize, pq_encode}
    val df = df0.filter(col(vecCol).isNotNull)
    val subDim = (dims + m - 1) / m
    val sample: Array[Array[Double]] = df
      .select(col(idCol), vec_l2_normalize(col(vecCol)).as("__nv"))
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(sampleN)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "pqIndex needs at least one non-null vector")
    val codebooks = Array.tabulate(m) { s =>
      val off = s * subDim
      val subs = sample.map { v =>
        Array.tabulate(subDim)(i => if (off + i < v.length) v(off + i) else 0.0)
      }
      kmeansL2(subs, nCodes, iters)
    }
    val encoded = df.withColumn("pq_code",
      pq_encode(vec_l2_normalize(col(vecCol)), codebooks))
    PqIndex(encoded, codebooks)
  }

  /** Persist a PQ index: the encoded table (codes next to the original
    * vectors for exact rerank) as a parquet table, codebooks flattened
    * to `(subspace, code, centroid)` rows in a sibling table (m·codes
    * small arrays, KBs). The ADC candidate scan then reads STORED codes
    * — the corpus is encoded exactly once, at build time, which is the
    * entire point of PQ at 100 TB. */
  def savePqIndex(index: PqIndex, table: String): Unit = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    // a rebuilt artifact is a fresh identity: a stale fold ledger could
    // mark a new checkpoint's batch ids as already folded, and stale
    // tombstones would mask the new corpus's valid ids
    graft.sources.Sources.replaceTable(spark, s"${table}_folded")
    graft.sources.Sources.replaceTable(spark, s"${table}_deleted")
    graft.sources.Sources.replaceTable(spark, table)
    index.encoded.write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, table))
      .saveAsTable(table)
    graft.sources.Sources.replaceTable(spark, s"${table}_codebooks")
    index.codebooks.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, s"${table}_codebooks"))
      .saveAsTable(s"${table}_codebooks")
    // read-your-own-writes under a nonzero stamp TTL
    cachesFor(spark).codebooks.remove(table)
  }

  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, table: String): PqIndex = {
    // codebooks: generation-stamp keyed like loadIvfIndex's centroids
    val codebooks = graft.sources.Sources.stamped(spark,
      cachesFor(spark).codebooks, table, s"${table}_codebooks",
      alsoRefresh = Seq(table))(codebooksOf(spark, s"${table}_codebooks"))
    // takedown masking, as in loadIvfIndex
    PqIndex(graft.operators.Tombstones.mask(spark, table,
      spark.table(table)), codebooks)
  }

  /** INCREMENTAL upsert into a persisted PQ serving artifact: encode
    * ONLY the `delta` rows with the artifact's FROZEN codebooks (one
    * map-side `pq_encode` pass — the corpus is never re-encoded, which
    * is the entire point of PQ at 100 TB) and APPEND them to the encoded
    * table. Same frozen-constants contract as [[upsertIvfIndex]]:
    * codebooks trained on yesterday's distribution encode today's delta,
    * and the drift accumulates until [[compactPqIndex]] retrains on its
    * own cadence. Null vectors are dropped, as in [[pqIndex]]; identity
    * is append-only — the caller owns id uniqueness. */
  def upsertPqIndex(delta: DataFrame, idCol: String, vecCol: String,
      table: String): Unit = appendEncoded(delta, vecCol,
    loadPqIndex(delta.sparkSession, table).codebooks, table)

  /** Encode `rows` with `codebooks`, append into `t`. */
  private def appendEncoded(rows: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Double]]], t: String): Unit = {
    import graft.functions.VectorExpressions.{vec_l2_normalize, pq_encode}
    rows.filter(col(vecCol).isNotNull)
      .withColumn("pq_code", pq_encode(vec_l2_normalize(col(vecCol)), codebooks))
      .write.mode("append").format("parquet").saveAsTable(t)
  }

  /** Load the PQ index over base table ∪ streaming-admitted segments
    * ([[graft.streaming.Streaming.pqIngestSink]]): segment rows carry
    * the SAME frozen-codebook codes as the base (deterministic map-side
    * encode), so base ∪ segments is content-identical to upserting every
    * admitted batch. Ledgered and incomplete segments are skipped
    * ([[graft.operators.Segments]]). */
  def loadPqIndexWithSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): PqIndex = {
    val base = loadPqIndex(spark, table)
    val segs = graft.operators.Segments.pendingFor(spark, table, segDir)
    if (segs.isEmpty) base
    // segments mask too, as in loadIvfIndexWithSegments
    else PqIndex(base.encoded.unionByName(
      graft.operators.Tombstones.mask(spark, table,
        graft.operators.Segments.read(spark, segDir, segs))), base.codebooks)
  }

  /** Fold streaming-admitted PQ segments into the base encoded table —
    * [[foldIvfSegments]] on the plain layout: segment rows already carry
    * frozen-codebook codes, so the fold is a plain append. */
  def foldPqSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): Unit =
    graft.operators.Segments.foldInto(spark, table, segDir)(todo =>
      graft.operators.Segments.read(spark, segDir, todo)
        .write.mode("append").format("parquet").saveAsTable(table))

  /** RETRAIN-on-cadence compaction for the PQ artifact — the closing
    * half of [[upsertPqIndex]]'s frozen-codebook contract, mirroring
    * [[compactIvfIndex]]: re-run per-subspace k-means over the table's
    * CURRENT content (corpus ∪ every upserted delta) and re-encode the
    * whole corpus into a fresh staged generation ([[Generations]]). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String,
      iters: Int = 8, sampleN: Int = 2048,
      segDir: Option[String] = None): PqIndex = {
    // fold admitted segments FIRST so the retrain sees them; any segment
    // admitted after this fold is re-encoded at the promote's catch-up
    segDir.foreach(d => foldPqSegments(spark, table, d))
    buildNextPqGeneration(spark, table, idCol, vecCol, iters, sampleN)
    promotePqGeneration(spark, table, segDir)
  }

  private def pqArtifact(table: String): Generations.Artifact =
    Generations.Artifact(table, Seq(table), Seq("_codebooks"))

  private def codebooksOf(spark: org.apache.spark.sql.SparkSession,
      t: String): Array[Array[Array[Double]]] =
    spark.table(t).orderBy(col("subspace"), col("code")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray

  /** Build the NEXT PQ generation beside the live one — the long half
    * of a compaction ([[buildNextIvfGeneration]]'s discipline): retrain
    * per-subspace k-means without the tombstoned ids and re-encode.
    * Geometry comes from the ARTIFACT (codebook tensor shape), never
    * from caller defaults — a silently re-shaped compaction would make
    * the next pqIndexFor(m/nCodes = <old>) rebuild from its base
    * frame, dropping every upserted delta. dims is reconstructed as
    * m × subDim: pqIndex only ever uses dims through
    * subDim = ceil(dims/m), so any dims in that subDim's band encodes
    * identically. (`iters`/`sampleN` stay parameters: not recoverable.)
    * Pair with [[promotePqGeneration]] in the maintenance window. */
  def buildNextPqGeneration(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, vecCol: String,
      iters: Int = 8, sampleN: Int = 2048): Unit = {
    val books = loadPqIndex(spark, table).codebooks
    val m = books.length
    val subDim = if (books.isEmpty || books(0).isEmpty) 0 else books(0)(0).length
    val nCodes = if (books.isEmpty) 0 else books(0).length
    require(m > 0 && nCodes > 1 && subDim > 0,
      s"artifact $table has a degenerate codebook shape (m=$m, " +
        s"nCodes=$nCodes, subDim=$subDim)")
    val a = pqArtifact(table)
    Generations.buildNext(spark, a, vecCol)(b => savePqIndex(
      pqIndex(b.input(0).drop("pq_code"), idCol, vecCol,
        dims = m * subDim, m, nCodes, iters, sampleN), a.staged(0)))
  }

  /** Promote a fully-built staged PQ generation over the live one — the
    * short half ([[promoteIvfGeneration]]'s discipline): the catch-up
    * re-ENCODES rows admitted since the build (upserted files ∪
    * unledgered [[graft.streaming.Streaming.pqIngestSink]] segments,
    * whose old-codebook codes the retrain invalidated) with the NEW
    * codebooks. */
  def promotePqGeneration(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: Option[String] = None): PqIndex = {
    val a = pqArtifact(table)
    Generations.promote(spark, a, segDir,
      admit = (_, rows, basis) => appendEncoded(rows.drop("pq_code"),
        basis.vecCol, codebooksOf(spark, a.newest(spark, "_codebooks")),
        a.staged(0)),
      afterSwap = () => cachesFor(spark).codebooks.remove(table))
    loadPqIndex(spark, table)
  }

  /** Load the persisted PQ index, building and persisting it first if
    * this session doesn't know it. An existing artifact is reused only
    * when its codebook shape matches (m, nCodes) — changed iters/sampleN
    * are not recoverable and do not trigger a rebuild. Pass
    * `fingerprint` ([[graft.sources.Sources.pathFingerprint]] of the
    * corpus) to also detect source-data changes; empty keeps the
    * name-identifies-a-build contract. */
  def pqIndexFor(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      table: String, m: Int = 16, nCodes: Int = 32, iters: Int = 8,
      sampleN: Int = 2048, fingerprint: String = ""): PqIndex = {
    val spark = df.sparkSession
    val matches = spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(s"${table}_codebooks") && {
        val r = spark.table(s"${table}_codebooks")
          .agg(count_distinct(col("subspace")), count_distinct(col("code"))).head()
        r.getLong(0) == m && r.getLong(1) == nCodes
      } && (fingerprint.isEmpty ||
        graft.sources.Sources.readFingerprint(spark, table)
          .contains(fingerprint))
    if (!matches) {
      savePqIndex(pqIndex(df, idCol, vecCol, dims, m, nCodes, iters, sampleN), table)
      if (fingerprint.nonEmpty)
        graft.sources.Sources.writeFingerprint(spark, table, fingerprint)
    }
    loadPqIndex(spark, table)
  }

  /** Driver-side Lloyd k-means (squared L2) on a small sample: init from
    * the first k DISTINCT points in input order, empty clusters retain
    * their codeword. Deterministic — no RNG, no data-order dependence
    * beyond the hash-ordered sample. */
  private def kmeansL2(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    points.iterator.takeWhile(_ => init.length < k).foreach { p =>
      if (seen.add(p.toSeq)) init += p.clone()
    }
    var centroids = init.toArray
    if (centroids.isEmpty) return Array(points.head.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](points(0).length))
      val counts = new Array[Long](centroids.length)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0
          var i = 0
          val ct = centroids(c)
          while (i < p.length) { val t = p(i) - ct(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    centroids
  }

  /** PQ-accelerated top-k: ADC-score every row against the query's
    * per-subspace lookup table (map-side, no shuffle), take the
    * `candidates` best approximately (TakeOrdered), exact-rerank those
    * with the full vectors. Candidate generation reads codes only;
    * only `candidates` rows ever touch their float vectors — at 100 TB
    * with the encoded table cached/columnar, the scan cost is the code
    * bytes, and recall is tuned by `candidates`, not by re-scanning. */
  /** Query-side ADC lookup table for [[pqTopK]]/[[pqTopKBatch]]:
    * `lut(s)(j) = dot(unit(query)_s, codeword_{s,j})` — shared so the
    * single-query and batch candidate selections are identical by
    * construction. */
  private def adcLut(index: PqIndex, query: Seq[Double]): Array[Array[Double]] = {
    val qn = unit(query.toArray)
    val m = index.codebooks.length
    Array.tabulate(m) { s =>
      val codes = index.codebooks(s)
      val subDim = if (codes.isEmpty) 0 else codes(0).length
      val off = s * subDim
      codes.map { c =>
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val qi = if (off + i < qn.length) qn(off + i) else 0.0
          d += qi * c(i)
          i += 1
        }
        d
      }
    }
  }

  def pqTopK(index: PqIndex, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, candidates: Int = 100): DataFrame = {
    import graft.functions.VectorExpressions.pq_adc_score
    val lut = adcLut(index, query)
    val cands = index.encoded
      .select(col("*"), pq_adc_score(col("pq_code"), lut).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol).asc)
      .limit(math.max(candidates, k))
      .drop("__adc")
    bruteForceTopK(cands, idCol, vecCol, query, k)
  }

  /** BATCH PQ top-k: the encoded corpus is scanned ONCE for the whole
    * workload — [[graft.functions.VectorExpressions.pq_adc_score_multi]]
    * evaluates every query's ADC table per code row inside whole-stage
    * codegen (the LUT stack rides along as a reference object, KBs per
    * query), candidates rank per query by ADC (same (__adc desc, id)
    * order as [[pqTopK]], so per-query candidate sets are identical by
    * construction), and the exact cosine rerank fetches candidate
    * vectors with one more corpus scan against the BROADCAST candidate
    * set (workload × candidates rows — request-sized) instead of
    * carrying vectors through the explode. Two corpus scans total for
    * Q queries, vs Q scans for the per-query loop. Returns
    * (queryIdCol, idCol, cosine, cos_rank) with rank ≤ k. */
  def pqTopKBatch(index: PqIndex, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, candidates: Int = 100): DataFrame = {
    import graft.functions.VectorExpressions.pq_adc_score_multi
    require(k > 0, "k must be positive")
    val spark = index.encoded.sparkSession
    val qField = queries.schema(queryIdCol)
    val qrows = queries
      .select(col(queryIdCol), col(queryVecCol).cast("array<double>"))
      .collect()
    val luts: Array[Array[Array[Double]]] =
      qrows.map(r => adcLut(index, r.getSeq[Double](1)))
    val qmapSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__qidx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      qField.copy(name = queryIdCol),
      org.apache.spark.sql.types.StructField("__qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val qmap = spark.createDataFrame(
      spark.sparkContext.parallelize(
        qrows.toSeq.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(i, r.get(0), r.getSeq[Double](1))
        }, 1), qmapSchema)
    val adc = index.encoded
      .select(col(idCol),
        pq_adc_score_multi(col("pq_code"), luts).as("__adcs"))
      .select(col(idCol), posexplode(col("__adcs")).as(Seq("__qidx", "__adc")))
    val wCand = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qidx"))
      .orderBy(col("__adc").desc, col(idCol).asc)
    val candIds = adc.withColumn("__r", row_number().over(wCand))
      .filter(col("__r") <= math.max(candidates, k))
      .select(col("__qidx"), col(idCol))
    val scored = index.encoded.select(col(idCol), col(vecCol).as("__v"))
      .join(broadcast(candIds), Seq(idCol))
      .join(broadcast(qmap), Seq("__qidx"))
      .select(col(queryIdCol), col(idCol),
        (dot(col("__v"), col("__qv"))
          / (vec_norm(col("__v")) * vec_norm(col("__qv")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("cos_rank", row_number().over(w))
      .filter(col("cos_rank") <= k)
      .orderBy(col(queryIdCol), col("cos_rank"))
  }

  /** IVF-accelerated approximate top-k: rank centroids by cosine to the
    * query driver-side, scan only the `nProbe` nearest clusters, exact-rank
    * the candidates. Cost per query ≈ nProbe/nCentroids of a full scan —
    * with the assigned table written partitioned by `cluster`, the probe
    * filter prunes at the source. */
  def ivfTopK(index: IvfIndex, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nProbe: Int = 8): DataFrame = {
    val probes = probeCells(index.centroids, query, nProbe)
    val cands = index.assigned.filter(col("cluster").isin(probes.toIndexedSeq: _*))
    bruteForceTopK(cands, idCol, vecCol, query, k)
  }

  /** FILTERED IVF top-k: the bucketed serve path with a metadata
    * predicate composed INSIDE the probed-cell scan — `cluster IN
    * (probes)` prunes partition directories, the predicate prunes row
    * groups within them, and the dot product runs only over rows that
    * survive BOTH (one scan, filters stacked at the source; the
    * predicate must reference columns the index's assigned frame
    * carries — [[ivfIndex]] keeps every input column precisely so
    * metadata rides the artifact instead of costing a join at serve
    * time). Recall caveat, sharper than [[ivfTopK]]'s: a filter thins
    * every probed cell, so the filtered top-k reaches DEEPER into the
    * corpus (lower cosine → farther cells) than the unfiltered top-k
    * does — widen `nProbe` as predicate selectivity drops (the
    * standard filtered-ANN trade; at extreme selectivity, prefer
    * [[bruteForceTopKFiltered]], whose predicate pushdown often reads
    * fewer bytes than a wide probe). */
  def ivfTopKFiltered(index: IvfIndex, idCol: String, vecCol: String,
      predicate: Column, query: Seq[Double], k: Int,
      nProbe: Int = 8): DataFrame = {
    val probes = probeCells(index.centroids, query, nProbe)
    val cands = index.assigned
      .filter(col("cluster").isin(probes.toIndexedSeq: _*))
      .filter(predicate)
    bruteForceTopK(cands, idCol, vecCol, query, k)
  }

  /** The `nProbe` cosine-nearest centroid ids for `query` — the probe
    * set both the single-query and batch IVF paths share, so their
    * candidate sets are identical by construction (ties broken by
    * centroid id, deterministically). */
  private def probeCells(centroids: Array[Array[Double]],
      query: Seq[Double], nProbe: Int): Seq[Int] = {
    val qn = unit(query.toArray)
    centroids.zipWithIndex
      .map { case (c, i) =>
        // centroids are unit-norm: dot(qn, c) IS the cosine
        (-c.zip(qn).map { case (x, y) => x * y }.sum, i)
      }
      .sortBy(identity).take(nProbe).map(_._2).toSeq
  }

  /** BATCH IVF top-k: a WORKLOAD of queries served against the index in
    * ONE plan — the [[graft.operators.Search.searchBm25Batch]] shape
    * applied to the bucketed ANN family that actually serves at scale
    * (the brute-force batch, [[bruteForceTopKBatch]], scans the whole
    * corpus per batch; this scans only the UNION of the workload's
    * probed cells). Per query the probe set is selected driver-side
    * from the KB-sized centroid matrix — the same [[probeCells]] the
    * single-query path uses, so batch and per-query candidates are
    * identical by construction — and the workload (broadcast-sized BY
    * DEFINITION: it is the build side the scoring join ships anyway)
    * is collected once to do it. The scan reads `cluster IN (∪ probed
    * cells)`: against a [[saveIvfIndex]]-partitioned artifact that
    * prunes whole cell directories at the source, once, for the whole
    * batch. Each corpus row then scores ONLY against the queries that
    * probed its cell (a broadcast equi-join on `cluster`, never a
    * cross product), and ranking is a window PARTITIONED BY query —
    * per-query k-row heap state, never a global sort. Returns
    * (queryIdCol, idCol, cosine, cos_rank) with rank ≤ k, ordered by
    * (query, rank); a query whose probed cells are all empty yields no
    * rows. */
  def ivfTopKBatch(index: IvfIndex, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nProbe: Int = 8): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = index.assigned.sparkSession
    val qField = queries.schema(queryIdCol)
    val qrows = queries
      .select(col(queryIdCol), col(queryVecCol).cast("array<double>"))
      .collect()
    val probeRows: Seq[org.apache.spark.sql.Row] = qrows.toSeq.flatMap { r =>
      val qv = r.getSeq[Double](1)
      probeCells(index.centroids, qv, nProbe)
        .map(c => org.apache.spark.sql.Row(r.get(0), c, qv))
    }
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      qField.copy(name = queryIdCol),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("__qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = true)))
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows, 1), probeSchema)
    val cells = probeRows.map(_.getInt(1)).distinct
    // one artifact scan over the union of probed cells — an IN literal
    // list, so a cluster-partitioned serving layout directory-prunes it
    val cands = index.assigned
      .filter(col("cluster").isin(cells: _*))
      .select(col(idCol), col("cluster").cast("int").as("cluster"),
        col(vecCol).as("__v"))
    val scored = cands.join(broadcast(probes), Seq("cluster"))
      .select(col(queryIdCol), col(idCol),
        (dot(col("__v"), col("__qv"))
          / (vec_norm(col("__v")) * vec_norm(col("__qv")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("cos_rank", row_number().over(w))
      .filter(col("cos_rank") <= k)
      .orderBy(col(queryIdCol), col("cos_rank"))
  }

  // --------------------------------------------------------------------
  // Late-interaction (multi-vector) retrieval — MaxSim (Khattab &
  // Zaharia, ColBERT, SIGIR 2020): a document is a BAG of token
  // vectors, a query is a bag of token vectors, and
  //   score(d) = Σ_{q∈Q} max_{t∈d} cos(q, t)
  // — each query token matches its best document token independently,
  // which is what single-vector cosine cannot express (it averages the
  // interactions away). The third retrieval scoring family next to
  // BM25 (lexical) and single-vector cosine (dense), and a Fusion /
  // RankEval-compatible producer like both of them.

  /** Adapt a single-vector table to the multi-vector contract: slice
    * each `dim`-wide vector into `tokens` contiguous sub-vectors — one
    * row per (id, tok, tok_vec), tok 1-based. The deterministic
    * fixture adapter for [[maxSimTopK]] (real deployments bring ColBERT
    * token embeddings; the engine only needs the (id, token-vector)
    * shape, which this derives from any embedding column). The explode
    * multiplies rows by `tokens`, never bytes by more than the slice
    * overhead — each output vector is `dim/tokens` wide. */
  def sliceTokens(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, tokens: Int): DataFrame = {
    require(tokens > 0 && dim % tokens == 0,
      s"tokens ($tokens) must divide dim ($dim)")
    val sub = dim / tokens
    val slices = array((0 until tokens).map(i =>
      slice(col(vecCol).cast("array<double>"), i * sub + 1, sub)): _*)
    df.select(col(idCol), posexplode(slices))
      .select(col(idCol), (col("pos") + 1).cast("int").as("tok"),
        col("col").as("tok_vec"))
  }

  /** MaxSim top-k against a literal query-token bag: ONE scan of the
    * token table. Each token row scores against every query token in
    * whole-stage codegen (query tokens are literal arrays — no join,
    * no broadcast), the per-document max-per-query-token is one
    * hash-aggregate (map-side partial maxes — the max is
    * order-insensitive, so partition order cannot perturb it), and the
    * final Σ of maxes is a FIXED left-to-right column sum, bit-stable
    * across engines (the [[graft.operators.Fusion]] float discipline).
    * Returns (idCol, maxsim) rows, top-k by (maxsim desc, id) via
    * TakeOrdered — never a global sort. Cost: |tokens(d)| × |Q| dots
    * per document, each dim/tokens wide — the same flops per doc as
    * |Q| full-width dots; the win is the scoring model, not the
    * arithmetic. */
  def maxSimTopK(docTokens: DataFrame, idCol: String, vecCol: String,
      queryTokens: Seq[Seq[Double]], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(queryTokens.nonEmpty, "queryTokens must be non-empty")
    val v = col(vecCol)
    val maxes = queryTokens.zipWithIndex.map { case (qt, i) =>
      val q = array(qt.map(lit): _*)
      val qn = math.sqrt(qt.map(x => x * x).sum)
      max(dot(v, q) / (vec_norm(v) * lit(qn))).as(s"__m$i")
    }
    val score = queryTokens.indices.map(i => col(s"__m$i")).reduce(_ + _)
    docTokens.groupBy(col(idCol)).agg(maxes.head, maxes.tail: _*)
      .select(col(idCol), score.as("maxsim"))
      .orderBy(col("maxsim").desc, col(idCol).asc)
      .limit(k)
  }

  /** BATCH MaxSim: a WORKLOAD of single-vector queries served in ONE
    * token-table scan — the [[bruteForceTopKBatch]] shape for the
    * late-interaction family. Query vectors are sliced into `tokens`
    * sub-vectors IN-PLAN (the [[sliceTokens]] adapter applied to the
    * workload side) and broadcast; each token row scores against every
    * query's every token map-side, the (query, doc) hash-aggregate
    * takes the per-query-token maxes (order-insensitive), the Σ is the
    * same fixed-order column sum as [[maxSimTopK]], and ranking is a
    * window PARTITIONED BY query — per-query k-row heap state, never a
    * global sort. Returns (queryIdCol, idCol, maxsim, maxsim_rank)
    * with rank ≤ k, ordered by (query, rank). The broadcast cross
    * product is the intended shape: workload-sized build side, one
    * streamed scan (the brute-force late-interaction baseline; a
    * production deployment puts an [[ivfTopKBatch]]-style candidate
    * prune in front and MaxSim-rescores the survivors). */
  def maxSimTopKBatch(docTokens: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      dim: Int, tokens: Int, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(tokens > 0 && dim % tokens == 0,
      s"tokens ($tokens) must divide dim ($dim)")
    val sub = dim / tokens
    val qcols = (0 until tokens).map(i =>
      slice(col(queryVecCol).cast("array<double>"), i * sub + 1, sub)
        .as(s"__q$i"))
    val q = queries.select(col(queryIdCol) +: qcols: _*)
    val scored = docTokens.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(broadcast(q))
    val maxes = (0 until tokens).map(i =>
      max(dot(col("__v"), col(s"__q$i"))
        / (vec_norm(col("__v")) * vec_norm(col(s"__q$i")))).as(s"__m$i"))
    val score = (0 until tokens).map(i => col(s"__m$i")).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("maxsim").desc, col(idCol).asc)
    scored.groupBy(col(queryIdCol), col(idCol)).agg(maxes.head, maxes.tail: _*)
      .select(col(queryIdCol), col(idCol), score.as("maxsim"))
      .withColumn("maxsim_rank", row_number().over(w))
      .filter(col("maxsim_rank") <= k)
      .orderBy(col(queryIdCol), col("maxsim_rank"))
  }
}
