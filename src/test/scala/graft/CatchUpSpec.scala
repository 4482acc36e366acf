package graft

import org.apache.spark.sql.functions._
import graft.operators.{Generations, Search, Similarity}
import graft.sources.Sources

/** The CONCURRENT-MAINTENANCE catch-up behind every staged-generation
  * promote: rows admitted into a live artifact AFTER the staged build's
  * basis snapshot (a concurrent upsert, a streaming segment) must be
  * re-admitted into the staged generation — with the NEW generation's
  * parameters where the family trains any — instead of vanishing at the
  * swap. One suite per failure mode, across all four serving families. */
class CatchUpSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val base = emb.filter(col("vec_id") % 5 =!= 0)
  private lazy val delta = emb.filter(col("vec_id") % 5 === 0)

  private def freshIvf(table: String): Unit = {
    Seq(table, s"${table}_centroids", s"${table}_folded",
      s"${table}__next", s"${table}__next_centroids",
      s"${table}__next_basis")
      .foreach(Sources.replaceTable(spark, _))
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(base, "vec_id", "embedding",
        nCentroids = 16, iters = 2), table)
  }

  test("IVF: a delta upserted between buildNext and promote survives " +
      "the swap, re-assigned with the NEW generation's centroids") {
    val table = "cu_ivf_delta"
    freshIvf(table)
    Similarity.buildNextIvfGeneration(spark, table, "vec_id", "embedding",
      iters = 2)
    // the lost-delta window: this admission post-dates the build's basis
    Similarity.upsertIvfIndex(delta, "vec_id", "embedding", table)
    val idx = Similarity.promoteIvfGeneration(spark, table)
    assert(idx.assigned.count() == emb.count(),
      "promote lost the concurrently-upserted delta")
    // every row — including the caught-up delta — must carry an
    // assignment consistent with the PROMOTED generation's centroids
    val mismatches = idx.assigned.filter(col("cluster") =!=
      graft.functions.VectorExpressions
        .nearest_centroid_cos(col("embedding"), idx.centroids)).count()
    assert(mismatches == 0,
      s"$mismatches caught-up rows kept stale-generation assignments")
    assert(!spark.catalog.tableExists(s"${table}__next_basis"),
      "basis debris after a clean promote")
  }

  test("IVF: a promote retry after the catch-up already committed does " +
      "not double-admit (basis is the idempotence point)") {
    val table = "cu_ivf_retry"
    freshIvf(table)
    Similarity.buildNextIvfGeneration(spark, table, "vec_id", "embedding",
      iters = 2)
    Similarity.upsertIvfIndex(delta, "vec_id", "embedding", table)
    // simulate the crash window AFTER the catch-up's append + basis
    // commit but BEFORE the swap: perform exactly those two steps by
    // hand, then run the real promote as the "retry"
    val next = s"${table}__next"
    Similarity.upsertIvfIndex(delta, "vec_id", "embedding", next)
    val basis = Generations.readBasis(spark, s"${next}_basis").get
    val nowFiles = Sources.tableDataFiles(spark, table)
    Generations.writeBasis(spark, s"${next}_basis",
      basis.copy(files = nowFiles.map(0 -> _).toSet))
    assert(basis.files.size < nowFiles.size, "premise: the upsert added files")
    val idx = Similarity.promoteIvfGeneration(spark, table)
    assert(idx.assigned.count() == emb.count(),
      "retry double-admitted (or dropped) the delta")
  }

  test("IVF: a segment admitted after the pre-build fold is re-assigned " +
      "with the new centroids at the promote, ledgered, and cleaned") {
    val table = "cu_ivf_seg"
    freshIvf(table)
    val segDir = java.nio.file.Files
      .createTempDirectory("cu_ivf_seg").toString
    Similarity.buildNextIvfGeneration(spark, table, "vec_id", "embedding",
      iters = 2)
    // a late streaming admission: frozen OLD-generation assignment
    // (deliberately wrong for the retrained geometry — cluster 0 for all)
    delta.filter(col("embedding").isNotNull).withColumn("cluster", lit(0))
      .write.partitionBy("cluster").parquet(s"$segDir/batch=99")
    val idx = Similarity.promoteIvfGeneration(spark, table,
      segDir = Some(segDir))
    assert(idx.assigned.count() == emb.count(),
      "promote lost the late segment's rows")
    val mismatches = idx.assigned.filter(col("cluster") =!=
      graft.functions.VectorExpressions
        .nearest_centroid_cos(col("embedding"), idx.centroids)).count()
    assert(mismatches == 0, "stale segment assignments survived the swap")
    // consumed segment: ledgered (serve skips it) and its dir cleaned
    val fs = new org.apache.hadoop.fs.Path(segDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$segDir/batch=99")),
      "consumed segment dir not cleaned after the swap")
    val served = Similarity.loadIvfIndexWithSegments(spark, table, segDir)
    assert(served.assigned.count() == emb.count(),
      "segment-aware serve double-counts or drops the consumed segment")
  }

  test("PQ: a delta upserted mid-build is re-ENCODED with the promoted " +
      "generation's codebooks") {
    val table = "cu_pq_delta"
    Seq(table, s"${table}_codebooks", s"${table}_folded",
      s"${table}__next", s"${table}__next_codebooks",
      s"${table}__next_basis")
      .foreach(Sources.replaceTable(spark, _))
    Similarity.savePqIndex(
      Similarity.pqIndex(base, "vec_id", "embedding", dims = 64,
        m = 8, nCodes = 16, iters = 2, sampleN = 256), table)
    Similarity.buildNextPqGeneration(spark, table, "vec_id", "embedding",
      iters = 2, sampleN = 256)
    Similarity.upsertPqIndex(delta, "vec_id", "embedding", table)
    val idx = Similarity.promotePqGeneration(spark, table)
    assert(idx.encoded.count() ==
      emb.filter(col("embedding").isNotNull).count(),
      "promote lost the concurrently-upserted delta")
    // every stored code — including the caught-up delta's — must equal
    // a recompute against the PROMOTED codebooks
    import graft.functions.VectorExpressions.{vec_l2_normalize, pq_encode}
    val stale = idx.encoded.filter(col("pq_code") =!=
      pq_encode(vec_l2_normalize(col("embedding")), idx.codebooks)).count()
    assert(stale == 0, s"$stale rows kept stale-codebook codes")
  }

  test("BM25: postings upserted mid-rewrite are copied into the staged " +
      "layout — promoted content equals a direct rebuild over the union") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dBase = docs.filter(col("doc_id") % 5 =!= 0)
    val dDelta = docs.filter(col("doc_id") % 5 === 0)
    val table = "cu_bm25_delta"
    Seq(table, s"${table}_stats", s"${table}__next",
      s"${table}__next_basis").foreach(Sources.replaceTable(spark, _))
    Search.saveBm25Index(
      Search.buildBm25Index(dBase, "doc_id", "text"), table, buckets = 4)
    Search.buildNextBm25Layout(spark, table)
    Search.upsertBm25Index(dDelta, "doc_id", "text", table)
    Search.promoteBm25Layout(spark, table)
    val served = Search.loadBm25Index(spark, table)
    val direct = Search.buildBm25Index(docs, "doc_id", "text")
    assert(served.nDocs == direct.nDocs && served.totalLen == direct.totalLen,
      s"stats diverged: served (${served.nDocs}, ${served.totalLen}) vs " +
        s"rebuild (${direct.nDocs}, ${direct.totalLen})")
    assert(served.postings.count() == direct.postings.count(),
      "promoted postings lost (or duplicated) the mid-rewrite upsert")
    assert(served.postings.exceptAll(direct.postings).isEmpty &&
      direct.postings.exceptAll(served.postings).isEmpty,
      "promoted postings content differs from a direct rebuild")
  }

  test("LSH: files upserted mid-rewrite are copied into every staged " +
      "projection — promoted layout content equals a direct rebuild") {
    val table = "cu_lsh_delta"
    (Seq(s"${table}_meta", s"${table}_folded", s"${table}__next_basis") ++
      (0 until 2).flatMap(t =>
        Seq(s"${table}_t$t", s"${table}_t${t}__next")))
      .foreach(Sources.replaceTable(spark, _))
    Similarity.saveLshIndex(base, "embedding", dims = 64, table,
      bits = 6, tables = 2)
    Similarity.buildNextLshLayout(spark, table)
    Similarity.upsertLshIndex(delta, "embedding", table)
    Similarity.promoteLshLayout(spark, table)
    // deterministic hyperplanes: the promoted layout must be content-
    // identical to a rebuild over the full corpus, per projection
    val rebuilt = "cu_lsh_rebuild"
    (Seq(s"${rebuilt}_meta") ++ (0 until 2).map(t => s"${rebuilt}_t$t"))
      .foreach(Sources.replaceTable(spark, _))
    Similarity.saveLshIndex(emb, "embedding", dims = 64, rebuilt,
      bits = 6, tables = 2)
    for (t <- 0 until 2) {
      val got = spark.table(s"${table}_t$t").select("vec_id", "bucket")
      val want = spark.table(s"${rebuilt}_t$t").select("vec_id", "bucket")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"projection t$t content differs from a direct rebuild")
    }
  }

  test("a failed staged build cleans its basis with the rest of the " +
      "staged debris; a basis-less promote degrades to the plain swap") {
    val table = "cu_ivf_fail"
    freshIvf(table)
    intercept[Exception] {
      Similarity.buildNextIvfGeneration(spark, table, "vec_id",
        "no_such_column", iters = 2)
    }
    assert(!spark.catalog.tableExists(s"${table}__next") &&
      !spark.catalog.tableExists(s"${table}__next_basis"),
      "failed build left staged debris")
    // pre-basis staged generation (e.g. built by an older version):
    // promote still swaps cleanly
    Similarity.buildNextIvfGeneration(spark, table, "vec_id", "embedding",
      iters = 2)
    Sources.replaceTable(spark, s"${table}__next_basis")
    val idx = Similarity.promoteIvfGeneration(spark, table)
    assert(idx.assigned.count() ==
      base.filter(col("embedding").isNotNull).count())
  }
}
