package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Contamination, Similarity, Sketch}
import graft.sources.Sources
import graft.streaming.Streaming

/** The one crash-resume rule of the staged-generation protocol
  * ([[graft.operators.Generations]]), one case per family: a promote
  * that crashed after its swaps but before the basis drop leaves the
  * basis and the consumed tombstones behind. Each case makes that state
  * by running the family's swaps with `Sources.promoteTable` directly,
  * reruns the public promote, and expects it to complete, leave no
  * staged table and no tombstone sibling, and serve the same rows as a
  * clean promote. (BM25's case lives in DeleteSpec.) */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val dead = emb.filter(col("vec_id") % 7 === 3)
    .select(col("vec_id"))

  /** Every catalog table of artifact `table`. */
  private def tablesOf(table: String): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(n => n == table || n.startsWith(s"${table}_"))

  /** Drop the artifact's tables, and its directory a previous run may
    * have left behind. */
  private def reset(table: String): Unit =
    (table +: tablesOf(table)).distinct.foreach(Sources.replaceTable(spark, _))

  private def assertNoDebris(table: String): Unit = {
    val debris = tablesOf(table)
      .filter(n => n.contains("__next") || n.endsWith("_deleted"))
    assert(debris.isEmpty, s"the resumed promote left $debris")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `cycle(table, crash)` for a crashed and a clean artifact and
    * compare what each serves afterwards. */
  private def crashMatchesClean(family: String)(
      cycle: (String, Boolean) => Seq[String]): Unit = {
    val resumed = cycle(s"gen_${family}_crash", true)
    assertNoDebris(s"gen_${family}_crash")
    val clean = cycle(s"gen_${family}_clean", false)
    assertNoDebris(s"gen_${family}_clean")
    assert(resumed.nonEmpty && resumed == clean,
      s"$family: the resumed promote serves other rows than a clean one")
  }

  test("IVF: a promote rerun after a crash between the swaps and the " +
      "basis drop completes and retires the consumed tombstones") {
    crashMatchesClean("ivf") { (table, crash) =>
      reset(table)
      Similarity.saveIvfIndex(Similarity.ivfIndex(emb, "vec_id",
        "embedding", nCentroids = 8, iters = 2), table)
      Similarity.deleteVectors(spark, table, dead)
      Similarity.buildNextIvfGeneration(spark, table, "vec_id",
        "embedding", iters = 2)
      if (crash) {
        Sources.promoteTable(spark, s"${table}__next_centroids",
          s"${table}_centroids")
        Sources.promoteTable(spark, s"${table}__next", table)
      }
      rows(Similarity.promoteIvfGeneration(spark, table).assigned
        .select("vec_id"))
    }
  }

  test("PQ: a promote rerun after a crash between the swaps and the " +
      "basis drop completes and retires the consumed tombstones") {
    crashMatchesClean("pq") { (table, crash) =>
      reset(table)
      Similarity.savePqIndex(Similarity.pqIndex(emb, "vec_id", "embedding",
        dims = 64, m = 8, nCodes = 16, iters = 2, sampleN = 256), table)
      Similarity.deleteVectors(spark, table, dead)
      Similarity.buildNextPqGeneration(spark, table, "vec_id", "embedding",
        iters = 2, sampleN = 256)
      if (crash) {
        Sources.promoteTable(spark, s"${table}__next_codebooks",
          s"${table}_codebooks")
        Sources.promoteTable(spark, s"${table}__next", table)
      }
      rows(Similarity.promotePqGeneration(spark, table).encoded
        .select("vec_id"))
    }
  }

  test("LSH: a promote rerun after a crash between the projection swaps " +
      "and the basis drop completes and retires the consumed tombstones") {
    crashMatchesClean("lsh") { (table, crash) =>
      reset(table)
      Similarity.saveLshIndex(emb, "embedding", dims = 64, table,
        bits = 6, tables = 2)
      Similarity.deleteVectors(spark, table, dead)
      Similarity.buildNextLshLayout(spark, table)
      if (crash) (0 until 2).foreach(t =>
        Sources.promoteTable(spark, s"${table}_t${t}__next", s"${table}_t$t"))
      Similarity.promoteLshLayout(spark, table)
      rows(spark.table(s"${table}_t0").select("vec_id", "bucket")
        .unionByName(spark.table(s"${table}_t1").select("vec_id", "bucket")))
    }
  }

  test("sketch cube: a promote rerun after a crash between the swap and " +
      "the basis drop completes") {
    val all = (1 to 3000).map(i => (i.toLong, s"g${i % 3}", s"v${i % 911}"))
      .toDF("id", "grp", "v")
    val kept = all.filter(col("id") % 7 =!= 3)
    crashMatchesClean("cube") { (table, crash) =>
      reset(table)
      Sketch.buildDistinctSketches(all, Seq("grp"), "v")
        .write.format("parquet")
        .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
      // the cube's takedown: the next generation is built without them
      Sketch.buildNextSketchCube(spark, table,
        _ => Sketch.buildDistinctSketches(kept, Seq("grp"), "v"))
      if (crash) Sources.promoteTable(spark, s"${table}__next", table)
      Sketch.promoteSketchCube(spark, table)
      rows(spark.table(table).select("grp", "n_rows"))
    }
  }

  test("near-dup index: a compaction rerun after a crash between the " +
      "swaps and the basis drop completes and retires the consumed " +
      "tombstones") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 5 === 0)
    val noSegments = "/nonexistent_admitted_dir"
    crashMatchesClean("neardup") { (table, crash) =>
      reset(table)
      Contamination.shingleIndexFor(corpus, "doc_id", "text", table, n = 3,
        buckets = 2)
      Contamination.deleteDocs(spark, table,
        corpus.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      if (crash) {
        Streaming.buildNextNearDedupIndex(corpus, noSegments, "doc_id",
          "text", table, n = 3, buckets = 2)
        Sources.promoteTable(spark, s"${table}__next_meta", s"${table}_meta")
        Sources.promoteTable(spark, s"${table}__next", table)
        assert(spark.catalog.tableExists(s"${table}_deleted"),
          "premise: the crash left the consumed tombstones")
      }
      rows(Streaming.compactNearDedupIndex(corpus, noSegments, "doc_id",
        "text", table, n = 3, buckets = 2))
    }
  }

  test("a promote with nothing staged and no basis fails fast") {
    val table = "gen_lsh_unbuilt"
    reset(table)
    Similarity.saveLshIndex(emb, "embedding", dims = 64, table, bits = 6,
      tables = 2)
    intercept[IllegalArgumentException](
      Similarity.promoteLshLayout(spark, table))
  }
}
