package graft.tools
import org.apache.spark.sql.functions._

/** Measures the marquee claim of the rank-loop BPE encoder: per-word
  * apply cost is INDEPENDENT of merge-list depth (BpeEncodeWords rides
  * the list in as one reference object; cost is O(symbols²) per word).
  * Trains one vocabulary-depth list on the 48-copy widened sf0.001
  * corpus (1629 sustainable merges, probed), then times bpeApplyDeep
  * with merge-list PREFIXES of increasing depth over the SAME corpus —
  * flat wall-clock across depths is the pass. Medians of 3 after one
  * warm pass; run: `sbt "runMain graft.tools.BpeDepthProbe"`. */
object BpeDepthProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.harness("graft-bpe-depth-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val copies = 48
    val wide = (0 until copies).map { k =>
      docs.select((col("doc_id") * copies + k).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1" + ("q" + k)).as("text"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val t0 = System.nanoTime()
    val merges = graft.operators.Lexicon.bpeTrain(wide, "text", merges = 1500)
      .orderBy(col("step")).collect().map(r => (r.getString(1), r.getString(2))).toSeq
    println(f"train: ${merges.size} effective merges in ${(System.nanoTime()-t0)/1e9}%.2f s")
    for (depth <- Seq(100, 500, 1000, 1500)) {
      val prefix = merges.take(depth)
      def once(): Double = {
        val t = System.nanoTime()
        graft.operators.Lexicon.bpeApplyDeep(wide, "doc_id", "text", prefix)
          .agg(sum(col("n_tokens_bpe"))).head()
        (System.nanoTime() - t) / 1e9
      }
      once() // warm
      val runs = Seq.fill(3)(once()).sorted
      println(f"depth=$depth%5d apply_median=${runs(1)}%.3f s (runs ${runs.map(r => f"$r%.3f").mkString(", ")})")
    }
    spark.stop()
  }
}
