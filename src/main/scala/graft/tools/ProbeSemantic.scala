package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Parameter-tuning probe for the q_dedup_semantic recall gate: for each
  * (threshold, nCentroids, probes) candidate, prints how many exact
  * cosine pairs the cluster-scoped candidate generation recovers, and
  * the candidate volume vs all-pairs. Run at ALL THREE SFs before
  * pinning gate parameters (data-dependent gate protocol). */
object ProbeSemantic {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = graft.GraftSession.harness("graft-probe-semantic").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (dir <- dirs) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      println(s"== $dir (${n} vectors, all-pairs=${n * (n - 1) / 2}) ==")
      for (thr <- Seq(0.35, 0.5, 0.7)) {
        val exact = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", thr)
          .select("id_a", "id_b").cache()
        val nExact = exact.count()
        for (k <- Seq(8, 16, 32); m <- Seq(1, 2, 3)) {
          val cands = Dedup.semanticPairs(emb, "vec_id", "embedding", thr,
            nCentroids = k, probes = m).select("id_a", "id_b").cache()
          val nCand = cands.count()
          val hit = exact.join(cands, Seq("id_a", "id_b"), "left_semi").count()
          println(f"thr=$thr%.2f k=$k%-3d m=$m  exact=$nExact%-6d " +
            f"recovered=$hit%-6d recall=${if (nExact == 0) 1.0 else hit.toDouble / nExact}%.4f " +
            f"cands=$nCand%-8d")
          cands.unpersist()
        }
        exact.unpersist()
      }
    }
    spark.stop()
  }
}
