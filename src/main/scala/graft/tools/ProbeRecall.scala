package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Parameter-tuning probe for the recall gates (q_dedup_minhash,
  * q_dedup_simhash, q_sim_lsh, q_sim_ivf): prints, for each candidate
  * parameterization, how many exact near-dup pairs / exact top-k members
  * the approximate path recovers. The gate queries pin the parameters
  * this probe validates at the gate scale factor. */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.harness("graft-probe-recall").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (thr <- Seq(0.7, 0.8, 0.9)) {
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, thr)
        .select("id_a", "id_b").cache()
      val nExact = exact.count()
      for (bands <- Seq(16, 32)) {
        val cands = Dedup.minhashLSH(docs, "doc_id", "text", 3, 64, bands)
          .select("id_a", "id_b")
        val hit = exact.join(cands, Seq("id_a", "id_b"), "left_semi").count()
        println(s"MINHASH thr=$thr bands=$bands exact=$nExact hit=$hit")
      }
      val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3).select("id_a", "id_b")
      val simHit = exact.join(sim, Seq("id_a", "id_b"), "left_semi").count()
      println(s"SIMHASH thr=$thr maxDist=3 exact=$nExact hit=$simHit")
      exact.unpersist()
    }

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exactTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 20)
      .select("vec_id").cache()
    exactTop.count()
    for (bits <- Seq(8, 12); probe <- Seq(2, 3, 4)) {
      val b = Similarity.lshBuckets(emb, "vec_id", "embedding", dims = 64, bits = bits)
      val ann = Similarity.lshTopK(b, "vec_id", "embedding", qvec, 20, bits, probe)
      val hit = exactTop.join(ann.select("vec_id"), Seq("vec_id"), "left_semi").count()
      println(s"LSH bits=$bits probeDist=$probe hit=$hit/20 annRows=${ann.count()}")
    }
    for (nc <- Seq(32); np <- Seq(8, 12, 16)) {
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nc, iters = 1)
      val ann = Similarity.ivfTopK(idx, "vec_id", "embedding", qvec, 20, np)
      val hit = exactTop.join(ann.select("vec_id"), Seq("vec_id"), "left_semi").count()
      println(s"IVF nCentroids=$nc nProbe=$np hit=$hit/20")
    }
    spark.stop()
  }
}
