package graft.tools

/** Steady-state profiler for the slowest bench queries: N timed reps
  * after warmup, per-query, so real operator cost separates from one-off
  * codegen/JIT. Usage: runMain graft.tools.ProfSlow [sfDir] [reps] [q1,q2,…]. */
object ProfSlow {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val slow = graft.gates.Gates.named(only.map(_.toSeq.sorted).getOrElse(Seq(
      "q_dedup_exact", "q_groupby_runs", "q_dedup_minhash", "q_dedup_ngram",
      "q_dedup_remove", "q_join_salted", "q_join_multikey", "q_search_minscore",
      "q_sim_ivf", "q_json_roundtrip", "q_stream_dedup", "q_dedup_simhash",
      "q_search_scored", "q_unique_first", "q_batched", "q_pivot_3level")))
    val spark = graft.GraftSession.harness("graft-prof-slow").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    slow.foreach { g =>
      val (name, fn) = (g.name, g.build)
      try fn(spark, sfDir).count() catch { case e: Throwable => println(s"$name WARM-FAIL ${e.getMessage}") }
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-22s min=${times.min}%6.3f med=${times.sorted.apply(reps / 2)}%6.3f max=${times.max}%6.3f")
    }
    spark.stop()
  }
}
