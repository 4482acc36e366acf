package graft
/** Warm steady-state timing of every gate; prints one JSON line. A
  * crashed gate's stack trace also goes to `<outDir>/failures.jsonl`
  * (`outDir` = the first argument, else the working directory). */
object Bench {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(".")
    GateFailures.reset(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/classloading would otherwise be billed
    // entirely to whichever query happens to run first.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // JMH-style per-plan warmup AT THE BENCH SF: one untimed pass over
    // every query so Janino codegen, JIT, streaming-machinery init AND
    // the AQE runtime re-plans for the real stage sizes are paid before
    // timing. (Warming at a smaller sibling SF compiles the static plans
    // but not the AQE-final ones — measured: first sf0.1 run of
    // q_dedup_exact bills 3.4 s against a 0.6 s steady state.)
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a failed query must NOT pose as a fast success in the bench
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failures += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          GateFailures.record(outDir, name, e)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "timing" documents the protocol: JMH-style warm steady state — every
    // query ran once untimed at this SF before the timed pass, so the
    // numbers exclude one-off JIT/codegen/AQE-replan costs. Any baseline
    // compared against these numbers should be warmed the same way.
    println(s"""{"metric":"total","value":$total,"unit":"sec","timing":"steady_state_warm","queries":$qs,"failures":$fs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
