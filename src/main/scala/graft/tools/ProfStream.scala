package graft.tools

/** Streaming-state diagnostics: runs one stateful gate's stream and
  * prints every batch's stateOperators metrics (RocksDB load/commit
  * walls), so state-store overhead separates from query compute.
  * Usage: runMain graft.tools.ProfStream [sfDir] [query] */
object ProfStream {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "q_stream_approx_distinct"
    val spark = graft.GraftSession.harness("graft-prof-stream")
      .config("spark.local.dir", sys.props.getOrElse("graft.prof.localdir", "/tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[batch ${p.batchId}] trigger=${p.durationMs}")
        p.stateOperators.foreach { so =>
          println(s"  op=${so.operatorName} rows=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} commitMs=${so.commitTimeMs} " +
            s"custom=${so.customMetrics}")
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val fn = graft.gates.Gates(name).build
    fn(spark, sfDir).count() // warm
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    println(f"total=${(System.nanoTime() - t0) / 1e9}%.3f s")
    Thread.sleep(500)
    spark.stop()
  }
}
