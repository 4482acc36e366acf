package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Stage-level attribution for one bench query: runs the named query
  * (warm pass + one profiled pass) and prints, per stage of the profiled
  * pass, wall-clock span, summed task time, shuffle read/write bytes,
  * input bytes and task count — the §1/§7 "where is the time going"
  * evidence the optimization loop needs before touching a plan.
  *
  * Usage: runMain graft.tools.ProfStages [sfDir] [query] [reps]
  */
object ProfStages {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "q_dedup_simhash"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.harness("graft-prof-stages").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("conf openCostInBytes=" +
      spark.sessionState.conf.filesOpenCostInBytes)

    final case class St(var name: String = "", var sub: Long = 0L,
      var done: Long = 0L, var taskMs: Long = 0L, var tasks: Int = 0,
      var shRead: Long = 0L, var shWrite: Long = 0L, var input: Long = 0L,
      var spill: Long = 0L)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    @volatile var record = false
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (record) {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          s.name = e.stageInfo.name.take(90)
          s.sub = System.nanoTime()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) stages.get(e.stageInfo.stageId).foreach { s =>
          s.done = System.nanoTime()
          s.tasks = e.stageInfo.numTasks
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (record) stages.get(e.stageId).foreach { s =>
          val m = e.taskMetrics
          if (m != null) {
            s.taskMs += m.executorRunTime
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.input += m.inputMetrics.bytesRead
            s.spill += m.memoryBytesSpilled
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val fn = graft.gates.Gates(name).build
    // warm: codegen/JIT/AQE + once-per-generation artifact builds
    try fn(spark, sfDir).count() catch { case e: Throwable =>
      println(s"WARM-FAIL: ${e.getMessage}") }
    (1 to reps).foreach { rep =>
      stages.clear()
      record = true
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(300) // drain listener bus
      println(f"\n===== $name rep=$rep total=$total%.3f s rows=$n =====")
      println(f"${"stage"}%-7s ${"wall_s"}%7s ${"task_s"}%7s ${"tasks"}%5s " +
        f"${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s  name")
      stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
        val wall = if (s.done > s.sub && s.sub > 0) (s.done - s.sub) / 1e9 else 0.0
        println(f"$id%-7d $wall%7.3f ${s.taskMs / 1e3}%7.2f ${s.tasks}%5d " +
          f"${s.input / 1e6}%8.1f ${s.shRead / 1e6}%8.1f ${s.shWrite / 1e6}%8.1f  ${s.name}")
      }
      val wallSum = stages.values.map(s =>
        if (s.done > s.sub && s.sub > 0) (s.done - s.sub) / 1e9 else 0.0).sum
      println(f"stage wall sum=$wallSum%.3f s (gaps to total = driver/planning/actions)")
    }
    spark.stop()
  }
}
