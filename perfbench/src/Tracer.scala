package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, and counters
  * from Spark's own listeners and Hadoop's file-system statistics. The
  * untraced run uses [[Tracer.off]], whose spans only run their body. */
class Tracer private (spark: Option[SparkSession]) {
  final case class Span(id: Long, parent: Long, name: String, start: Long,
      var end: Long = 0L, timed: Boolean)

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0L
  private var timed = false

  /** Times `body` as a span of the timed phase; set-up and warm-up run
    * (on several threads in set-up) untraced. */
  def span[T](name: String)(body: => T): T = spark match {
    case Some(s) if timed =>
      val sp = Span(ids.incrementAndGet(), current, name, System.nanoTime(), timed = true)
      spans += sp
      val parent = current
      current = sp.id
      s.sparkContext.setLocalProperty(Tracer.SpanKey, sp.id.toString)
      try body finally {
        sp.end = System.nanoTime()
        current = parent
        s.sparkContext.setLocalProperty(Tracer.SpanKey,
          if (parent == 0L) null else parent.toString)
      }
    case _ => body
  }

  // ---- counters, written on the listener-bus thread while `active`
  @volatile private var active = false
  private val jobsBySpan = mutable.Map.empty[Long, Int].withDefaultValue(0)
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // job, span, start ms
  private val jobEnds = mutable.Map.empty[Int, Long]
  private var jobs, tasks = 0L
  private var taskRunMs, taskCpuNs, gcMs, inputBytes, shuffleBytes = 0L
  private var planMs, filesRead = 0L
  private val progress = mutable.ArrayBuffer.empty[
    (java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private var statefulQuery: Option[java.util.UUID] = None
  private var fs0: Array[Long] = Array.fill(3)(0L)
  private var fsDelta: Array[Long] = Array.fill(3)(0L)

  spark.foreach { s =>
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
          .map(_.toLong).getOrElse(0L)
        jobSpans += ((e.jobId, sp, e.time))
        if (active) { jobs += 1; if (sp != 0L) jobsBySpan(sp) += 1 }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobEnds(e.jobId) = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        if (active && e.taskMetrics != null) {
          val m = e.taskMetrics
          tasks += 1
          taskRunMs += m.executorRunTime
          taskCpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          inputBytes += m.inputMetrics.bytesRead
          shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        Tracer.this.synchronized {
          if (active) {
            planMs += Seq("analysis", "optimization", "planning")
              .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum
            filesRead += scans(qe.executedPlan).flatMap(_.metrics.get("numFiles"))
              .map(_.value).sum
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          if (active && e.progress.numInputRows > 0) progress += ((e.progress.id, e.progress))
        }
    })
  }

  /** File scans of an executed plan, through adaptive and stage wrappers. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** (read calls, write calls, bytes written) of the local file system. */
  private def fsStats(): Array[Long] = {
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    Array(CountingFs.reads.get, CountingFs.writes.get, written)
  }

  def watch(queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
    statefulQuery = queries.headOption.map(_.id)

  def startTimed(): Unit = spark.foreach { s =>
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)
    fs0 = fsStats()
    active = true
    timed = true
  }

  def endTimed(): Unit = spark.foreach { s =>
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)
    active = false
    timed = false
    fsDelta = fsStats().zip(fs0).map { case (a, b) => a - b }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def spanMs(name: String): Seq[Double] =
    spans.filter(sp => sp.timed && sp.name == name).map(sp => (sp.end - sp.start) / 1e6).toSeq

  /** Per-layer metrics over the timed phase; empty without tracing. */
  def report(ops: Int): java.util.Map[String, Any] = synchronized {
    val out = new java.util.LinkedHashMap[String, Any]()
    if (spark.isEmpty) return out
    val n = math.max(ops, 1).toDouble
    val mb = 1e6
    out.put("driver.plan_ms", planMs / n)
    out.put("driver.jobs_per_op", jobs / n)
    out.put("stage.tasks_per_op", tasks / n)
    out.put("stage.task_s_per_op", taskRunMs / 1e3 / n)
    out.put("stage.cpu_s_per_op", taskCpuNs / 1e9 / n)
    out.put("stage.gc_s_per_op", gcMs / 1e3 / n)
    out.put("io.input_mb_per_op", inputBytes / mb / n)
    out.put("io.shuffle_mb_per_op", shuffleBytes / mb / n)
    out.put("io.files_read_per_op", filesRead / n)
    out.put("fs.read_ops_per_op", fsDelta(0) / n)
    out.put("fs.write_ops_per_op", fsDelta(1) / n)
    out.put("fs.mb_written_per_op", fsDelta(2) / mb / n)
    val tableOps = spans.filter(sp => sp.timed && sp.parent == 0L &&
      Tracer.TableKinds.contains(sp.name)).map(sp => (sp.end - sp.start) / 1e6).toSeq
    out.put("core.call_ms", median(tableOps))
    val loads = spans.filter(sp => sp.timed && sp.name == "search.load")
    out.put("search.load_ms", median(spanMs("search.load")))
    out.put("search.load_hit_ratio",
      if (loads.isEmpty) 0.0 else loads.count(sp => jobsBySpan(sp.id) == 0) / loads.size.toDouble)
    for (layer <- Seq("search", "similarity");
         call <- Seq("query", "upsert", "delete", "compact") ++
           (if (layer == "similarity") Seq("load") else Nil))
      out.put(s"$layer.${call}_ms", median(spanMs(s"$layer.$call")))
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val ps = progress.map(_._2).toSeq
    out.put("streaming.trigger_ms", median(ps.map(d(_, "triggerExecution"))))
    out.put("streaming.sink_ms", median(ps.map(d(_, "addBatch"))))
    out.put("streaming.plan_ms", median(ps.map(d(_, "queryPlanning"))))
    out.put("streaming.log_ms", median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))))
    val stateful = progress.filter(x => statefulQuery.contains(x._1)).map(_._2).toSeq
    out.put("state.commit_ms", median(stateful.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)))
    val last = stateful.lastOption
    out.put("state.rows", last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
    out.put("state.mb", last.map(_.stateOperators.map { so =>
      Option(so.customMetrics.get("rocksdbSstFileSize")).map(_.longValue)
        .getOrElse(so.memoryUsedBytes)
    }.sum / mb).getOrElse(0.0))
    out
  }

  /** Spans (the benchmark's own, and one per Spark job, parented by the
    * span that submitted it) and the raw counters, as one JSON file. */
  def writeSpans(path: Path): Unit = if (spark.nonEmpty) synchronized {
    val all = new java.util.ArrayList[Any]()
    spans.foreach { sp =>
      all.add(java.util.Map.of("id", sp.id, "parent", sp.parent, "name", sp.name,
        "start_ns", sp.start, "end_ns", sp.end, "timed", sp.timed))
    }
    jobSpans.foreach { case (job, sp, start) =>
      all.add(java.util.Map.of("job", job, "parent", sp, "name", "spark.job",
        "start_ms", start, "end_ms", jobEnds.getOrElse(job, 0L)))
    }
    val counters = new java.util.LinkedHashMap[String, Any]()
    Seq("jobs" -> jobs, "tasks" -> tasks, "task_run_ms" -> taskRunMs,
      "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
      "shuffle_write_bytes" -> shuffleBytes, "plan_ms" -> planMs, "files_read" -> filesRead,
      "fs_read_ops" -> fsDelta(0), "fs_write_ops" -> fsDelta(1),
      "fs_bytes_written" -> fsDelta(2)).foreach { case (k, v) => counters.put(k, v) }
    Main.json.writeValue(path.toFile, java.util.Map.of("spans", all, "counters", counters))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val TableKinds: Set[String] =
    Set("point", "where", "join", "groupby", "pivot", "topn").map("op." + _)
  val off = new Tracer(None)
  def apply(spark: SparkSession): Tracer = new Tracer(Some(spark))
}
