package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.core.{Cmp, GTable}
import graft.operators.{Contamination, Search, Similarity}
import graft.streaming.Streaming

/** One benchmark run in one JVM: set-up, then the generated schedule of
  * operations through the program's public functions, one closed-loop
  * client thread. Writes `oplog.jsonl` (every operation with its result,
  * for the checker) and `result.json` (timings, and with tracing the
  * per-layer counters) into the run directory.
  *
  * Usage: perfbench.Main <workload> <inputDir> <dataDir> <outDir>
  *   <t0EpochMs> <trace 0|1> <cores>
  */
object Main {
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, dataDir, outDir, t0s, traceS, coresS) = args
    val t0 = t0s.toLong
    val cores = coresS.toInt
    val builder = SparkSession.builder()
    // the traced run counts local file-system calls
    if (traceS == "1") builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = GraftSession.rocksDbState(builder
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dataDir/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traceS == "1") Tracer(spark) else Tracer.off
    val schedule = Files.readAllLines(Paths.get(inDir, "schedule.jsonl")).asScala
      .map(l => json.readTree(l)).toSeq
    val w: Workload = workload match {
      case "table_query" => new TableQuery(spark, inDir)
      case "serve_rw" => new ServeRw(spark, inDir, tracer)
      case "ingest_stream" => new IngestStream(spark, inDir, dataDir, tracer)
    }
    val log = Files.newBufferedWriter(Paths.get(outDir, "oplog.jsonl"))
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var setupEndMs, firstTimedMs = 0L
    var cpu0, wall0 = 0L
    val timedMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var nTimed = 0
    Main.note(s"session ready ${System.currentTimeMillis() - t0} ms after start")

    /** Run one operation; its log record, and its latency in ms. */
    def call(op: JsonNode): (java.util.Map[String, Any], Double) = {
      val kind = op.get("kind").asText
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("i", op.get("i").asInt)
      rec.put("phase", op.get("phase").asText)
      rec.put("kind", kind)
      val s = System.nanoTime()
      val result = try Right(tracer.span(s"op.$kind")(w.run(kind, op.get("p"))))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - s) / 1e6
      rec.put("ms", ms)
      result match {
        case Right(r) => rec.put("result", r)
        case Left(e) =>
          rec.put("error", e.toString)
          System.err.println(s"operation ${op.get("i")} ($kind) failed:")
          e.printStackTrace()
      }
      (rec, ms)
    }
    def write(rec: java.util.Map[String, Any]): Unit = {
      log.write(json.writeValueAsString(rec))
      log.newLine()
    }
    try {
      w.setup()
      Main.note(s"artifacts ready ${System.currentTimeMillis() - t0} ms after start")
      // set-up: the first call of every operation type, its lanes side by
      // side (operations of one lane in schedule order)
      val (setupOps, rest) = schedule.partition(_.get("phase").asText == "setup")
      import scala.concurrent.{Await, Future, ExecutionContext}
      implicit val ec: ExecutionContext = ExecutionContext.global
      val lanes = setupOps.groupBy(op => w.lane(op.get("kind").asText)).values
        .map(ops => Future(ops.map(op => op.get("i").asInt -> call(op)._1)))
      Await.result(Future.sequence(lanes), scala.concurrent.duration.Duration.Inf)
        .flatten.toSeq.sortBy(_._1).foreach(r => write(r._2))
      // set-up ends here; the warm-up repetitions that follow only warm the JIT
      setupEndMs = System.currentTimeMillis()
      for (op <- rest) {
        val phase = op.get("phase").asText
        if (phase == "timed" && firstTimedMs == 0L) {
          firstTimedMs = System.currentTimeMillis()
          tracer.startTimed()
          cpu0 = cpu.getProcessCpuTime
          wall0 = System.nanoTime()
        }
        val (rec, ms) = call(op)
        if (phase == "timed") {
          nTimed += 1
          timedMs.getOrElseUpdate(op.get("kind").asText, mutable.ArrayBuffer.empty) += ms
        }
        write(rec)
      }
      Main.note(s"schedule done ${System.currentTimeMillis() - t0} ms after start")
      val wallS = (System.nanoTime() - wall0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      tracer.endTimed()
      // heap in use after a full GC: the least of three collections a
      // quarter second apart, so that Spark's context cleaner can drop the
      // blocks of the objects the previous collection found unreachable
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(250)
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }.min / 1e6
      val out = new java.util.LinkedHashMap[String, Any]()
      out.put("setup_s", (setupEndMs - t0) / 1e3)
      out.put("warmup_s", (firstTimedMs - setupEndMs) / 1e3)
      out.put("timed_ops", nTimed)
      out.put("timed_wall_s", wallS)
      out.put("cpu_s", cpuS)
      out.put("heap_mb", heapMb)
      out.put("latency_ms", timedMs.map { case (k, v) => k -> v.asJava }.asJava)
      out.put("trace", tracer.report(nTimed))
      tracer.writeSpans(Paths.get(outDir, "trace.json"))
      json.writeValue(Paths.get(outDir, "result.json").toFile, out)
    } finally {
      log.close()
      w.stop()
      spark.stop()
    }
  }

  /** A collected row as a JSON-ready list: dates as ISO strings, doubles
    * verbatim (Jackson writes the shortest round-trip form). */
  def cells(r: Row): java.util.List[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.asJava
    case v => v
  }.asJava

  def rows(df: DataFrame): java.util.List[java.util.List[Any]] =
    df.collect().toSeq.map(cells).asJava

  def note(msg: String): Unit =
    System.err.println(s"perfbench: ${System.currentTimeMillis()} $msg")

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq
}

trait Workload {
  def setup(): Unit
  def run(kind: String, p: JsonNode): Any
  /** Set-up makes the first calls of different lanes concurrently. */
  def lane(kind: String): String = kind
  def stop(): Unit = ()
}

/** The paper's table surface over generated sf0.1-sized
  * lineitem/orders/customer parquet. */
final class TableQuery(spark: SparkSession, in: String) extends Workload {
  private var li, orders, cust: GTable = _

  def setup(): Unit = {
    li = GTable(spark.read.parquet(s"$in/lineitem.parquet"), "lineitem")
    orders = GTable(spark.read.parquet(s"$in/orders.parquet"), "orders")
    cust = GTable(spark.read.parquet(s"$in/customer.parquet"), "customer")
  }

  private def date(p: JsonNode, k: String) = java.sql.Date.valueOf(p.get(k).asText)

  def run(kind: String, p: JsonNode): Any = kind match {
    case "point" =>
      java.util.List.of(Main.cells(orders.byUnique("o_orderkey", p.get("key").asLong)))
    case "where" =>
      Main.rows(li.where("l_orderkey" -> Cmp.within(p.get("lo").asLong, p.get("hi").asLong),
          "l_quantity" -> Cmp.gt(p.get("qty").asDouble))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice")).df)
    case "join" =>
      Main.rows(cust.where("c_custkey" -> Cmp.within(p.get("lo").asLong, p.get("hi").asLong))
        .join(orders, "c_custkey" -> "o_custkey")
        .join(li, "o_orderkey" -> "l_orderkey")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("l_linenumber"), col("l_extendedprice")).df)
    case "groupby" =>
      Main.rows(li.where("l_shipdate" -> Cmp.within(date(p, "from"), date(p, "to")))
        .groupbyWithSummaries(Seq("l_returnflag", "l_linestatus"),
          "n" -> count(lit(1)), "sum_qty" -> sum(col("l_quantity")),
          "sum_price" -> sum(col("l_extendedprice")),
          "avg_disc" -> avg(col("l_discount"))).df)
    case "pivot" =>
      Main.rows(orders.where("o_orderdate" -> Cmp.inRange(date(p, "from"), date(p, "to")))
        .pivot("o_orderstatus", "o_orderpriority").summary().df)
    case "topn" =>
      Main.rows(li.whereEq("l_suppkey" -> p.get("supp").asLong)
        .orderby("l_extendedprice desc, l_orderkey, l_linenumber").head(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")).df)
  }
}

/** Persisted BM25 and IVF serving artifacts under a read-mostly mix
  * with upserts, deletes and compactions. */
final class ServeRw(spark: SparkSession, in: String, tracer: Tracer) extends Workload {
  import spark.implicits._
  private val conf = Main.json.readTree(Paths.get(in, "config.json").toFile)
  private val widen = conf.get("widen").asInt
  private val centroids = conf.get("ivf_centroids").asInt
  private val probes = conf.get("ivf_probes").asInt
  private val iters = conf.get("ivf_iters").asInt

  /** The ids a BM25 search joins its ranking back to: the widened corpus
    * plus every upserted document. */
  private var docIds: DataFrame = _

  def setup(): Unit = {
    val base = spark.read.parquet(s"$in/documents.parquet")
    // ScaleSmoke's widening: copy i suffixes every word with `_i`
    val widened = (0 until widen).map(i => base.select((col("doc_id") * widen + i).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text")))
      .reduce(_ unionByName _)
    docIds = widened.select("doc_id")
    // the two artifacts build side by side
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val ivf = Future(Similarity.ivfIndexFor(spark.read.parquet(s"$in/embeddings.parquet"),
      "vec_id", "embedding", "ivf", nCentroids = centroids, iters = iters))
    Search.bm25IndexFor(widened, "doc_id", "text", "bm25", buckets = conf.get("buckets").asInt)
    Await.result(ivf, scala.concurrent.duration.Duration.Inf)
  }

  override def lane(kind: String): String = kind.takeWhile(_ != '_')

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  def run(kind: String, p: JsonNode): Any = kind match {
    case "bm25_read" =>
      val idx = tracer.span("search.load")(Search.loadBm25Index(spark, "bm25"))
      tracer.span("search.query")(Search.searchBm25(docIds, idx, "doc_id",
        p.get("query").asText, 10).select("doc_id", "bm25_rank").collect())
        .map(_.getLong(0)).toSeq.asJava
    case "ivf_read" =>
      val q = p.get("query").elements().asScala.map(_.asDouble).toSeq
      val idx = tracer.span("similarity.load")(Similarity.loadIvfIndex(spark, "ivf"))
      tracer.span("similarity.query")(Similarity.ivfTopK(idx, "vec_id", "embedding", q,
        10, probes).collect()).map(r => java.util.List.of(r.getLong(0), r.getDouble(1)))
        .toSeq.asJava
    case "bm25_upsert" =>
      val delta = Main.longs(p.get("ids")).zip(
        p.get("texts").elements().asScala.map(_.asText).toSeq).toDF("doc_id", "text")
      tracer.span("search.upsert")(Search.upsertBm25Index(delta, "doc_id", "text", "bm25"))
      docIds = docIds.unionByName(delta.select("doc_id"))
      null
    case "ivf_upsert" =>
      val vecs = p.get("vecs").elements().asScala.map(
        _.elements().asScala.map(x => x.asDouble.toFloat).toSeq).toSeq
      val rows = Main.longs(p.get("ids")).zip(vecs).zip(Main.longs(p.get("labels")))
        .map { case ((id, v), l) => Row(id, v, l.toInt) }
      val delta = spark.createDataFrame(rows.asJava, vecSchema)
      tracer.span("similarity.upsert")(
        Similarity.upsertIvfIndex(delta, "vec_id", "embedding", "ivf"))
      null
    case "bm25_delete" =>
      tracer.span("search.delete")(
        Search.deleteBm25Docs(spark, "bm25", Main.longs(p.get("ids")).toDF("doc_id")))
      null
    case "ivf_delete" =>
      tracer.span("similarity.delete")(
        Similarity.deleteVectors(spark, "ivf", Main.longs(p.get("ids")).toDF("vec_id")))
      null
    case "bm25_compact" =>
      tracer.span("search.compact")(Search.compactBm25Index(spark, "bm25"))
      null
    case "ivf_compact" =>
      tracer.span("similarity.compact")(
        Similarity.compactIvfIndex(spark, "ivf", "vec_id", "embedding", iters))
      null
  }
}

/** Two long-lived streaming queries on one file source: the curation
  * funnel with a durable checkpoint, and near-dup admission against a
  * shingle index built once in set-up. An operation offers one
  * micro-batch file and waits until both queries have committed it. */
final class IngestStream(spark: SparkSession, in: String, data: String,
    tracer: Tracer) extends Workload {
  private val feed = Paths.get(data, "feed")
  private var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil

  def setup(): Unit = {
    val corpus = spark.read.parquet(s"$in/corpus.parquet")
    val conf = Main.json.readTree(Paths.get(in, "config.json").toFile)
    val index = Contamination.shingleIndexFor(corpus, "doc_id", "text", "shingles", n = 3,
      buckets = conf.get("buckets").asInt)
    Files.createDirectories(feed)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("ts", TimestampType)))
    def source() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feed.toString)
    queries = Seq(
      Streaming.ingestCurationSink(source(), corpus, "text", "ts", s"$data/out_curation",
        delay = conf.get("watermark").asText,
        checkpoint = Some(s"$data/ckpt_curation")),
      Streaming.nearDedupAgainstIndexSink(source(), index, "doc_id", "text",
        s"$data/out_neardup", n = 3, minJaccard = 0.5,
        checkpoint = Some(s"$data/ckpt_neardup")))
    tracer.watch(queries)
  }

  override def lane(kind: String): String = "stream"

  def run(kind: String, p: JsonNode): Any = {
    val name = p.get("file").asText
    Files.move(Paths.get(in, "staging", name), feed.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    queries.foreach(_.processAllAvailable())
    null
  }

  override def stop(): Unit = { queries.foreach(_.stop()); queries = Nil }
}
