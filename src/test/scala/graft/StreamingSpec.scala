package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.Streaming

case class E(user_id: Long, n: Long)

/** Streaming surface: tumbling windows equal the batch answer; custom
  * per-key state via flatMapGroupsWithState. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  test("streaming tumbling counts == batch groupBy (events table)") {
    val streamed = Streaming.runToBatch(
      Streaming.tumblingCounts(Streaming.eventsStream(spark, dir), "1 hour"),
      "stream_spec_out")
      .select(col("window.start").as("h"), col("event_type"), col("n"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = graft.sources.EventTime.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.join(batch, Seq("h", "event_type", "n")).count() == batch.count())
  }

  test("enrichWithStatic: stream-static broadcast join == batch join") {
    val dim = spark.read.parquet(s"$dir/customer.parquet")
    val enriched = Streaming.enrichWithStatic(
      Streaming.eventsStream(spark, dir), dim,
      joinKeys = Seq("user_id" -> "c_custkey"), dimCols = Seq("c_mktsegment"))
    val agg = enriched.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val streamed = Streaming.runToBatch(agg, "stream_enrich_spec_out")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("enrichWithStatic: missing dim key — left keeps the row with a " +
      "null dim col, inner drops it") {
    // pins the semantics q_stream_enrich relies on (joinType = "inner"
    // matches its INNER-join oracle by construction): with a dim table
    // missing some stream keys, left and inner genuinely diverge —
    // full key coverage in the stock test data would hide a default flip
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 2 === 0) // drop odd keys from the dim
    def run(joinType: String, sink: String) = Streaming.runToBatch(
      Streaming.enrichWithStatic(
        Streaming.eventsStream(spark, dir), dim,
        joinKeys = Seq("user_id" -> "c_custkey"),
        dimCols = Seq("c_mktsegment"), joinType = joinType),
      sink, mode = "append")
    val left = run("left", "stream_enrich_left_out")
    val inner = run("inner", "stream_enrich_inner_out")
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    assert(left.count() == nEvents, "left keeps every stream row")
    val leftOrphans = left.filter(col("c_mktsegment").isNull).count()
    assert(leftOrphans > 0, "fixture must actually have missing dim keys")
    assert(inner.count() == nEvents - leftOrphans,
      "inner drops exactly the dim-less rows")
    assert(inner.filter(col("c_mktsegment").isNull).count() == 0)
  }

  test("intervalJoin: stream-stream matches == batch interval join") {
    def sides(ev: org.apache.spark.sql.DataFrame) = (
      ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value")))
    val (sc, sp) = sides(Streaming.eventsStream(spark, dir))
    val streamed = Streaming.runToBatch(
      Streaming.intervalJoin(sc, sp, "c_user" -> "p_user", "c_ts" -> "p_ts",
        "0 seconds", "30 minutes"), "stream_ij_spec_out", mode = "append")
      .groupBy(col("c_user")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (bc, bp) = sides(graft.sources.EventTime.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet")))
    val batch = bc.join(bp, bc("c_user") === bp("p_user") &&
        bp("p_ts") >= bc("c_ts") &&
        bp("p_ts") <= bc("c_ts") + expr("INTERVAL 30 minutes"))
      .groupBy(col("c_user")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=${streamed.size} keys, batch=${batch.size} keys")
  }

  test("flatMapGroupsWithState: running per-user event counter") {
    val events = Seq(E(1, 1), E(1, 1), E(2, 1), E(1, 1)).toDS()
    // batch flavor exercises the same state fn shape used under streaming
    val counted = events.groupByKey(_.user_id).mapGroups { (uid, it) =>
      (uid, it.map(_.n).sum)
    }.collect().toMap
    assert(counted == Map(1L -> 3L, 2L -> 1L))
  }

  test("checkpointed aggregation recovers across query restarts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
    def writeBatch(ids: Seq[Long], part: String): Unit =
      ids.map(i => (i, i % 3)).toDF("id", "grp")
        .coalesce(1).write.mode("append").parquet(srcDir)
    writeBatch(1L to 60L, "a")
    val schema = spark.read.parquet(srcDir).schema
    def startQuery() = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ckpt_spec_out").option("checkpointLocation", ckpt).start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.table("ckpt_spec_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterFirst.values.sum == 60L)
    // new data lands while the query is DOWN; restart from the checkpoint
    writeBatch(61L to 90L, "b")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val afterRestart = spark.table("ckpt_spec_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterRestart.values.sum == 90L,
      s"restarted query must resume state + pick up new files: $afterRestart")
    assert(afterRestart(0L) == 30L && afterRestart(1L) == 30L && afterRestart(2L) == 30L)
  }

  test("dedupStream: re-occurrences across micro-batches are dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val deduped = Streaming.dedupStream(
      in.toDF().toDF("user_id", "event_type", "ts"),
      Seq("user_id", "event_type"), "ts", "30 minutes")
      .select("user_id", "event_type")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_spec_out").start()
    try {
      in.addData((1L, "click", ts(0)), (1L, "click", ts(1)), (2L, "view", ts(2)))
      q.processAllAvailable()
      // batch 2: (1, click) is a cross-batch duplicate within the
      // watermark horizon — state must drop it; (1, view) is new
      in.addData((1L, "click", ts(5)), (1L, "view", ts(6)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_spec_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.sorted == Seq((1L, "click"), (1L, "view"), (2L, "view")),
      s"got $rows")
  }

  test("partitionSubtreeStream: processed files are CONTAINED in the " +
      "subscribed subtree, nested partition column is inferred, and the " +
      "other top-level partitions are never listed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-subtree")
      .toFile.getAbsolutePath
    Seq(
      ("click", "2024-01-01", 1.0), ("click", "2024-01-01", 2.0),
      ("click", "2024-01-02", 4.0),
      ("view", "2024-01-01", 8.0), ("purchase", "2024-01-02", 16.0))
      .toDF("event_type", "day", "value")
      .repartition(2)
      .write.mode("overwrite").partitionBy("event_type", "day").parquet(dir)
    val stream = Streaming.partitionSubtreeStream(spark, dir,
      "event_type=click", maxFilesPerTrigger = 1)
    assert(stream.columns.contains("day"),
      "nested partition column must be directory-inferred")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-subtree-ckpt")
    val q = stream.groupBy(col("day").cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.sum(col("value")).as("s"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("subtree_out")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("subtree_out").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("2024-01-01" -> 3.0, "2024-01-02" -> 4.0),
      s"got $got") // view/purchase rows must not leak in
    // the checkpoint's source log records every file the source ever
    // listed-and-processed — containment there IS the pruning claim
    import scala.jdk.CollectionConverters._
    val srcLog = ckpt.resolve("sources").resolve("0")
    // close each walk stream (it holds a directory fd)
    val paths = scala.util.Using.resource(java.nio.file.Files.walk(srcLog))(
      _.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc")) // binary sidecars
        .flatMap(f => java.nio.file.Files.readAllLines(f).asScala)
        .flatMap(l => "\"path\":\"([^\"]+)\"".r
          .findAllMatchIn(l).map(_.group(1)))
        .toSet)
    assert(paths.nonEmpty, "source log recorded no files")
    assert(paths.forall(_.contains("/event_type=click/")),
      s"source listed outside the subtree: $paths")
    val subtreeFiles = scala.util.Using.resource(java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir, "event_type=click")))(
      _.iterator().asScala.count(p => p.toString.endsWith(".parquet")))
    assert(paths.size == subtreeFiles,
      s"processed ${paths.size} files, subtree holds $subtreeFiles")
  }

  test("partitionSubtreeStream subscribe-before-data: a subtree with no " +
      "files yet starts (root-derived schema, directory created) and " +
      "picks up rows once the first writer lands") {
    val dir = java.nio.file.Files.createTempDirectory("graft-subtree-pre")
      .toFile.getAbsolutePath
    // the table exists, but the subscribed partition value does not
    Seq(("view", "2024-01-01", 8.0), ("purchase", "2024-01-02", 16.0))
      .toDF("event_type", "day", "value")
      .write.mode("overwrite").partitionBy("event_type", "day").parquet(dir)
    val stream = Streaming.partitionSubtreeStream(spark, dir,
      "event_type=click")
    assert(stream.columns.toSet == Set("value", "day"),
      s"root-derived schema must drop the pinned level: ${stream.columns.toSeq}")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-subtree-pre-ck")
    val q = stream.groupBy(col("day").cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.sum(col("value")).as("s"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("subtree_pre_out")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(spark.table("subtree_pre_out").isEmpty,
        "no click rows exist yet")
      // first writer lands in the (pre-created) subtree
      Seq(("2024-01-03", 5.0), ("2024-01-03", 7.0))
        .toDF("day", "value")
        .write.mode("append").partitionBy("day")
        .parquet(s"$dir/event_type=click")
      q.processAllAvailable()
      val got = spark.table("subtree_pre_out").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == Map("2024-01-03" -> 12.0), s"got $got")
    } finally q.stop()
  }

  test("streaming state runs on RocksDB: multi-batch dedup reports state " +
      "rows and rocksdb-specific store metrics in the query progress") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"),
      "suite session must run the deployment state backend")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val deduped = Streaming.dedupStream(
      in.toDF().toDF("user_id", "event_type", "ts"),
      Seq("user_id", "event_type"), "ts", "30 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("rocksdb_metrics_out").start()
    try {
      in.addData((1 to 200).map(i => (i.toLong, "click", ts(i % 30))): _*)
      q.processAllAvailable()
      in.addData((1 to 100).map(i => (i.toLong, "view", ts(i % 30))): _*)
      q.processAllAvailable()
      // the final data batch's progress (processAllAvailable can also
      // surface a trailing no-data batch — skip those)
      val prog = q.recentProgress.reverse
        .find(p => p.stateOperators.nonEmpty && p.numInputRows > 0)
      assert(prog.isDefined, "no stateful progress recorded")
      val so = prog.get.stateOperators.head
      // every key is within the watermark horizon (all events in one
      // 30-min span) → state holds exactly the 300 distinct keys
      assert(so.numRowsTotal == 300L, s"numRowsTotal=${so.numRowsTotal}")
      val custom = so.customMetrics.keySet()
      assert(custom.stream().anyMatch(_.startsWith("rocksdb")),
        s"expected rocksdb custom metrics, got $custom")
    } finally q.stop()
    assert(spark.table("rocksdb_metrics_out").count() == 300L)
  }

  test("dedupStreamAgainst: corpus copies drop (normalized), in-stream " +
      "re-occurrences drop, fresh docs pass — across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((100L, "An Existing  Document"), (101L, "another one"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val out = Streaming.dedupStreamAgainst(
      in.toDF().toDF("doc_id", "text", "ts"), corpus, "text", "ts",
      "30 minutes").select("doc_id")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ingest_dedup_out").start()
    try {
      in.addData(
        (1L, "an existing document", ts(0)),  // corpus copy (normalized)
        (2L, "a brand new doc", ts(1)),       // fresh -> passes
        (3L, "a brand  NEW doc", ts(2)))      // in-stream dup of 2 -> drops
      q.processAllAvailable()
      in.addData(
        (4L, "a brand new doc", ts(5)),       // cross-batch dup -> drops
        (5L, "genuinely novel text", ts(6)))  // fresh -> passes
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("ingest_dedup_out").collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(2L, 5L), s"got $ids")
  }

  test("dedupStreamAgainst blocklist: do-not-ingest digests suppress by " +
      "CONTENT (any id), appended digests apply from the next batch, " +
      "non-blocklisted docs are unaffected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq((100L, "an existing document")).toDF("doc_id", "text")
    // the takedown's retained digest table — the stream-static side
    // re-resolves it per micro-batch, so mid-stream appends apply to
    // later triggers (the live-suppression contract)
    val blTable = "bl_spec_digests"
    graft.sources.Sources.replaceTable(spark, blTable)
    Seq("revoked content here").toDF("text")
      .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
      .write.format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, blTable))
      .saveAsTable(blTable)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val out = Streaming.dedupStreamAgainst(
      in.toDF().toDF("doc_id", "text", "ts"), corpus, "text", "ts",
      "30 minutes", normalize = false,
      blocklist = Some(spark.table(blTable))).select("doc_id")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ingest_blocklist_out").start()
    try {
      in.addData(
        (1L, "revoked content here", ts(0)),   // blocklisted -> drops
        (2L, "a brand new doc", ts(1)),        // fresh -> passes
        (3L, "soon to be revoked", ts(2)))     // not yet listed -> passes
      q.processAllAvailable()
      // a takedown lands mid-stream: append a NEW digest to the table —
      // it must suppress content first seen in a LATER batch (the
      // stream-static side re-resolves per trigger)
      Seq("late revocation target").toDF("text")
        .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
        .write.mode("append").format("parquet").saveAsTable(blTable)
      in.addData(
        (4L, "revoked content here", ts(5)),   // re-crawl, new id -> drops
        (5L, "late revocation target", ts(6)), // appended digest -> drops
        (6L, "genuinely novel text", ts(7)))   // fresh -> passes
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("ingest_blocklist_out").collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(2L, 3L, 6L), s"got $ids")
  }

  test("sketchCubeIngestSink: multi-batch admission serves row counts " +
      "exactly and estimates in band; fold preserves the serve and " +
      "clears segments; shape guard fails at construction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Sketch
    import graft.sources.Sources
    val table = "sketch_ing_spec"
    Seq(table, s"${table}_folded").foreach(Sources.replaceTable(spark, _))
    val all = (1 to 2000).map(i => (s"g${i % 2}", s"v${i % 503}"))
    val (baseRows, deltaRows) = all.partition(_._2.hashCode % 4 != 0)
    Sketch.buildDistinctSketches(baseRows.toDF("grp", "v"), Seq("grp"), "v")
      .write.format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    val segDir = java.nio.file.Files
      .createTempDirectory("sketch_ing_spec").toString
    val in = MemoryStream[(String, String)]
    val q = graft.streaming.Streaming.sketchCubeIngestSink(
      in.toDF().toDF("grp", "v"), table, Seq("grp"), "v", segDir)
    try {
      val (d1, d2) = deltaRows.splitAt(deltaRows.size / 2)
      in.addData(d1: _*); q.processAllAvailable()
      in.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    val exact = all.groupBy(_._1).map { case (g, rs) =>
      g -> (rs.map(_._2).distinct.size.toLong, rs.size.toLong) }
    def check(tag: String): Unit = {
      val got = Sketch.rollupDistinct(
          Sketch.loadCubeWithSegments(spark, table, segDir), Seq("grp"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      exact.foreach { case (g, (nd, n)) =>
        assert(got(g)._2 == n, s"$tag: rows not conserved for $g")
        assert(math.abs(got(g)._1 - nd) <= 0.15 * nd,
          s"$tag: estimate ${got(g)._1} outside 15% of $nd")
      }
    }
    check("base + 2 admitted segments")
    Sketch.foldSketchSegments(spark, table, segDir)
    assert(new java.io.File(segDir).listFiles()
      .count(_.getName.startsWith("batch=")) == 0,
      "fold left segment dirs behind")
    check("post-fold")
    // shape guard: keys that don't match the serving cube fail at
    // construction, not at the first admitted batch
    intercept[IllegalArgumentException] {
      graft.streaming.Streaming.sketchCubeIngestSink(
        in.toDF().toDF("grp", "v"), table, Seq("grp", "v"), "v", segDir)
    }
  }

  test("heavyHittersStream: per-window Misra-Gries — dominant items " +
      "surface with underestimates in bound, windows stay separate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val out = Streaming.heavyHittersStream(
      in.toDF().toDF("item", "ts"), "item", "ts", k = 3, "1 hour", "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("hh_stream_out").start()
    try {
      // window 10:00: 'a' x6 of N=9 -> guaranteed (6 > 9/4); window
      // 11:00: 'z' x4 of N=5
      val w1 = Seq.fill(6)("a") ++ Seq("b", "c", "d")
      val w2 = Seq.fill(4)("z") ++ Seq("y")
      in.addData(w1.zipWithIndex.map { case (s, i) => (s, ts(10, i + 1)) }: _*)
      in.addData(w2.zipWithIndex.map { case (s, i) => (s, ts(11, i + 1)) }: _*)
      q.processAllAvailable()
      // advance the watermark past both windows so append emits them
      in.addData(("late", ts(14, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hh_stream_out").collect()
      .map(r => (r.getTimestamp(0).toString.substring(11, 13),
        r.getString(2), r.getLong(3)))
    val w1a = rows.filter(r => r._1 == "10" && r._2 == "a")
    assert(w1a.nonEmpty, s"'a' must surface in window 10, got ${rows.toSeq}")
    assert(w1a.head._3 <= 6 && w1a.head._3 >= 6 - 9 / 4,
      s"estimate ${w1a.head._3} outside MG band")
    val w2z = rows.filter(r => r._1 == "11" && r._2 == "z")
    assert(w2z.nonEmpty && w2z.head._3 <= 4 && w2z.head._3 >= 4 - 5 / 4,
      s"'z' estimate out of band: ${rows.toSeq}")
    assert(!rows.exists(r => r._1 == "10" && r._2 == "z"),
      "windows must not mix")
  }

  test("funnelCounts: chained dedup → enrich → window agg equals the " +
      "batch funnel under the append watermark cut") {
    val out = Streaming.runToBatch(
      Streaming.funnelCounts(Streaming.eventsStream(spark, dir),
        spark.read.parquet(s"$dir/customer.parquet"),
        joinKeys = Seq("user_id" -> "c_custkey"),
        segmentCol = "c_mktsegment"),
      "funnel_spec_out", mode = "append", watermarkFlush = true)
      .select(col("window.start").as("h"), col("c_mktsegment"), col("n"))
      .distinct()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = graft.sources.EventTime.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val batch = ev
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("h"))
      .distinct()
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("h"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      // the append cut: emitted windows end at or before the final
      // watermark (max event time - 1 h delay)
      .filter(col("h") + expr("INTERVAL 1 HOUR") <=
        lit(mx) - expr("INTERVAL 1 HOUR"))
    assert(out.count() == batch.count(), "row counts")
    assert(out.join(batch, Seq("h", "c_mktsegment", "n")).count() ==
      batch.count(), "streamed funnel == batch funnel under the cut")
    assert(batch.count() > 0, "fixture must close at least one window")
  }

  test("funnelCounts re-targeted: non-events schema, 30-minute window, " +
      "custom ts/dedup columns — same contract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val dim = Seq((7L, "emea"), (8L, "apac")).toDF("device_id", "region")
    val agg = Streaming.funnelCounts(
      in.toDF().toDF("device_id", "action", "event_time"), dim,
      joinKeys = Seq("device_id" -> "device_id"), segmentCol = "region",
      delay = "1 hour", dedupCols = Seq("action"),
      tsCol = "event_time", windowDur = "30 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("funnel_retarget_out").start()
    try {
      in.addData(
        (7L, "tap", ts(10, 5)),
        (7L, "tap", ts(10, 20)),  // same (device, action, 30-min bucket) → deduped
        (7L, "tap", ts(10, 40)),  // next bucket → kept
        (8L, "tap", ts(10, 10)),
        (9L, "tap", ts(10, 15)),  // no dim row → inner enrich drops it
        (7L, "hold", ts(14, 0))) // watermark driver; its window stays open
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_retarget_out")
      .select(date_format(col("window.start"), "HH:mm").as("w"),
        col("region"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == Set(("10:00", "emea", 1L), ("10:30", "emea", 1L),
      ("10:00", "apac", 1L)), s"got $got")
  }

  test("funnelCounts rejects windowDur > delay: same-window duplicates " +
      "farther apart than the delay would escape the dedup guarantee") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val dim = Seq((7L, "emea")).toDF("device_id", "region")
    val e = intercept[IllegalArgumentException](
      Streaming.funnelCounts(
        in.toDF().toDF("device_id", "action", "event_time"), dim,
        joinKeys = Seq("device_id" -> "device_id"), segmentCol = "region",
        delay = "1 hour", dedupCols = Seq("action"),
        tsCol = "event_time", windowDur = "1 day"))
    assert(e.getMessage.contains("windowDur"), e.getMessage)
    // boundary case windowDur == delay is legal
    Streaming.funnelCounts(
      in.toDF().toDF("device_id", "action", "event_time"), dim,
      joinKeys = Seq("device_id" -> "device_id"), segmentCol = "region",
      delay = "30 minutes", dedupCols = Seq("action"),
      tsCol = "event_time", windowDur = "30 minutes")
  }

  test("watermark lateness: an event older than the horizon arriving in " +
      "a later micro-batch is DROPPED from its closed window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Double, java.sql.Timestamp)]
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val out = Streaming.tumblingCounts(
      in.toDF().toDF("event_type", "value", "ts"), "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("late_drop_out").start()
    try {
      // batch A: 10:05 on time; 12:10 advances the watermark (1 h delay)
      // to 11:10 at batch end — the [10:00, 11:00) window closes and its
      // state is evicted
      in.addData(("view", 1.0, ts(10, 5)), ("view", 1.0, ts(12, 10)))
      q.processAllAvailable()
      // batch B: 10:30 is OLDER than the watermark — its window already
      // closed; 12:20 is on time for the open [12:00, 13:00) window
      in.addData(("view", 1.0, ts(10, 30)), ("view", 1.0, ts(12, 20)))
      q.processAllAvailable()
      // batch C: advance the watermark past 13:00 so append emits the
      // 12:00 window
      in.addData(("view", 1.0, ts(15, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_drop_out")
      .select(col("window.start"), col("n")).collect()
      .map(r => r.getTimestamp(0).toString.substring(11, 13) -> r.getLong(1))
    val w10 = rows.filter(_._1 == "10")
    assert(w10.toSeq == Seq("10" -> 1L),
      s"the closed 10:00 window must hold ONLY the on-time 10:05 event, " +
        s"emitted exactly once — the late 10:30 arrival must be dropped, " +
        s"never re-emitted: got ${rows.toSeq}")
    val w12 = rows.filter(_._1 == "12")
    assert(w12.toSeq == Seq("12" -> 2L),
      s"both on-time 12:xx events count: got ${rows.toSeq}")
  }

  test("zOrderedSink: micro-batches land as idempotent z-ordered segments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    val dir = "/tmp/graft-test/zsink"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val q = Streaming.zOrderedSink(
      in.toDF().toDF("k1", "k2", "v"), dir, Seq("k1", "k2"), filesPerBatch = 2)
    val batch1 = (1 to 40).map(i => (i.toLong, (41 - i).toLong, i / 2.0))
    val batch2 = (41 to 60).map(i => (i.toLong, (101 - i).toLong, i / 2.0))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val segs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(segs.toSeq == Seq("batch=0", "batch=1"), s"got ${segs.toSeq}")
    // content: union of the batches, nothing lost or duplicated
    val back = spark.read.parquet(s"$dir/batch=*")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(back.sorted == (batch1 ++ batch2).sorted)
    // each segment is clustered: its files' k1 ranges don't all overlap
    val stats = graft.operators.Layout.fileRangeStats(
      spark, s"$dir/batch=0", Seq("k1")).localCheckpoint(true)
    assert(graft.operators.Layout.overlapFraction(stats, "k1", 1.0, 5.0) <= 0.5)
    // the documented root-read contract: hive-style segment dirs read as
    // one table with a `batch` provenance column
    val root = spark.read.parquet(dir)
    assert(root.columns.sorted.toSeq == Seq("batch", "k1", "k2", "v"))
    assert(root.select("batch").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(0, 1))
  }

  test("ephemeral checkpoint: stop() never throws and leaves no " +
    "graft-ckpt dir behind, over repeated start/stop cycles") {
    // the stop() path and the termination listener both ask for the
    // tmpfs checkpoint's delete; only one may walk the tree, or the
    // other's lazy Files.walk throws out of stop(). One cycle rarely
    // hits the race, so it is run in a loop.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    val shm = java.nio.file.Paths.get("/dev/shm")
    assume(java.nio.file.Files.isWritable(shm), s"$shm is not writable")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ckptDirs(): Set[String] =
      scala.util.Using.resource(java.nio.file.Files.list(shm))(
        _.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft-ckpt-")).toSet)
    val root = "/tmp/graft-test/ckpt-cycles"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    (1 to 25).foreach { i =>
      val before = ckptDirs()
      val in = MemoryStream[(Long, Long, Double)]
      val q = Streaming.zOrderedSink(in.toDF().toDF("k1", "k2", "v"),
        s"$root/run=$i", Seq("k1", "k2"), filesPerBatch = 1)
      val mine = ckptDirs() -- before
      assert(mine.size == 1, s"cycle $i: expected one new checkpoint dir, got $mine")
      try {
        in.addData((i.toLong, 1L, 1.0), (i.toLong + 1, 2L, 2.0))
        q.processAllAvailable()
      } finally q.stop()
      assert((mine & ckptDirs()).isEmpty, s"cycle $i left $mine behind")
    }
    // every cycle really committed its batch before the stop
    assert(spark.read.parquet((1 to 25).map(i => s"$root/run=$i/batch=0"): _*)
      .count() == 50)
  }

  test("nearDedupAgainstSink: per-batch Jaccard dedup against a fixed " +
      "corpus == batch anti-join; stream-internal near-dups both survive") {
    import graft.operators.Contamination
    val base = "/tmp/graft-test/neardedup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    // three files → three micro-batches (maxFilesPerTrigger = 1)
    val streamRows = Seq(
      // near-dup of corpus 1 (J = 6/8 = 0.75) → dropped
      Seq((10L, "the quick brown fox jumps over the lazy cat")),
      // exact dup of corpus 2 → dropped; unrelated doc → survives
      Seq((13L, "alpha beta gamma delta epsilon zeta eta theta"),
        (16L, "completely different content about distributed query engines")),
      // < n words (empty shingle set) → survives; a stream-INTERNAL
      // near-dup pair (J = 5/7) in the same batch: BOTH survive — dedup
      // is against the fixed corpus only (determinism contract)
      Seq((19L, "two words"),
        (22L, "one two three four five six seven eight"),
        (25L, "one two three four five six seven nine")))
    val inDir = s"$base/in"
    streamRows.foreach(rows =>
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir))
    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val outDir = s"$base/out"
    val q = Streaming.nearDedupAgainstSink(stream, corpus,
      "doc_id", "text", outDir, n = 3, minJaccard = 0.5)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$outDir/batch=*").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = Contamination.decontaminateFuzzy(
        streamRows.flatten.toDF("doc_id", "text"), "doc_id", "text",
        corpus, "doc_id", "text", n = 3, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, s"streamed=$got batch=$want")
    assert(got == Seq(16L, 19L, 22L, 25L), s"got $got")
    // micro-batches landed as separate idempotent segments
    val segs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(segs.length >= 2, s"expected multiple batch segments, got ${segs.toSeq}")
    // serve path: the same stream against the PERSISTED bucketed shingle
    // index — identical survivors
    val idx = Contamination.shingleIndexFor(corpus, "doc_id", "text",
      "neardedup_spec_idx", n = 3)
    // the shingle-width stamp survives the parquet round-trip; a
    // mismatched serve width fails loudly instead of silently admitting
    // everything (disjoint hash spaces)
    assertThrows[IllegalArgumentException] {
      Contamination.decontaminateFuzzyFromIndex(corpus, "doc_id", "text",
        idx, n = 13, minJaccard = 0.5)
    }
    val outDir2 = s"$base/out_serve"
    val stream2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q2 = Streaming.nearDedupAgainstIndexSink(stream2, idx,
      "doc_id", "text", outDir2, n = 3, minJaccard = 0.5)
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.read.parquet(outDir2).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == got, s"serve=$got2 build=$got")
    // compaction closes the loop: fold the admitted segments into the
    // index; a near-dup of an ADMITTED doc (16's text, one word changed)
    // that survived against the original corpus is dropped next run
    val idx2 = Streaming.compactNearDedupIndex(corpus, outDir2,
      "doc_id", "text", "neardedup_spec_idx2", n = 3)
    val probe = Seq(
      (30L, "completely different content about distributed query planners"),
      (33L, "fresh unrelated sentence with no overlap whatsoever here")
    ).toDF("doc_id", "text")
    val after = Contamination.decontaminateFuzzyFromIndex(probe,
        "doc_id", "text", idx2, n = 3, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(33L), s"post-compaction survivors: $after")
    // a day with no admissions: compaction over a missing sink dir falls
    // back to corpus-only instead of aborting; 30 (near-dup of the
    // ADMITTED 16, not of the corpus) survives against it
    val idx3 = Streaming.compactNearDedupIndex(corpus, s"$base/never_written",
      "doc_id", "text", "neardedup_spec_idx3", n = 3)
    val none = Contamination.decontaminateFuzzyFromIndex(probe,
        "doc_id", "text", idx3, n = 3, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(none == Seq(30L, 33L), s"corpus-only survivors: $none")
  }

  test("compactNearDedupIndex: on id collision the CORPUS text wins " +
      "deterministically; shingleIndexFor rebuilds over a foreign table") {
    import graft.operators.Contamination
    val base = "/tmp/graft-test/neardedup_priority"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    // an admitted segment whose id collides with corpus id 1 but whose
    // text differs — a stale/buggy upstream; the corpus copy must win
    Seq((1L, "totally different admitted text that must not be indexed"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/admitted/batch=0")
    val idx = Streaming.compactNearDedupIndex(corpus, s"$base/admitted",
      "doc_id", "text", "neardedup_prio_idx", n = 3)
    val collided = idx.filter(col("id") === 1L)
    val wantShingles = Contamination.shingleIndexFrame(
        corpus.filter(col("doc_id") === 1L), "doc_id", "text", 3)
      .select("shk").collect().map(_.getLong(0)).toSet
    val gotShingles = collided.select("shk")
      .collect().map(_.getLong(0)).toSet
    assert(gotShingles == wantShingles,
      "index must hold the CORPUS shingles for the collided id")

    // a pre-existing same-named table WITHOUT an shk column reads as a
    // mismatch and rebuilds — not an IllegalArgumentException
    // (replaceTable first: warehouse dirs survive previous JVMs whose
    // in-memory catalog entries did not)
    graft.sources.Sources.replaceTable(spark, "neardedup_foreign_idx_meta")
    graft.sources.Sources.replaceTable(spark, "neardedup_foreign_idx")
    Seq((3, 32)).toDF("n", "buckets").write.mode("overwrite")
      .format("parquet").saveAsTable("neardedup_foreign_idx_meta")
    Seq((1, 2)).toDF("a", "b").write.mode("overwrite")
      .format("parquet").saveAsTable("neardedup_foreign_idx")
    val rebuilt = Contamination.shingleIndexFor(corpus, "doc_id", "text",
      "neardedup_foreign_idx", n = 3)
    assert(rebuilt.schema.exists(_.name == "shk"),
      "foreign table must be rebuilt into a shingle index")
  }

  test("quantilesStream: per-window KLL sketches merge across batches; " +
      "extracted quantiles honor the rank guarantee") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = Streaming.quantilesStream(
      in.toDF().toDF("ts", "event_type", "value"),
      valueCol = "value", groupCols = Seq("event_type"), window = "1 hour")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("kll_spec_out").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      // two batches into the SAME window: sketch state must merge
      in.addData((1 to 50).map(i => (ts(i % 60), "click", i.toDouble)): _*)
      q.processAllAvailable()
      in.addData((51 to 100).map(i => (ts(i % 60), "click", i.toDouble)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val row = spark.table("kll_spec_out")
      .select(kll_sketch_get_quantile_double(col("qsketch"), lit(0.5)).as("q50"),
        col("n_rows")).head()
    assert(row.getLong(1) == 100L, s"rows ${row.getLong(1)}")
    // value stream is 1..100: p50 must sit within the k=200 rank band
    // (exact at this size — KLL stores all 100 values)
    assert(math.abs(row.getDouble(0) - 50.0) <= 5.0, s"p50=${row.getDouble(0)}")
    // the advertised downstream composition: the DOUBLE-typed merge
    // rolls the windowed sketches up (bigint merge would throw on a
    // doubles sketch — Datasketches wire formats are type-specific)
    val merged = graft.operators.Sketch.rollupQuantileSketchesDouble(
        spark.table("kll_spec_out").select(col("qsketch"), col("n_rows")),
        Seq.empty)
      .select(kll_sketch_get_quantile_double(col("qsketch"), lit(0.9)),
        col("n_rows")).head()
    assert(merged.getLong(1) == 100L)
    assert(math.abs(merged.getDouble(0) - 90.0) <= 5.0, s"p90=${merged.getDouble(0)}")
  }

  test("runningUserTotals: GroupState persists across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.UserEvent
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[UserEvent]
    val q = Streaming.runningUserTotals(in.toDS()).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("state_spec_out").start()
    try {
      in.addData(UserEvent(1, 10.0), UserEvent(1, 5.0), UserEvent(2, 1.0))
      q.processAllAvailable()
      in.addData(UserEvent(1, 2.5)) // batch 2: user 1's state must carry over
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("state_spec_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch 1 emissions
    assert(rows.contains((1L, 2L, 15.0)) && rows.contains((2L, 1L, 1.0)))
    // batch 2 emission: count/sum continue from persisted state
    assert(rows.contains((1L, 3L, 17.5)))
  }

  test("ingestCurationSink: a multi-batch run equals the batch funnel — " +
      "micro-batch boundaries and cross-batch duplicates are invisible") {
    import graft.operators.{Dedup, Scrub}
    import graft.functions.TextAnalysis
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-mb-")
    val feedDir = root.resolve("feed")
    val sub = feedDir.resolve("source=src3")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val degenerate = Seq.fill(20)("zzzzzzzzzzzzzz").mkString(" ")
    val fixed = docs.filter(col("source") === "src3").select(col("doc_id"),
      when(col("doc_id") % 13 === 0, lit(degenerate))
        .when(col("doc_id") % 11 === 0, concat(col("text"), lit("\u0007")))
        .otherwise(col("text")).as("text"))
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    def at(m: org.apache.spark.sql.Column) =
      t0 + make_dt_interval(lit(0), lit(0), m.cast("int"), lit(0.0))
    val base = fixed.select(col("doc_id"), col("text"), at(col("doc_id")).as("ts"))
    val reemit = fixed.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"),
        at(col("doc_id") + 90).as("ts"))
    // base spread over 3 files; the re-emissions land as a LATER file —
    // with maxFilesPerTrigger=1 every duplicate pair crosses a
    // micro-batch boundary, so the dedup state (not within-batch
    // collapse) is what must drop them
    base.repartition(3).write.mode("overwrite").parquet(sub.toString)
    reemit.coalesce(1).write.mode("append").parquet(sub.toString)
    val corpus = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    val out = root.resolve("out").toString
    val stream = Streaming.partitionSubtreeStream(spark, feedDir.toString,
      "source=src3", maxFilesPerTrigger = 1)
    val q = Streaming.ingestCurationSink(stream, corpus, "text", "ts", out,
      delay = "30 days")
    try q.processAllAvailable() finally q.stop()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"need a genuine multi-batch run, got $dataBatches")
    assert(reemit.count() > 0, "fixture must produce cross-batch duplicates")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(Dedup.contentKey(col("text"), normalize = false).as("fp"),
        col("n_tokens"), col("quality"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val gotRows = key(spark.read.parquet(out))
    assert(gotRows.length == gotRows.toSet.size,
      "sink carries duplicate digests — cross-batch dedup state failed")
    val expected = key(base.unionByName(reemit)
      .groupBy(Dedup.contentKey(col("text"), normalize = false).as("fp"))
      .agg(min(col("text")).as("text"))
      .join(corpus.select(Dedup.contentKey(col("text"), normalize = false)
        .as("fp")).distinct(), Seq("fp"), "left_anti")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .filter(col("quality") > 0.5 && Scrub.encodingClean(col("text"))))
    assert(gotRows.toSet == expected.toSet && gotRows.nonEmpty,
      s"streamed funnel != batch funnel: got ${gotRows.length}, " +
        s"expected ${expected.length}")
  }

  test("ivfIngestSink: streamed embeddings land as cluster-partitioned " +
      "segments with frozen-centroid assignments; serving spans base + " +
      "segments and folding preserves the ranking") {
    import graft.operators.Similarity
    import graft.functions.VectorExpressions.nearest_centroid_cos
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-stream-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val table = "ivf_stream_spec"
    graft.sources.Sources.replaceTable(spark, table)
    graft.sources.Sources.replaceTable(spark, s"${table}_centroids")
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(base, "vec_id", "embedding", nCentroids = 16, iters = 3),
      table)
    val in = root.resolve("in").toString
    delta.repartition(3).write.mode("overwrite").parquet(in)
    val segDir = root.resolve("seg").toString
    // pre-created empty segDir (subscribe-before-data): serving must
    // degrade to the base, not trip parquet inference on a footerless dir
    java.nio.file.Files.createDirectories(root.resolve("seg"))
    assert(Similarity.loadIvfIndexWithSegments(spark, table, segDir)
      .assigned.count() == base.count())
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    // a shape mismatch must fail at SINK CONSTRUCTION, not at serve time
    intercept[IllegalArgumentException] {
      Streaming.ivfIngestSink(stream.withColumn("extra", lit(1)),
        table, "embedding", segDir)
    }
    val q = Streaming.ivfIngestSink(stream, table, "embedding", segDir)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "need a genuine multi-batch admission")
    val served = Similarity.loadIvfIndexWithSegments(spark, table, segDir)
    assert(served.assigned.count() == emb.count(), "admission lost rows")
    // every row — base AND streamed segments — assigned by the SAME
    // frozen centroids (what makes the fold a plain append)
    val mismatches = served.assigned.filter(col("cluster") =!=
      nearest_centroid_cos(col("embedding"), served.centroids)).count()
    assert(mismatches == 0, s"$mismatches segment assignments disagree " +
      "with the frozen centroids")
    val qvec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def top(i: Similarity.IvfIndex) = Similarity.ivfTopK(i, "vec_id",
      "embedding", qvec, 20, nProbe = 14)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedTop = top(served)
    val exact5 = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qvec, 5)
      .collect().map(_.getLong(0)).toSet
    assert(exact5.subsetOf(servedTop.map(_._1).toSet),
      s"recall lost serving base+segments: missing " +
        s"${exact5 -- servedTop.map(_._1).toSet}")
    // fold: plain append of already-assigned rows, then the segment dir
    // is gone and the base-only serving ranks identically
    Similarity.foldIvfSegments(spark, table, segDir)
    // the fold deletes exactly the batch dirs it read — the segment
    // ROOT stays, ready for the next admission (and so a batch landing
    // concurrently would survive)
    val leftover = new java.io.File(segDir).list()
    assert(leftover != null && !leftover.exists(_.startsWith("batch=")),
      s"fold left batch segments: ${leftover.mkString(",")}")
    val folded = Similarity.loadIvfIndex(spark, table)
    assert(folded.assigned.count() == emb.count(), "fold lost rows")
    assert(top(folded) == servedTop, "fold changed the served ranking")
  }

  test("bm25IngestSink: streamed docs land as postings segments with a " +
      "stats completion marker; base+segments is content-identical to a " +
      "full rebuild and folding preserves it exactly") {
    import graft.operators.Search
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-stream-")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val table = "bm25_stream_spec"
    Seq(table, s"${table}_stats").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Search.saveBm25Index(Search.buildBm25Index(base, "doc_id", "text"), table)
    val in = root.resolve("in").toString
    delta.repartition(3).write.mode("overwrite").parquet(in)
    val segDir = root.resolve("seg").toString
    // pre-created empty segDir (subscribe-before-data): serving must
    // degrade to the base alone
    java.nio.file.Files.createDirectories(root.resolve("seg"))
    assert(Search.loadBm25IndexWithSegments(spark, table, segDir).nDocs ==
      base.count())
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    // a shape mismatch must fail at SINK CONSTRUCTION, not at serve time
    intercept[IllegalArgumentException] {
      Streaming.bm25IngestSink(stream, table, "source", "text", segDir)
    }
    val q = Streaming.bm25IngestSink(stream, table, "doc_id", "text", segDir)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "need a genuine multi-batch admission")
    // a TORN segment (postings present, stats marker missing — the
    // crash-between-writes shape) must be skipped by serve AND fold
    val torn = new java.io.File(s"$segDir/batch=999/postings")
    delta.limit(5).select(col("doc_id"), lit(7L).as("doclen"),
        lit("tornword").as("word"), lit(1L).as("tf"))
      .write.mode("overwrite").parquet(torn.toString)
    val served = Search.loadBm25IndexWithSegments(spark, table, segDir)
    val full = Search.buildBm25Index(docs, "doc_id", "text")
    // content identity: stats merged bit-exactly, postings row-for-row
    assert(served.nDocs == full.nDocs && served.totalLen == full.totalLen &&
      served.avgLen == full.avgLen, "served stats diverge from a rebuild")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("doclen"), col("word"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    assert(rows(served.postings) == rows(full.postings),
      "served postings diverge from a rebuild (or admitted a torn segment)")
    def top(idx: Search.Bm25Index) =
      Search.searchBm25(docs, idx, "doc_id", "hash join filter", k = 25)
        .select(col("doc_id"), col("bm25_rank"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val servedTop = top(served)
    assert(servedTop == top(full), "served ranking != full-rebuild ranking")
    // fold: plain bucketed append + long-arithmetic stats merge; the
    // complete batch dirs are gone, the torn one is left for its replay,
    // and the base-only serving is content-identical to the rebuild
    Search.foldBm25Segments(spark, table, segDir)
    val leftover = new java.io.File(segDir).list()
    assert(leftover != null && leftover.toSet == Set("batch=999"),
      s"fold should delete exactly the complete segments: " +
        s"${leftover.mkString(",")}")
    val folded = Search.loadBm25Index(spark, table)
    assert(folded.nDocs == full.nDocs && folded.totalLen == full.totalLen &&
      folded.avgLen == full.avgLen, "folded stats diverge from a rebuild")
    assert(rows(folded.postings) == rows(full.postings),
      "folded postings diverge from a rebuild")
    assert(top(folded) == servedTop, "fold changed the served ranking")
  }

  test("lshIngestSink: streamed embeddings land as per-projection " +
      "bucket-partitioned segments; serving spans base + segments with " +
      "rebuild-identical ranking; torn segments skip; fold preserves it") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-lsh-stream-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val (table, reb) = ("lsh_stream_spec", "lsh_stream_spec_reb")
    Seq(table, reb).foreach { t =>
      (0 until 3).foreach(i =>
        graft.sources.Sources.replaceTable(spark, s"${t}_t$i"))
      Seq(s"${t}_meta", s"${t}_folded").foreach(
        graft.sources.Sources.replaceTable(spark, _))
    }
    Similarity.saveLshIndex(base, "embedding", dims = 64, table,
      bits = 8, tables = 3)
    Similarity.saveLshIndex(emb, "embedding", dims = 64, reb,
      bits = 8, tables = 3) // the full-corpus rebuild oracle
    val in = root.resolve("in").toString
    delta.repartition(3).write.mode("overwrite").parquet(in)
    val segDir = root.resolve("seg").toString
    java.nio.file.Files.createDirectories(root.resolve("seg"))
    val qvec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // subscribe-before-data: empty segDir serves the base alone
    assert(Similarity.lshServedCandidatesWithSegments(spark, table,
      "vec_id", "embedding", qvec, probeDist = 4, segDir).count() ==
      Similarity.lshServedCandidates(spark, table, "vec_id", "embedding",
        qvec, probeDist = 4).count())
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    // a shape mismatch must fail at SINK CONSTRUCTION
    intercept[IllegalArgumentException] {
      Streaming.lshIngestSink(stream.withColumn("extra", lit(1)),
        table, "embedding", segDir)
    }
    val q = Streaming.lshIngestSink(stream, table, "embedding", segDir)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "need a genuine multi-batch admission")
    // a TORN segment (last projection missing — the crash-between-
    // projection-writes shape) must be skipped by serve AND fold
    delta.limit(5)
      .withColumn("bucket", lit(0L))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$segDir/batch=999/t0")
    def top(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedTop = top(Similarity.lshTopKServedWithSegments(spark, table,
      "vec_id", "embedding", qvec, 20, probeDist = 4, segDir))
    val rebTop = top(Similarity.lshTopKServed(spark, reb,
      "vec_id", "embedding", qvec, 20, probeDist = 4))
    assert(servedTop == rebTop,
      "base+segments ranking diverges from the full rebuild " +
        "(or a torn segment was admitted)")
    // fold: per-projection bucket-partitioned appends; content equals
    // the rebuild per (vec_id, bucket); torn segment left for replay
    Similarity.foldLshSegments(spark, table, segDir)
    val leftover = new java.io.File(segDir).list()
    assert(leftover != null && leftover.toSet == Set("batch=999"),
      s"fold should delete exactly the complete segments: " +
        s"${leftover.mkString(",")}")
    (0 until 3).foreach { t2 =>
      def pairs(tbl: String) = spark.table(s"${tbl}_t$t2")
        .select(col("vec_id"), col("bucket"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(table) == pairs(reb),
        s"projection $t2: folded layout diverges from the rebuild")
    }
    assert(top(Similarity.lshTopKServed(spark, table, "vec_id",
      "embedding", qvec, 20, probeDist = 4)) == rebTop,
      "fold changed the served ranking")
    assert(spark.catalog.tableExists(s"${table}_folded") &&
      spark.table(s"${table}_folded").count() >= 3,
      "fold ledger must record the folded batches")
  }

  test("pqIngestSink: streamed embeddings encoded with frozen codebooks " +
      "land as plain segments; base+segments equals the upsert path; " +
      "torn segments skip; fold preserves the ranking") {
    import graft.operators.Similarity
    import graft.functions.VectorExpressions.{vec_l2_normalize, pq_encode}
    val root = java.nio.file.Files.createTempDirectory("graft-pq-stream-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val table = "pq_stream_spec"
    Seq(table, s"${table}_codebooks", s"${table}_folded").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Similarity.savePqIndex(
      Similarity.pqIndex(base, "vec_id", "embedding", dims = 64,
        m = 16, nCodes = 32, iters = 4), table)
    val in = root.resolve("in").toString
    delta.repartition(3).write.mode("overwrite").parquet(in)
    val segDir = root.resolve("seg").toString
    java.nio.file.Files.createDirectories(root.resolve("seg"))
    assert(Similarity.loadPqIndexWithSegments(spark, table, segDir)
      .encoded.count() == base.filter(col("embedding").isNotNull).count())
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    intercept[IllegalArgumentException] {
      Streaming.pqIngestSink(stream.withColumn("extra", lit(1)),
        table, "embedding", segDir)
    }
    val q = Streaming.pqIngestSink(stream, table, "embedding", segDir)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "need a genuine multi-batch admission")
    // a TORN segment (no _SUCCESS commit marker) must be skipped
    val torn = new java.io.File(s"$segDir/batch=999")
    delta.limit(5).withColumn("pq_code",
        pq_encode(vec_l2_normalize(col("embedding")),
          Similarity.loadPqIndex(spark, table).codebooks))
      .write.mode("overwrite").parquet(torn.toString)
    assert(new java.io.File(torn, "_SUCCESS").delete(),
      "fixture: torn segment needs its marker removed")
    val served = Similarity.loadPqIndexWithSegments(spark, table, segDir)
    assert(served.encoded.count() ==
      emb.filter(col("embedding").isNotNull).count(),
      "admission lost rows or admitted the torn segment")
    // every stored code — base AND streamed — equals a frozen-codebook
    // recompute (what makes the fold a plain append)
    val mismatches = served.encoded.filter(col("pq_code") =!=
      pq_encode(vec_l2_normalize(col("embedding")), served.codebooks))
      .count()
    assert(mismatches == 0, s"$mismatches segment codes disagree with " +
      "the frozen codebooks")
    val qvec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def top(i: Similarity.PqIndex) = Similarity.pqTopK(i, "vec_id",
      "embedding", qvec, 20, candidates = 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedTop = top(served)
    val exact5 = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      qvec, 5).collect().map(_.getLong(0)).toSet
    assert(exact5.subsetOf(servedTop.map(_._1).toSet),
      s"recall lost serving base+segments: " +
        s"${exact5 -- servedTop.map(_._1).toSet}")
    Similarity.foldPqSegments(spark, table, segDir)
    val leftover = new java.io.File(segDir).list()
    assert(leftover != null && leftover.toSet == Set("batch=999"),
      s"fold should delete exactly the complete segments: " +
        s"${leftover.mkString(",")}")
    val folded = Similarity.loadPqIndex(spark, table)
    assert(folded.encoded.count() ==
      emb.filter(col("embedding").isNotNull).count(), "fold lost rows")
    assert(top(folded) == servedTop, "fold changed the served ranking")
  }

  test("BM25 fold merge-commit crash: stats+ledger committed, segment " +
      "deletes pending — the retry and the serve skip the ledgered " +
      "segment; stats and row set stay bit-exact") {
    import graft.operators.Search
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val table = "bm25_fold_ledger_spec"
    Seq(table, s"${table}_stats").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Search.saveBm25Index(Search.buildBm25Index(base, "doc_id", "text"), table)
    val segDir = java.nio.file.Files
      .createTempDirectory("graft-bm25-ledger-").toString
    def writeSegment(id: Int, docsDf: org.apache.spark.sql.DataFrame): Unit = {
      val d = Search.buildBm25Index(docsDf, "doc_id", "text")
      d.postings.write.mode("overwrite")
        .parquet(s"$segDir/batch=$id/postings")
      Seq((d.nDocs, d.totalLen)).toDF("n_docs", "total_len")
        .write.mode("overwrite").parquet(s"$segDir/batch=$id/stats")
    }
    writeSegment(0, delta)
    Search.foldBm25Segments(spark, table, segDir)
    val folded = Search.loadBm25Index(spark, table)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("doclen"), col("word"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    val (goldRows, goldN, goldTotal) =
      (rows(folded.postings), folded.nDocs, folded.totalLen)
    // CRASH SIMULATION: the merge commit (stats + ledger) landed, the
    // dir delete never ran — the segment reappears with identical
    // content (deterministic build)
    writeSegment(0, delta)
    // a concurrent serve must not count the ledgered segment twice
    val served = Search.loadBm25IndexWithSegments(spark, table, segDir)
    assert(served.nDocs == goldN && served.totalLen == goldTotal,
      "serve double-counted a ledgered segment's stats")
    assert(rows(served.postings) == goldRows,
      "serve double-admitted a ledgered segment's postings")
    // the RETRY must skip the merge entirely and just finish the deletes
    Search.foldBm25Segments(spark, table, segDir)
    val retried = Search.loadBm25Index(spark, table)
    assert(retried.nDocs == goldN && retried.totalLen == goldTotal &&
      retried.avgLen == folded.avgLen,
      "fold retry double-merged the stats — the pre-ledger silent skew")
    assert(retried.postings.count() == folded.postings.count() &&
      rows(retried.postings) == goldRows,
      "fold retry re-appended ledgered postings")
    val leftover = new java.io.File(segDir).list()
    assert(leftover != null && !leftover.exists(_.startsWith("batch=")),
      "retry must finish the pending segment deletes")
    // a FRESH batch then folds exactly once, and the ledger prunes to
    // the current fold's segments (stale ids don't accumulate)
    val extra = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    writeSegment(1, extra)
    Search.foldBm25Segments(spark, table, segDir)
    val after = Search.loadBm25Index(spark, table)
    assert(after.nDocs == goldN + extra.count(),
      "fresh segment must merge exactly once after the recovery")
    val ledger = spark.table(s"${table}_stats")
      .select(col("folded_batches")).head().getSeq[String](0)
    assert(ledger == Seq("batch=1"),
      s"ledger must prune to the live fold's segments, got $ledger")
  }

  test("IVF fold merge-commit crash: ledger committed, segment deletes " +
      "pending — retry and serve skip the ledgered segment") {
    import graft.operators.Similarity
    import graft.functions.VectorExpressions.nearest_centroid_cos
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val table = "ivf_fold_ledger_spec"
    Seq(table, s"${table}_centroids", s"${table}_folded").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(base, "vec_id", "embedding", nCentroids = 16,
        iters = 2), table)
    val centroids = Similarity.loadIvfIndex(spark, table).centroids
    val segDir = java.nio.file.Files
      .createTempDirectory("graft-ivf-ledger-").toString
    def writeSegment(): Unit =
      delta.withColumn("cluster",
          nearest_centroid_cos(col("embedding"), centroids))
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$segDir/batch=0")
    writeSegment()
    Similarity.foldIvfSegments(spark, table, segDir)
    val goldCount = spark.table(table).count()
    assert(goldCount == emb.filter(col("embedding").isNotNull).count())
    // CRASH SIMULATION: ledger committed, delete pending — the segment
    // reappears with identical (deterministic frozen-centroid) content
    writeSegment()
    assert(Similarity.loadIvfIndexWithSegments(spark, table, segDir)
      .assigned.count() == goldCount,
      "serve double-counted a ledgered segment")
    Similarity.foldIvfSegments(spark, table, segDir)
    assert(spark.table(table).count() == goldCount,
      "fold retry re-appended a ledgered segment")
    val leftover = new java.io.File(segDir).list()
    assert(leftover != null && !leftover.exists(_.startsWith("batch=")),
      "retry must finish the pending segment deletes")
    // a rebuild resets the ledger: a fresh artifact generation must not
    // inherit folded ids from the previous identity
    Similarity.saveIvfIndex(
      Similarity.ivfIndex(base, "vec_id", "embedding", nCentroids = 16,
        iters = 2), table)
    assert(!spark.catalog.tableExists(s"${table}_folded"),
      "saveIvfIndex must reset the fold ledger")
  }

  test("segment sink replay: re-executing batches over the same input " +
      "rewrites the same batch=<id> segments — no duplicate rows, no " +
      "orphan segments") {
    // the idempotence the exactly-once recovery story rests on: a
    // re-executed batch id lands on its OWN directory with overwrite,
    // so a replay (here: the worst case — a checkpoint-less full
    // re-run over identical input, every batch re-executed) leaves the
    // sink byte-equal instead of appending second copies. (Surgical
    // commit-log deletion can't simulate the partial-replay window:
    // Spark's metadata log detects the regressed log as concurrent use
    // and refuses to start.)
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-replay-")
    val feedDir = root.resolve("feed")
    val sub = feedDir.resolve("source=src3")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "src3")
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).as("ts"))
    docs.repartition(3).write.mode("overwrite").parquet(sub.toString)
    val corpus = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    val out = root.resolve("out")
    def run(ckpt: String): Unit = {
      val stream = Streaming.partitionSubtreeStream(spark, feedDir.toString,
        "source=src3", maxFilesPerTrigger = 1)
      val q = Streaming.ingestCurationSink(stream, corpus, "text", "ts",
        out.toString, delay = "30 days", checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    def segments(): Seq[String] = scala.util.Using.resource(
      java.nio.file.Files.list(out))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted)
    def contents(): Seq[String] = spark.read.parquet(out.toString)
      .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
      .collect().map(_.getString(0)).sorted.toSeq
    run(root.resolve("ckpt1").toString)
    val (firstSegs, first) = (segments(), contents())
    assert(first.nonEmpty && first == first.distinct)
    assert(firstSegs.size >= 3, s"need a multi-batch run, got $firstSegs")
    run(root.resolve("ckpt2").toString) // full replay: same files, same slicing
    assert(segments() == firstSegs,
      s"replay changed the segment set: ${segments()} vs $firstSegs")
    assert(contents() == first,
      "replayed batches changed the sink — the per-batch overwrite is " +
        "not idempotent (duplicate or divergent rows)")
  }

  test("restart recovery: a stopped dedup stream resumes from its " +
      "checkpoint with state intact — no re-admissions, metrics carry " +
      "the full key count") {
    // the recovery contract a 100 TB/day ingest lives on: the RocksDB
    // state a run builds must survive a stop/restart, so a duplicate of
    // a PRE-restart key arriving POST-restart is still dropped, and the
    // resumed query's state metrics report the cumulative key count.
    val root = java.nio.file.Files.createTempDirectory("graft-restart-")
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def land(keys: Range): Unit = keys.map(k => (k.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00")))
      .toDF("k", "ts").coalesce(1).write.mode("append").parquet(in)
    def start() = Streaming.dedupStream(
        spark.readStream
          .schema("k LONG, ts TIMESTAMP").parquet(in),
        Seq("k"), "ts", "3650 days")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    // run 1: keys 1..10 admit, then STOP (the "kill")
    land(1 to 10)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // run 2 input lands AFTER the stop: 6..10 duplicate pre-restart
    // keys, 11..15 are fresh
    land(6 to 15)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val admitted = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted
    assert(admitted.toSeq == (1L to 15L),
      s"resume re-admitted or dropped keys: ${admitted.mkString(",")} — " +
        "checkpoint state did not survive the restart")
    val prog = q2.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .getOrElse(fail("resumed query recorded no stateful progress"))
    assert(prog.stateOperators.head.numRowsTotal == 15,
      s"resumed state rows ${prog.stateOperators.head.numRowsTotal} != 15 " +
        "— recovery metrics lost pre-restart keys")
  }

  test("ingestCurationSink restart recovery: the COMPOSED pipeline's " +
      "dedup state survives a stop — a pre-restart digest re-arriving " +
      "post-restart is dropped, fresh docs admit, no segment collision") {
    // the e2e gate pins composition, the dedup restart test pins bare
    // state recovery; this pins BOTH AT ONCE — the kill lands between
    // the waves, so a duplicate whose original was admitted in run 1
    // can only be dropped by replayed RocksDB state flowing through the
    // full source→dedup→quality→sink chain
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-rr-")
    val feedDir = root.resolve("feed")
    val sub = feedDir.resolve("source=src3")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "src3")
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    def at(m: org.apache.spark.sql.Column) =
      t0 + make_dt_interval(lit(0), lit(0), m.cast("int"), lit(0.0))
    val wave1 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"), at(col("doc_id")).as("ts"))
    wave1.coalesce(1).write.mode("overwrite").parquet(sub.toString)
    val corpus = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def run(): Unit = {
      val stream = Streaming.partitionSubtreeStream(spark, feedDir.toString,
        "source=src3", maxFilesPerTrigger = 1)
      val q = Streaming.ingestCurationSink(stream, corpus, "text", "ts",
        out, delay = "30 days", checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val afterRun1 = spark.read.parquet(out).count()
    assert(afterRun1 > 0, "run 1 admitted nothing")
    // lands while the query is DOWN: re-emissions of run-1 documents
    // (same bytes, new ids, later ts inside the watermark) + fresh docs
    val dups = wave1.select((col("doc_id") + 5000L).as("doc_id"),
      col("text"), at(col("doc_id") + 30).as("ts"))
    val fresh = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"), at(col("doc_id") + 60).as("ts"))
    dups.unionByName(fresh).coalesce(1).write.mode("append")
      .parquet(sub.toString)
    run()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
      .collect().map(_.getString(0))
    val got = key(spark.read.parquet(out))
    assert(got.length == got.toSet.size,
      "restart re-admitted a pre-restart digest — checkpoint state " +
        "did not survive through the composed pipeline")
    // fresh post-restart documents flowed through the resumed funnel
    assert(got.length > afterRun1,
      "resumed query admitted no fresh documents")
    // and the resumed output still equals the batch funnel over
    // everything that ever landed (the e2e determinism contract)
    import graft.operators.Scrub
    import graft.functions.TextAnalysis
    val expected = key(wave1.unionByName(dups).unionByName(fresh)
      .groupBy(Dedup.contentKey(col("text"), normalize = false).as("fp"))
      .agg(min(col("text")).as("text"))
      .join(corpus.select(Dedup.contentKey(col("text"), normalize = false)
        .as("fp")).distinct(), Seq("fp"), "left_anti")
      .filter(TextAnalysis.qualityScore(col("text")) > 0.5 &&
        Scrub.encodingClean(col("text"))))
    assert(got.toSet == expected.toSet,
      s"resumed funnel != batch funnel: got ${got.length}, " +
        s"expected ${expected.length}")
  }

  /** Feeds `k` files of the documents table, one at a time, to a durable
    * [[Streaming.ingestCurationSink]] (the `ingest_stream` shape: one
    * `processAllAvailable` per offered file). File `i` carries every doc
    * with `doc_id % k == i`, its event times in hour `i`, so with a
    * 10-minute delay each file's watermark passes every earlier file's
    * dedup keys. Returns the query's progress events and each file's
    * distinct content digests. */
  private def feedDurableCuration(tag: String, k: Int)
      : (Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], Seq[Set[String]]) = {
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory(s"graft-$tag-")
    val feed = root.resolve("feed").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    def file(i: Int) = docs.filter(col("doc_id") % k === i)
      .withColumn("ts", t0 + make_dt_interval(lit(0), lit(i),
        lit(0), (col("doc_id") % 60).cast("decimal(18,6)")))
    file(0).coalesce(1).write.parquet(feed)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = Streaming.ingestCurationSink(stream,
      docs.filter(col("doc_id") % 97 === 0), "text", "ts",
      root.resolve("out").toString, delay = "10 minutes",
      checkpoint = Some(root.resolve("ckpt").toString))
    try {
      q.processAllAvailable()
      (1 until k).foreach { i =>
        file(i).coalesce(1).write.mode("append").parquet(feed)
        q.processAllAvailable()
      }
    } finally q.stop()
    val digests = (0 until k).map(i => file(i)
      .select(Dedup.contentKey(col("text"), normalize = false))
      .collect().map(_.getString(0)).toSet)
    (q.recentProgress.toSeq, digests)
  }

  test("ingestCurationSink durable: k offered files commit exactly k " +
      "micro-batches — no watermark-only batch with 0 input rows") {
    val k = 4
    val (progress, _) = feedDurableCuration("ingest-1trig", k)
    assert(progress.map(_.batchId) == (0L until k),
      s"expected one batch per file, got batches ${progress.map(p =>
        s"${p.batchId}:${p.numInputRows}").mkString(",")}")
    assert(progress.forall(_.numInputRows > 0),
      "a progress event with 0 input rows is a no-data batch")
  }

  test("ingestCurationSink durable: without the flush batch, dedup state " +
      "still expires — numRowsTotal levels off at the last two files") {
    val k = 5
    val (progress, digests) = feedDurableCuration("ingest-expiry", k)
    val rows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
    assert(rows.length == k, s"state rows per batch: $rows")
    // each data batch evicts with the watermark the previous one
    // advanced: after batch i only files i-1 and i hold live keys
    (1 until k).foreach(i => assert(rows(i) == (digests(i - 1) | digests(i)).size,
      s"batch $i holds ${rows(i)} keys, expected files ${i - 1}..$i's " +
        s"${(digests(i - 1) | digests(i)).size}: $rows"))
    assert(rows.last < digests.reduce(_ | _).size, s"state never expired: $rows")
  }

  test("stream starts are serialized: two threads starting sinks at once " +
      "on one session leave its shuffle width and no-data conf as they began") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val root = java.nio.file.Files.createTempDirectory("graft-start-race-")
    val in = root.resolve("in").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).as("ts"))
    docs.coalesce(1).write.parquet(in)
    // a width above the cap, so the ephemeral start really scopes it
    withConf(keys.head -> "16") {
      val began = keys.map(spark.conf.getOption)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try (1 to 5).foreach { round =>
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val starts = (0 until 2).map { t =>
          pool.submit(new java.util.concurrent.Callable[
              org.apache.spark.sql.streaming.StreamingQuery] {
            def call() = {
              val stream = spark.readStream.schema(docs.schema).parquet(in)
              barrier.await()
              // ephemeral starts: each scopes the width and the no-data conf
              Streaming.ingestCurationSink(stream, docs.limit(1), "text", "ts",
                root.resolve(s"out-$round-$t").toString)
            }
          })
        }
        starts.map(_.get()).foreach(_.stop())
        assert(keys.map(spark.conf.getOption) == began,
          s"round $round: session confs ${keys.map(spark.conf.getOption)} " +
            s"!= $began after two concurrent starts")
      } finally pool.shutdown()
    }
  }

  test("lshIngestSink: a failed part write surfaces only after its " +
      "sibling parts finish, in the streaming job group, and the " +
      "completeness marker is never written") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-lsh-part-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val table = "lsh_stream_partfail"
    (0 until 3).foreach(i =>
      graft.sources.Sources.replaceTable(spark, s"${table}_t$i"))
    Seq(s"${table}_meta", s"${table}_folded").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Similarity.saveLshIndex(emb.filter(col("vec_id") % 5 =!= 0), "embedding",
      dims = 64, table, bits = 8, tables = 3)
    val in = root.resolve("in").toString
    emb.filter(col("vec_id") % 5 === 0).coalesce(1).write.parquet(in)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.partfail.impl", classOf[PartFailFs].getName)
    val jobGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val seg = root.resolve("seg")
    try {
      val q = Streaming.lshIngestSink(
        spark.readStream.schema(emb.schema).parquet(in), table, "embedding",
        s"partfail://$seg")
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
        // checked the moment the failure surfaces: the slow sibling's
        // job commit has already landed
        assert(java.nio.file.Files.exists(seg.resolve("batch=0/t0/_SUCCESS")),
          "the failure surfaced while sibling part t0 was still writing")
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("injected part failure")),
          s"unexpected failure: $e")
      } finally q.stop()
      assert(!java.nio.file.Files.exists(seg.resolve("batch=0/t2")),
        "the completeness marker (last projection) was written after a failed part")
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(jobGroups.size == 1 && jobGroups.contains(q.runId.toString),
        s"part jobs ran outside the streaming job group ${q.runId}: $jobGroups")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      hconf.unset("fs.partfail.impl")
    }
  }

  test("lshIngestSink restart recovery + fold merge-commit crash: the " +
      "resume admits only new files; a ledgered segment that reappears " +
      "is skipped by serve and fold retry") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-lsh-rr-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta1 = emb.filter(col("vec_id") % 10 === 0)
    val delta2 = emb.filter(col("vec_id") % 10 === 5)
    val table = "lsh_stream_rr"
    (0 until 3).foreach(i =>
      graft.sources.Sources.replaceTable(spark, s"${table}_t$i"))
    Seq(s"${table}_meta", s"${table}_folded").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Similarity.saveLshIndex(base, "embedding", dims = 64, table,
      bits = 8, tables = 3)
    val in = root.resolve("in").toString
    val segDir = root.resolve("seg").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = emb.schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streaming.lshIngestSink(stream, table, "embedding", segDir,
        checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    delta1.coalesce(1).write.mode("overwrite").parquet(in)
    run()
    def segs() = new java.io.File(segDir).list()
      .filter(_.startsWith("batch=")).toSet
    val after1 = segs()
    assert(after1.nonEmpty, "run 1 admitted no segments")
    delta2.coalesce(1).write.mode("append").parquet(in)
    run()
    assert(after1.subsetOf(segs()) && segs().size > after1.size,
      s"resume disturbed the segment set: $after1 -> ${segs()}")
    val qvec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def served() = Similarity.lshTopKServedWithSegments(spark, table,
      "vec_id", "embedding", qvec, 20, probeDist = 4, segDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val preFold = served()
    // fold, then CRASH SIMULATION: a folded segment reappears with
    // identical content (deterministic hashes) — ledger must make both
    // the serve and the fold retry skip it
    Similarity.foldLshSegments(spark, table, segDir)
    val foldedRows = (0 until 3).map(t =>
      spark.table(s"${table}_t$t").count())
    for (t <- 0 until 3)
      delta1.withColumn("bucket",
          Similarity.codeColumn(col("embedding"), 64, 8, t))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$segDir/batch=0/t$t")
    assert(served() == preFold,
      "serve double-counted a ledgered segment after the fold crash")
    Similarity.foldLshSegments(spark, table, segDir)
    (0 until 3).foreach(t => assert(
      spark.table(s"${table}_t$t").count() == foldedRows(t),
      s"projection $t: fold retry re-appended a ledgered segment"))
    assert(segs().isEmpty, "retry must finish the pending deletes")
  }

  test("pqIngestSink restart recovery + fold merge-commit crash: the " +
      "resume admits only new files; a ledgered segment that reappears " +
      "is skipped by serve and fold retry") {
    import graft.operators.Similarity
    import graft.functions.VectorExpressions.{vec_l2_normalize, pq_encode}
    val root = java.nio.file.Files.createTempDirectory("graft-pq-rr-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta1 = emb.filter(col("vec_id") % 10 === 0)
    val delta2 = emb.filter(col("vec_id") % 10 === 5)
    val table = "pq_stream_rr"
    Seq(table, s"${table}_codebooks", s"${table}_folded").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Similarity.savePqIndex(
      Similarity.pqIndex(base, "vec_id", "embedding", dims = 64,
        m = 16, nCodes = 32, iters = 4), table)
    val in = root.resolve("in").toString
    val segDir = root.resolve("seg").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = emb.schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streaming.pqIngestSink(stream, table, "embedding", segDir,
        checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    delta1.coalesce(1).write.mode("overwrite").parquet(in)
    run()
    def segs() = new java.io.File(segDir).list()
      .filter(_.startsWith("batch=")).toSet
    val after1 = segs()
    assert(after1.nonEmpty, "run 1 admitted no segments")
    delta2.coalesce(1).write.mode("append").parquet(in)
    run()
    assert(after1.subsetOf(segs()) && segs().size > after1.size,
      s"resume disturbed the segment set: $after1 -> ${segs()}")
    val expected = base.unionByName(delta1).unionByName(delta2)
      .filter(col("embedding").isNotNull).count()
    assert(Similarity.loadPqIndexWithSegments(spark, table, segDir)
      .encoded.count() == expected,
      "resumed admission double-counted or dropped vectors")
    // fold, then CRASH SIMULATION: the folded segment reappears with
    // identical frozen-codebook content — ledger skips it everywhere
    Similarity.foldPqSegments(spark, table, segDir)
    val foldedRows = spark.table(table).count()
    assert(foldedRows == expected)
    delta1.filter(col("embedding").isNotNull)
      .withColumn("pq_code", pq_encode(vec_l2_normalize(col("embedding")),
        Similarity.loadPqIndex(spark, table).codebooks))
      .write.mode("overwrite").parquet(s"$segDir/batch=0")
    assert(Similarity.loadPqIndexWithSegments(spark, table, segDir)
      .encoded.count() == expected,
      "serve double-counted a ledgered segment after the fold crash")
    Similarity.foldPqSegments(spark, table, segDir)
    assert(spark.table(table).count() == foldedRows,
      "fold retry re-appended a ledgered segment")
    assert(segs().isEmpty, "retry must finish the pending deletes")
  }

  test("bm25IngestSink restart recovery: a resumed sink admits only the " +
      "files that landed while it was down — no double admission, " +
      "served content still equals a full rebuild") {
    import graft.operators.Search
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-rr-")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta1 = docs.filter(col("doc_id") % 10 === 0)
    val delta2 = docs.filter(col("doc_id") % 10 === 5)
    val table = "bm25_stream_rr"
    Seq(table, s"${table}_stats").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Search.saveBm25Index(Search.buildBm25Index(base, "doc_id", "text"), table)
    val in = root.resolve("in").toString
    val segDir = root.resolve("seg").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = docs.schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streaming.bm25IngestSink(stream, table, "doc_id", "text",
        segDir, checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    delta1.coalesce(1).write.mode("overwrite").parquet(in)
    run()
    val segsAfter1 = new java.io.File(segDir).list()
      .filter(_.startsWith("batch=")).toSet
    assert(segsAfter1.nonEmpty, "run 1 admitted no segments")
    delta2.coalesce(1).write.mode("append").parquet(in)
    run()
    val segsAfter2 = new java.io.File(segDir).list()
      .filter(_.startsWith("batch=")).toSet
    // the resume continued the batch-id sequence: run-1 segments are
    // untouched, run 2 added exactly the new files' batches
    assert(segsAfter1.subsetOf(segsAfter2) && segsAfter2.size > segsAfter1.size,
      s"resume disturbed the segment set: $segsAfter1 -> $segsAfter2")
    val served = Search.loadBm25IndexWithSegments(spark, table, segDir)
    val full = Search.buildBm25Index(
      base.unionByName(delta1).unionByName(delta2), "doc_id", "text")
    assert(served.nDocs == full.nDocs && served.totalLen == full.totalLen,
      "resumed admission double-counted or dropped documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("doclen"), col("word"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    assert(rows(served.postings) == rows(full.postings),
      "served postings after the resume diverge from a full rebuild")
  }

  test("ivfIngestSink restart recovery: the shared segment sink resumes " +
      "its checkpoint's batch-id sequence — run-1 segments untouched, " +
      "only the files landed while down admitted, frozen assignments") {
    // pins the resume contract of segmentSink itself, which every
    // idempotent-segment consumer (near-dup, z-order, ANN) rides
    import graft.operators.Similarity
    import graft.functions.VectorExpressions.nearest_centroid_cos
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-rr-")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta1 = emb.filter(col("vec_id") % 10 === 0)
    val delta2 = emb.filter(col("vec_id") % 10 === 5)
    val table = "ivf_stream_rr"
    Seq(table, s"${table}_centroids").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Similarity.saveIvfIndex(Similarity.ivfIndex(base, "vec_id", "embedding",
      nCentroids = 16, iters = 3), table)
    val in = root.resolve("in").toString
    val segDir = root.resolve("seg").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = emb.schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streaming.ivfIngestSink(stream, table, "embedding", segDir,
        checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    delta1.coalesce(1).write.mode("overwrite").parquet(in)
    run()
    def segs() = new java.io.File(segDir).list()
      .filter(_.startsWith("batch=")).toSet
    def segMtimes() = segs().map(s =>
      s -> new java.io.File(segDir, s).lastModified).toMap
    val after1 = segMtimes()
    assert(after1.nonEmpty, "run 1 admitted no segments")
    delta2.coalesce(1).write.mode("append").parquet(in)
    run()
    val after2 = segMtimes()
    after1.foreach { case (s, m) =>
      assert(after2.get(s).contains(m),
        s"resume rewrote run-1 segment $s — batch-id sequence restarted")
    }
    assert(after2.size > after1.size, "resume admitted nothing new")
    val served = Similarity.loadIvfIndexWithSegments(spark, table, segDir)
    assert(served.assigned.count() ==
      base.count() + delta1.count() + delta2.count(),
      "resumed admission double-counted or dropped rows")
    val mismatches = served.assigned.filter(col("cluster") =!=
      nearest_centroid_cos(col("embedding"), served.centroids)).count()
    assert(mismatches == 0,
      s"$mismatches resumed assignments disagree with the frozen centroids")
  }
}

/** The local file system under the `partfail` scheme, for the
  * lshIngestSink part-failure spec: creating any file of projection
  * subtree `t1` fails, and the job commit of subtree `t0` (its
  * `_SUCCESS`) is held back 1.5 s, so a sibling part is still writing
  * when the failure happens. */
class PartFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("partfail:///")
  override def getScheme: String = "partfail"
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    val p = f.toUri.getPath
    if (p.contains("/t1/")) throw new java.io.IOException(s"injected part failure: $f")
    if (p.endsWith("/t0/_SUCCESS")) Thread.sleep(1500)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}
