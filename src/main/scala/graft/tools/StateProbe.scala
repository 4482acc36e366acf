package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Streaming STATE-SIZE probe suite for the RocksDB state backend — one
  * probe per STATEFUL OPERATOR SHAPE the engine ships, not just the
  * simplest one:
  *
  *   - `dedup`: watermarked `dropDuplicatesWithinWatermark` (state = one
  *     fixed-width row per distinct key inside the horizon).
  *   - `funnel`: the [[graft.streaming.Streaming.funnelCounts]] chain —
  *     TWO chained stateful operators (dedup, then windowed agg) in one
  *     query; each operator's state is reported separately.
  *   - `join`: [[graft.streaming.Streaming.intervalJoin]] — TWO-SIDED
  *     buffered state (every in-horizon row of both sides).
  *   - `sketch`: [[graft.streaming.Streaming.quantilesStream]] — per
  *     (window, key) KLL sketch state: rows = GROUPS, bytes/row = O(k),
  *     never O(distinct values).
  *   - `expire`: the RECLAIM probe — dedup under a watermark of HALF the
  *     event-time span; final state rows must come in strictly BELOW the
  *     distinct-key count (eviction actually ran, instead of being
  *     assumed from the horizon arithmetic).
  *   - `restart`: the RECOVERY probe — kill the highest-multiplier dedup
  *     stream mid-run (after ≥ 1 committed batch, before the source
  *     drains), restart on the same checkpoint, and report the replay
  *     wall (state-store reload + first re-executed batch) plus the
  *     resumed run's final state rows, which must still equal the
  *     distinct-key count (state survived the kill).
  *
  * The design claim under test, per operator: state ROWS grow linearly
  * with the operator's key/buffer cardinality while native memory stays
  * ~flat (RocksDB memtables + block cache — rows spill to local-disk
  * SSTs, the executor heap does not grow), i.e. a 100 TB/day deployment
  * sizes DISKS with a predictable `keys × horizon × bytes/key` budget
  * instead of hitting an executor-heap wall. Scaling dimensions: key
  * probes shift `user_id` per copy (copies share no keys); window probes
  * shift `ts` by a full corpus span per copy (copies share no windows),
  * so every operator's cardinality multiplies by construction.
  *
  * Micro-batching is forced through a file source with
  * maxFilesPerTrigger, so the numbers come from genuine multi-batch runs
  * (commit + changelog per batch), not one giant batch.
  *
  * Usage: runMain graft.tools.StateProbe [sfDir] [k1,k2,...] [probes]
  *   probes ⊆ dedup,funnel,join,sketch,expire,restart (default: all)
  */
object StateProbe {

  /** DURABLE state bytes = the checkpoint's state/ subtree on disk
    * (changelog + snapshot files — what a recovery replays). The
    * per-batch rocksdb byte counters reset each trigger and read ~0 at
    * this scale (state fits the memtable); the checkpoint is the
    * cumulative, restart-surviving measure. The walk stream is closed
    * via Using — each one holds a directory fd. */
  private[tools] def dirBytes(root: java.nio.file.Path): Long =
    if (java.nio.file.Files.exists(root))
      scala.util.Using.resource(java.nio.file.Files.walk(root))(
        _.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum())
    else 0L

  /** Last progress carrying state-operator rows. Input-row count is NOT
    * required: a resumed query's final committed batch can be a no-data
    * batch that still reports cumulative state. */
  private def lastStateProgress(q: StreamingQuery): StreamingQueryProgress =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .getOrElse(sys.error("no stateful progress recorded"))

  /** One JSON report line: per-operator state rows + native memory, plus
    * the checkpoint's durable state bytes and the run wall. */
  private def report(probe: String, k: Int, prog: StreamingQueryProgress,
      ckpt: java.nio.file.Path, wall: Double,
      extra: Map[String, Long]): String = {
    val ops = prog.stateOperators.map(so =>
      s"""{"op":"${so.operatorName}","rows":${so.numRowsTotal},""" +
        s""""native_memory_bytes":${so.memoryUsedBytes}}""").mkString(",")
    val extras = extra.toSeq.sortBy(_._1)
      .map { case (k2, v) => s""""$k2":$v""" }.mkString(",")
    f"""{"probe":"$probe","k":$k,"ops":[$ops],""" +
      (if (extras.nonEmpty) extras + "," else "") +
      f""""checkpoint_state_bytes":${dirBytes(ckpt.resolve("state"))},""" +
      f""""wall_sec":$wall%.2f}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = args.lift(1)
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4))
    val knownProbes = Set("dedup", "funnel", "join", "sketch", "expire",
      "restart", "restart_ingest", "restart_bm25", "restart_lsh",
      "restart_pq", "restart_sketch")
    val probes = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(knownProbes)
    // a typo'd or empty probe list must fail loudly, not silently run
    // nothing and exit green (the ScaleSmoke unknown-ops contract)
    require(probes.nonEmpty, s"empty probe list (known: $knownProbes)")
    require((probes -- knownProbes).isEmpty,
      s"unknown probes: ${probes -- knownProbes} (known: $knownProbes)")
    val spark = graft.GraftSession.rocksDbState(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = graft.sources.EventTime.normalizeTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select("user_id", "event_type", "ts", "value")
    val maxUid = events.agg(max("user_id")).head().getLong(0) + 1
    val (tsMin, tsMax) = {
      val r = events.agg(min("ts"), max("ts")).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    // one full span + an hour between copies: copies share no windows
    val stepSec = (tsMax.getTime - tsMin.getTime) / 1000 + 3600

    /** k copies sharing no KEYS (user_id shifted per copy). */
    def uidScaled(k: Int): DataFrame =
      (0 until k).map(i => events
        .withColumn("user_id", col("user_id") + lit(i.toLong * maxUid)))
        .reduce(_ unionByName _)

    /** k copies sharing no WINDOWS (ts shifted a full span per copy);
      * user_ids unchanged, so dimension-join hit rates are preserved. */
    def timeScaled(k: Int): DataFrame =
      (0 until k).map(i => events
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * stepSec} SECOND")))
        .reduce(_ unionByName _)

    val dir = "/tmp/graft_state_probe"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

    /** Materialize a scaled input as 8 parquet files (→ 4 two-file
      * micro-batches) and return (path, batch view of it). */
    def materialize(tag: String, k: Int, df: DataFrame): (String, DataFrame) = {
      val path = s"$dir/$tag/k=$k"
      df.repartition(8).write.mode("overwrite").parquet(path)
      (path, spark.read.parquet(path))
    }

    def fileStream(path: String, filesPerTrigger: Int = 2): DataFrame =
      spark.readStream
        .schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(path)

    /** Run `agg` to completion on a fresh checkpoint; return the final
      * stateful progress, the checkpoint path, and the wall. */
    def runToEnd(tag: String, agg: DataFrame)
        : (StreamingQueryProgress, java.nio.file.Path, Double) = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-sp-$tag-")
      val t0 = System.nanoTime()
      val q = agg.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      ((lastStateProgress(q), ckpt, (System.nanoTime() - t0) / 1e9))
    }

    // horizon wider than any scaled event-time span: nothing expires,
    // state bounds at the full operator cardinality — the worst case
    // being sized for (the `expire` probe measures the other regime)
    val wide = s"${3650 + ks.max * 40} days"
    val hourWin = org.apache.spark.sql.functions.window(col("ts"), "1 hour")

    if (probes("dedup")) ks.foreach { k =>
      val (path, batch) = materialize("dedup", k, uidScaled(k))
      val expectedKeys = batch.select("user_id", "event_type").distinct().count()
      val deduped = graft.streaming.Streaming.dedupStream(
        fileStream(path), Seq("user_id", "event_type"), "ts", wide)
      val (prog, ckpt, wall) = runToEnd("dedup", deduped)
      println(report("dedup", k, prog, ckpt, wall,
        Map("distinct_keys" -> expectedKeys)))
      val rows = prog.stateOperators.head.numRowsTotal
      require(rows == expectedKeys,
        s"dedup state rows $rows != distinct keys $expectedKeys at $k×")
    }

    if (probes("funnel")) ks.foreach { k =>
      val (path, batch) = materialize("funnel", k, timeScaled(k))
      val dim = spark.read.parquet(s"$sfDir/customer.parquet")
        .select("c_custkey", "c_mktsegment")
      // per-operator oracles, computed batch-side with the SAME window:
      // dedup state = distinct (user, etype, hour); agg state = distinct
      // (window, segment) among dimension-matched events — nothing
      // expires under the wide horizon, so final state = full cardinality
      val expectDedup = batch
        .select(col("user_id"), col("event_type"), hourWin("start"))
        .distinct().count()
      val expectAgg = batch
        .join(dim, col("user_id") === col("c_custkey"))
        .select(hourWin("start"), col("c_mktsegment")).distinct().count()
      val agg = graft.streaming.Streaming.funnelCounts(
        fileStream(path), dim, joinKeys = Seq("user_id" -> "c_custkey"),
        segmentCol = "c_mktsegment", delay = wide)
      val (prog, ckpt, wall) = runToEnd("funnel", agg)
      println(report("funnel", k, prog, ckpt, wall,
        Map("expect_dedup_rows" -> expectDedup, "expect_agg_rows" -> expectAgg)))
      val byOp = prog.stateOperators.map(so => so.operatorName -> so.numRowsTotal).toMap
      require(byOp.size == 2, s"funnel expected 2 stateful operators, got $byOp")
      require(byOp.getOrElse("dedupeWithinWatermark", -1L) == expectDedup,
        s"funnel dedup-op state $byOp != expected $expectDedup at $k×")
      require(byOp.getOrElse("stateStoreSave", -1L) == expectAgg,
        s"funnel agg-op state $byOp != expected $expectAgg at $k×")
    }

    if (probes("join")) ks.foreach { k =>
      val (path, batch) = materialize("join", k, uidScaled(k))
      // under the no-evict horizon BOTH sides buffer every row: state
      // rows = clicks + purchases (each buffered exactly once)
      val expectBuffered = batch
        .filter(col("event_type").isin("click", "purchase")).count()
      val ev = fileStream(path)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
      val pairs = graft.streaming.Streaming.intervalJoin(clicks, buys,
        keys = "c_user" -> "p_user", tsCols = "c_ts" -> "p_ts",
        lower = "0 seconds", upper = "10 minutes", delay = wide)
      val (prog, ckpt, wall) = runToEnd("join", pairs)
      println(report("join", k, prog, ckpt, wall,
        Map("expect_buffered_rows" -> expectBuffered)))
      val rows = prog.stateOperators.head.numRowsTotal
      require(rows == expectBuffered,
        s"interval-join buffered state $rows != input rows $expectBuffered at $k×")
    }

    if (probes("sketch")) ks.foreach { k =>
      val (path, batch) = materialize("sketch", k, timeScaled(k))
      // KLL state: one row per (window, event_type) GROUP — never per
      // value. bytes/row is the O(k)-sketch claim, reported for the log.
      val expectGroups = batch
        .select(hourWin("start"), col("event_type")).distinct().count()
      val agg = graft.streaming.Streaming.quantilesStream(
        fileStream(path), "value", Seq("event_type"), delay = wide)
      val (prog, ckpt, wall) = runToEnd("sketch", agg)
      println(report("sketch", k, prog, ckpt, wall,
        Map("expect_groups" -> expectGroups)))
      val rows = prog.stateOperators.head.numRowsTotal
      require(rows == expectGroups,
        s"sketch state rows $rows != groups $expectGroups at $k× — " +
          "state is supposed to be per-group sketches, not per-value")
    }

    if (probes("expire")) {
      // RECLAIM: an EXPIRING horizon — the append-mode tumbling
      // aggregation evicts every window the advancing watermark closes,
      // so the final state must hold only the trailing open windows,
      // strictly below the full group count: RocksDB eviction OBSERVED,
      // not assumed from horizon arithmetic. (The dedup shape cannot
      // demonstrate this deterministically: dropDuplicatesWithinWatermark
      // evicts on `lastSeen < max(ts) − 2·delay`, which a recurring key
      // dodges for any data-dependent recurrence pattern; window close
      // is exact.) The final watermark is max(ts) − 1 h, so the expected
      // survivor set — groups whose window hasn't closed — is computed
      // batch-side: windows ending after the watermark.
      val (path, batch) = materialize("expire", 1, uidScaled(1))
      val totalGroups = batch
        .select(hourWin("start"), col("event_type")).distinct().count()
      val openGroups = batch
        .select(hourWin.as("__w"), col("event_type"))
        .filter(col("__w")("end") > lit(tsMax) - expr("INTERVAL 1 HOUR"))
        .select(col("__w")("start"), col("event_type")).distinct().count()
      val agg = graft.streaming.Streaming.tumblingCounts(fileStream(path))
      val (prog, ckpt, wall) = runToEnd("expire", agg)
      val rows = prog.stateOperators.head.numRowsTotal
      println(report("expire", 1, prog, ckpt, wall,
        Map("total_groups" -> totalGroups, "expect_open_groups" -> openGroups)))
      require(rows > 0 && rows < totalGroups,
        s"expiring-horizon state rows $rows not in (0, $totalGroups) — " +
          "watermark close did not reclaim state")
      require(rows <= openGroups,
        s"state rows $rows exceed the $openGroups windows still open at " +
          "the final watermark — closed windows were not evicted")
    }

    if (probes("restart")) {
      // RECOVERY: run the highest-multiplier dedup on a DURABLE
      // checkpoint, kill it after ≥ 1 committed batch but before the
      // source drains, restart on the same checkpoint, and measure the
      // replay wall (changelog/snapshot reload + first re-executed
      // batch). The resumed run's final state must still carry every
      // distinct key — proof the kill lost nothing.
      val k = ks.max
      val (path, batch) = materialize("restart", k, uidScaled(k))
      val expectedKeys = batch.select("user_id", "event_type").distinct().count()
      val ckpt = java.nio.file.Paths.get(s"$dir/restart/ckpt")
      def start(throttled: Boolean): StreamingQuery = {
        val w = graft.streaming.Streaming.dedupStream(
            fileStream(path, filesPerTrigger = 1), // 8 files → 8 batches
            Seq("user_id", "event_type"), "ts", wide)
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ckpt.toString)
        // run 1 paces one batch per second: between OBSERVING batch 1
        // and stop() taking effect at most one more trigger can fire,
        // so the kill lands mid-run deterministically (an unthrottled
        // run on a fast box can drain all 8 batches inside the poll
        // gap and leave nothing to replay). The resume runs unthrottled
        // — its replay wall should measure recovery, not the pacing.
        (if (throttled) w.trigger(
          org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
         else w).start()
      }
      val q1 = start(throttled = true)
      val killDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      try {
        while (Option(q1.lastProgress).map(_.batchId).getOrElse(-1L) < 1 &&
            System.nanoTime() < killDeadline)
          Thread.sleep(50)
      } finally q1.stop() // kill mid-run: ≥ 2 of 8 batches committed
      val committed = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
      require(committed >= 1 && committed < 7,
        s"kill window missed: committed batch $committed of 8 — nothing " +
          "left to replay (or nothing committed before the kill)")
      val t0 = System.nanoTime()
      val q2 = start(throttled = false)
      // replay wall = start() → first committed progress of the resume
      val replayDeadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      while (q2.recentProgress.isEmpty && System.nanoTime() < replayDeadline)
        Thread.sleep(20)
      val replayWall = (System.nanoTime() - t0) / 1e9
      try q2.processAllAvailable() finally q2.stop()
      val resumeWall = (System.nanoTime() - t0) / 1e9
      val prog = lastStateProgress(q2)
      val rows = prog.stateOperators.head.numRowsTotal
      println(f"""{"probe":"restart","k":$k,""" +
        f""""distinct_keys":$expectedKeys,"state_rows":$rows,""" +
        f""""batches_before_kill":${committed + 1},""" +
        f""""replay_first_batch_sec":$replayWall%.2f,""" +
        f""""resume_total_sec":$resumeWall%.2f,""" +
        f""""checkpoint_state_bytes":${dirBytes(ckpt.resolve("state"))}}""")
      require(rows == expectedKeys,
        s"post-restart state rows $rows != distinct keys $expectedKeys — " +
          "the resume lost state")
    }

    // ---------------------------------------------------------------
    // Ingest-sink recovery walls (round 12): the `restart` probe proves
    // the bare dedup operator recovers; these two kill the SINKS a
    // deployment actually runs — the composed curation pipeline
    // (stateful dedup + idempotent segment sink) and the stateless BM25
    // ingest (replay-retraction path) — and report the recovery-time
    // budget plus segment/content parity after the resume.
    // ---------------------------------------------------------------

    /** k doc copies sharing no text (per-copy word suffix) — the
      * ScaleSmoke scaling shape, so dedup state carries every doc. */
    def docScaled(k: Int): DataFrame = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until k).map { i =>
        docs.select(
          (col("doc_id") * k + i).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"),
          col("source"))
      }.reduce(_ unionByName _)
    }

    /** Kill-and-restart harness shared by the sink probes: run 1 paces
      * one batch per second and is stopped after ≥ 1 committed batch
      * (but before all `nBatches` drain); run 2 resumes unthrottled on
      * the same checkpoint. Returns (batches committed before the kill,
      * replay wall to the resume's first progress, resume total). */
    def killAndRestart(nBatches: Int,
        start: Boolean => StreamingQuery): (Long, Double, Double) = {
      val q1 = start(true)
      val killDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      try {
        while (Option(q1.lastProgress).map(_.batchId).getOrElse(-1L) < 1 &&
            System.nanoTime() < killDeadline)
          Thread.sleep(50)
      } finally q1.stop()
      val committed = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
      require(committed >= 1 && committed < nBatches - 1,
        s"kill window missed: committed batch $committed of $nBatches")
      val t0 = System.nanoTime()
      val q2 = start(false)
      val replayDeadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      while (q2.recentProgress.isEmpty && System.nanoTime() < replayDeadline)
        Thread.sleep(20)
      val replayWall = (System.nanoTime() - t0) / 1e9
      try q2.processAllAvailable() finally q2.stop()
      (committed + 1, replayWall, (System.nanoTime() - t0) / 1e9)
    }

    /** The 1-batch/second pacing run 1 uses so the kill lands mid-run
      * deterministically (the `restart` probe's rationale). */
    def pacing(on: Boolean): Option[org.apache.spark.sql.streaming.Trigger] =
      if (on) Some(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      else None

    if (probes("restart_ingest")) {
      // the composed curation pipeline: watermarked digest dedup vs a
      // static corpus + quality/encoding filters + per-batch segment
      // sink. Survivor parity is asserted against the batch funnel.
      import graft.functions.TextAnalysis
      val k = ks.max
      val feed = s"$dir/restart_ingest/feed/source=src0"
      val scaledDocs = docScaled(k)
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
        .select("doc_id", "text", "ts")
      scaledDocs.repartition(8).write.mode("overwrite").parquet(feed)
      val batch = spark.read.parquet(feed)
      val corpus = batch.filter(col("doc_id") % 7 === 0)
        .select("doc_id", "text")
      // the BLOCKLIST path (round 16 — part of the sink since r14 but
      // never under a kill/restart): retained takedown digests whose
      // suppression must survive the replay exactly
      val blockedDocs = batch.filter(col("doc_id") % 11 === 5)
      val blocklist = blockedDocs
        .select(graft.operators.Dedup.contentKey(col("text"),
          normalize = false).as("fp"))
        .distinct()
      // batch-funnel mirror: the sink dedups on raw-byte digests and
      // anti-joins corpus + blocklist digests — for the COUNT, plain
      // text identity is the same partition (digests collision-free)
      def funnel(withBlocklist: Boolean): Long = {
        val unblocked = batch
          .join(corpus.select("text").distinct(), Seq("text"), "left_anti")
        val afterBlock =
          if (withBlocklist) unblocked.join(
            blockedDocs.select("text").distinct(), Seq("text"), "left_anti")
          else unblocked
        afterBlock.dropDuplicates("text")
          .filter(TextAnalysis.qualityScore(col("text")) > 0.5 &&
            graft.operators.Scrub.encodingClean(col("text")))
          .count()
      }
      val expectedSurvivors = funnel(withBlocklist = true)
      val suppressed = funnel(withBlocklist = false) - expectedSurvivors
      require(suppressed > 0,
        "probe premise broken: the blocklist suppresses nothing — the " +
          "restart case would be vacuous")
      val out = s"$dir/restart_ingest/out"
      val ckpt = s"$dir/restart_ingest/ckpt"
      def start(throttled: Boolean): StreamingQuery = {
        val stream = graft.streaming.Streaming.partitionSubtreeStream(spark,
          s"$dir/restart_ingest/feed", "source=src0", maxFilesPerTrigger = 1)
        graft.streaming.Streaming.ingestCurationSink(stream, corpus,
          "text", "ts", out, delay = "30 days", checkpoint = Some(ckpt),
          trigger = pacing(throttled), blocklist = Some(blocklist))
      }
      val (before, replay, total) = killAndRestart(8, start)
      val segs = graft.operators.Segments.batches(spark, out).size
      val survivors = spark.read.parquet(out).count()
      println(f"""{"probe":"restart_ingest","k":$k,""" +
        f""""batches_before_kill":$before,""" +
        f""""replay_first_batch_sec":$replay%.2f,""" +
        f""""resume_total_sec":$total%.2f,"segments":$segs,""" +
        f""""survivor_rows":$survivors,""" +
        f""""expect_survivors":$expectedSurvivors,""" +
        f""""blocklist_suppressed":$suppressed,""" +
        f""""checkpoint_state_bytes":${dirBytes(
          java.nio.file.Paths.get(ckpt).resolve("state"))}}""")
      require(survivors == expectedSurvivors,
        s"post-restart survivors $survivors != batch funnel " +
          s"$expectedSurvivors — the resume double-admitted, lost rows, " +
          "or let a blocked digest through")
      // the replayed output must carry NO blocked digest
      require(spark.read.parquet(out)
        .select(graft.operators.Dedup.contentKey(col("text"),
          normalize = false).as("fp"))
        .join(broadcast(blocklist), Seq("fp"), "left_semi").isEmpty,
        "a blocklisted digest was admitted across the restart")
    }

    if (probes("restart_bm25")) {
      // the stateless BM25 ingest: replay retracts the torn segment's
      // marker and rewrites it; after the resume, base ∪ segments must
      // be content-identical to a full rebuild.
      import graft.operators.Search
      val k = ks.max
      val full = docScaled(k)
      val base = full.filter(col("doc_id") % 16 =!= 0)
      val delta = full.filter(col("doc_id") % 16 === 0)
      val table = "state_probe_bm25"
      Seq(table, s"${table}_stats").foreach(
        graft.sources.Sources.replaceTable(spark, _))
      Search.saveBm25Index(Search.buildBm25Index(base, "doc_id", "text"), table)
      val feed = s"$dir/restart_bm25/feed"
      delta.select("doc_id", "text").repartition(8)
        .write.mode("overwrite").parquet(feed)
      val segDir = s"$dir/restart_bm25/seg"
      val ckpt = s"$dir/restart_bm25/ckpt"
      def start(throttled: Boolean): StreamingQuery = {
        val stream = spark.readStream
          .schema(spark.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        graft.streaming.Streaming.bm25IngestSink(stream, table,
          "doc_id", "text", segDir, checkpoint = Some(ckpt),
          trigger = pacing(throttled))
      }
      val (before, replay, total) = killAndRestart(8, start)
      val segs = graft.operators.Segments.batches(spark, segDir).size
      val served = Search.loadBm25IndexWithSegments(spark, table, segDir)
      val fullIdx = Search.buildBm25Index(full, "doc_id", "text")
      println(f"""{"probe":"restart_bm25","k":$k,""" +
        f""""batches_before_kill":$before,""" +
        f""""replay_first_batch_sec":$replay%.2f,""" +
        f""""resume_total_sec":$total%.2f,"segments":$segs,""" +
        f""""served_docs":${served.nDocs},""" +
        f""""expect_docs":${fullIdx.nDocs}}""")
      require(served.nDocs == fullIdx.nDocs &&
        served.totalLen == fullIdx.totalLen,
        s"post-restart served stats (${served.nDocs}, ${served.totalLen}) " +
          s"!= full rebuild (${fullIdx.nDocs}, ${fullIdx.totalLen}) — the " +
          "replay double-admitted or lost a segment")
      require(served.postings.count() == fullIdx.postings.count(),
        "post-restart served postings diverge from a full rebuild")
    }

    /** k embedding copies sharing no ids (vec_id shifted per copy) —
      * vectors repeat across copies, which is irrelevant to the sink
      * walls (hashing/encoding cost is per row). */
    def embScaled(k: Int): DataFrame = {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val maxVid = emb0.agg(max("vec_id")).head().getLong(0) + 1
      (0 until k).map(i => emb0.select(
          (col("vec_id") + lit(i.toLong * maxVid)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionByName _)
    }

    if (probes("restart_lsh")) {
      // the multi-projection ANN ingest: replay retracts the last
      // projection (the completeness marker) and rewrites all three.
      import graft.operators.Similarity
      val k = ks.max
      val full = embScaled(k)
      val base = full.filter(col("vec_id") % 16 =!= 0)
      val delta = full.filter(col("vec_id") % 16 === 0)
      val table = "state_probe_lsh"
      (0 until 3).foreach(i =>
        graft.sources.Sources.replaceTable(spark, s"${table}_t$i"))
      Seq(s"${table}_meta", s"${table}_folded").foreach(
        graft.sources.Sources.replaceTable(spark, _))
      Similarity.saveLshIndex(base, "embedding", dims = 64, table,
        bits = 8, tables = 3)
      val feed = s"$dir/restart_lsh/feed"
      delta.repartition(8).write.mode("overwrite").parquet(feed)
      val segDir = s"$dir/restart_lsh/seg"
      val ckpt = s"$dir/restart_lsh/ckpt"
      def start(throttled: Boolean): StreamingQuery = {
        val stream = spark.readStream
          .schema(spark.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        graft.streaming.Streaming.lshIngestSink(stream, table,
          "embedding", segDir, checkpoint = Some(ckpt),
          trigger = pacing(throttled))
      }
      val (before, replay, total) = killAndRestart(8, start)
      val segs = graft.operators.Segments.batches(spark, segDir).size
      // content parity: every projection's (id, bucket) set over
      // base ∪ segments must equal a full rebuild's (deterministic
      // hyperplanes make this exact)
      val reb = "state_probe_lsh_reb"
      (0 until 3).foreach(i =>
        graft.sources.Sources.replaceTable(spark, s"${reb}_t$i"))
      Seq(s"${reb}_meta", s"${reb}_folded").foreach(
        graft.sources.Sources.replaceTable(spark, _))
      Similarity.saveLshIndex(full, "embedding", dims = 64, reb,
        bits = 8, tables = 3)
      Similarity.foldLshSegments(spark, table, segDir)
      val mismatched = (0 until 3).count { t =>
        val a = spark.table(s"${table}_t$t").select("vec_id", "bucket")
        val b = spark.table(s"${reb}_t$t").select("vec_id", "bucket")
        a.exceptAll(b).limit(1).count() + b.exceptAll(a).limit(1).count() > 0
      }
      println(f"""{"probe":"restart_lsh","k":$k,""" +
        f""""batches_before_kill":$before,""" +
        f""""replay_first_batch_sec":$replay%.2f,""" +
        f""""resume_total_sec":$total%.2f,"segments":$segs,""" +
        f""""mismatched_projections":$mismatched}""")
      require(mismatched == 0,
        "post-restart folded projections diverge from a full rebuild — " +
          "the replay double-admitted or lost a segment")
    }

    if (probes("restart_pq")) {
      import graft.operators.Similarity
      val k = ks.max
      val full = embScaled(k)
      val base = full.filter(col("vec_id") % 16 =!= 0)
      val delta = full.filter(col("vec_id") % 16 === 0)
      val table = "state_probe_pq"
      Seq(table, s"${table}_codebooks", s"${table}_folded").foreach(
        graft.sources.Sources.replaceTable(spark, _))
      Similarity.savePqIndex(Similarity.pqIndex(base, "vec_id",
        "embedding", dims = 64, m = 16, nCodes = 32, iters = 4), table)
      val feed = s"$dir/restart_pq/feed"
      delta.repartition(8).write.mode("overwrite").parquet(feed)
      val segDir = s"$dir/restart_pq/seg"
      val ckpt = s"$dir/restart_pq/ckpt"
      def start(throttled: Boolean): StreamingQuery = {
        val stream = spark.readStream
          .schema(spark.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        graft.streaming.Streaming.pqIngestSink(stream, table,
          "embedding", segDir, checkpoint = Some(ckpt),
          trigger = pacing(throttled))
      }
      val (before, replay, total) = killAndRestart(8, start)
      val segs = graft.operators.Segments.batches(spark, segDir).size
      val served = Similarity.loadPqIndexWithSegments(spark, table, segDir)
      val expect = full.filter(col("embedding").isNotNull).count()
      println(f"""{"probe":"restart_pq","k":$k,""" +
        f""""batches_before_kill":$before,""" +
        f""""replay_first_batch_sec":$replay%.2f,""" +
        f""""resume_total_sec":$total%.2f,"segments":$segs,""" +
        f""""served_vectors":${served.encoded.count()},""" +
        f""""expect_vectors":$expect}""")
      require(served.encoded.count() == expect,
        "post-restart served vectors != corpus — the replay " +
          "double-admitted or lost a segment")
    }

    if (probes("restart_sketch")) {
      // the sketch-cube ingest: per-batch finest-group HLL rows as
      // idempotent segments; after the kill-and-resume, served row
      // counts must be EXACT against the corpus (mergeability makes
      // admission exact for counts) and estimates in band.
      import graft.operators.Sketch
      val k = ks.max
      val full = docScaled(k).withColumn("shard", col("doc_id") % 4)
      val base = full.filter(col("doc_id") % 16 =!= 0)
      val delta = full.filter(col("doc_id") % 16 === 0)
      val keys = Seq("source", "shard")
      val table = "state_probe_sketch"
      Seq(table, s"${table}_folded").foreach(
        graft.sources.Sources.replaceTable(spark, _))
      Sketch.buildDistinctSketches(base, keys, "text")
        .write.format("parquet")
        .options(graft.sources.Sources.stagedWriteOptions(spark, table))
        .saveAsTable(table)
      val feed = s"$dir/restart_sketch/feed"
      delta.repartition(8).write.mode("overwrite").parquet(feed)
      val segDir = s"$dir/restart_sketch/seg"
      val ckpt = s"$dir/restart_sketch/ckpt"
      def start(throttled: Boolean): StreamingQuery = {
        val stream = spark.readStream
          .schema(spark.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        graft.streaming.Streaming.sketchCubeIngestSink(stream, table,
          keys, "text", segDir, checkpoint = Some(ckpt),
          trigger = pacing(throttled))
      }
      val (before, replay, total) = killAndRestart(8, start)
      val segs = graft.operators.Segments.batches(spark, segDir).size
      val served = Sketch.rollupDistinct(
          Sketch.loadCubeWithSegments(spark, table, segDir), Seq("source"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expect = full.groupBy("source")
        .agg(countDistinct(col("text")).as("nd"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val rowsExact = expect.forall { case (s0, (_, n)) =>
        served.get(s0).exists(_._2 == n) }
      val inBand = expect.forall { case (s0, (nd, _)) =>
        served.get(s0).exists(v => math.abs(v._1 - nd) <= 0.15 * nd) }
      println(f"""{"probe":"restart_sketch","k":$k,""" +
        f""""batches_before_kill":$before,""" +
        f""""replay_first_batch_sec":$replay%.2f,""" +
        f""""resume_total_sec":$total%.2f,"segments":$segs,""" +
        f""""rows_exact":$rowsExact,"estimates_in_band":$inBand}""")
      require(rowsExact,
        "post-restart served row counts != corpus — the replay " +
          "double-admitted or lost a segment")
      require(inBand, "post-restart estimate left the error band")
    }

    spark.stop()
  }
}
