package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery}
import scala.util.control.NonFatal

/** Event projection for the custom-state operator. */
case class UserEvent(user_id: Long, value: Double)

/** Running per-user totals emitted by [[Streaming.runningUserTotals]]. */
case class UserTotal(user_id: Long, n_events: Long, sum_value: Double)

/** Structured Streaming surface over the `events` table (SURVEY.md §2.10:
  * the reference has no streaming engine; this is new capability layered
  * on the same operators — readStream → watermark → windowed agg).
  *
  * The local harness drives a real streaming query synchronously: memory
  * sink + `processAllAvailable()` (one parquet "batch"), so correctness is
  * checkable against a batch oracle. On a cluster the same plan runs
  * against a file/Kafka source with checkpointing.
  */
object Streaming {

  /** Fixed length of an interval string in microseconds, for comparing a
    * window duration against a watermark delay. Month-bearing intervals
    * have no fixed length (and `window()` itself rejects them) — fail
    * fast rather than guess. */
  private def durationMicros(interval: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(iv.months == 0,
      s"'$interval' has a month component — no fixed duration to compare")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Streaming view of events. The `ts` encoding is whatever the writer
    * chose (long-nanos / TIMESTAMP_NTZ / TIMESTAMP) — normalized to µs
    * TimestampType by [[graft.sources.EventTime.normalizeTs]], branching
    * on the observed schema so an upstream encoding change never breaks
    * the stream. The (static) file schema is cached per (path, mtime) —
    * streaming sources need an explicit schema, and re-reading the footer
    * on every query build is measurable in a tight harness loop; keying by
    * mtime means a regenerated file invalidates the entry instead of
    * pinning the stream to a stale schema for the life of the JVM. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.EventTime.normalizeTs(fileStream(spark, dir, "events.parquet"))
  }

  /** Streaming view of one parquet file under `dir`. The (static) file
    * schema is cached per (path, mtime) — streaming sources need an
    * explicit schema, and re-reading the footer on every query build is
    * measurable in a tight harness loop; keying by mtime means a
    * regenerated file invalidates the entry instead of pinning the
    * stream to a stale schema for the life of the JVM. */
  def fileStream(spark: SparkSession, dir: String, file: String): DataFrame = {
    val path = s"$dir/$file"
    // 0L for non-local paths → plain per-path caching
    val mtime = try new java.io.File(path).lastModified catch { case _: Exception => 0L }
    // ONE entry per path (stale mtimes are replaced, not accumulated —
    // a harness JVM that outlives many data regenerations must not grow
    // a schema per generation)
    val schema = schemaCache.get(path) match {
      case Some((m, s)) if m == mtime => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemaCache.put(path, (mtime, s))
        s
    }
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", file)
      .parquet(dir)
  }

  /** Streaming view of the documents table (live-crawl ingest shape). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    fileStream(spark, dir, "documents.parquet")

  /** PARTITION-PRUNED incremental ingest: stream ONE subtree of a
    * Hive-partitioned layout (e.g. `event_type=click` of an
    * `event_type=/day=` corpus, [[graft.operators.Layout
    * .partitionedTableFor]]). The file-stream source's DIRECTORY LISTING
    * — the per-trigger cost a 100 TB layout pays forever — walks only
    * the subscribed subtree: the other top-level partitions are never
    * listed, the incremental analogue of static partition pruning (a
    * 150-directory corpus with 5 event types lists 30 directories, not
    * 150, every trigger). Partition columns BELOW the subtree (`day=`)
    * are directory-inferred into the schema as in batch reads, so a
    * day-range filter still prunes file scans within the subtree.
    * `maxFilesPerTrigger` bounds each micro-batch (0 = unbounded).
    * The schema is footer-read from the subtree per CALL — deliberately
    * NOT the [[fileStream]] mtime cache: a directory's mtime only
    * tracks its direct children, so nested `day=` content changes would
    * serve a stale schema, and the callers' table locations are
    * per-generation artifact dirs anyway (a cache would grow one dead
    * entry per generation). Query START-UP cost only, once per stream.
    *
    * SUBSCRIBE-BEFORE-DATA: a subtree with no files yet (first writer
    * hasn't landed, or this partition value is absent in the current
    * generation) has no footers to infer from, so the schema falls back
    * to the TABLE ROOT's footers minus the subtree's own pinned
    * partition levels — pass `schema` explicitly to skip inference
    * entirely (e.g. from catalog metadata when even the root is empty).
    * The (empty) subtree directory is created if missing — exactly the
    * directory the first writer would create — because the file source
    * lists it per trigger and refuses to START on a nonexistent path,
    * where an empty one subscribes and picks files up as they land. */
  def partitionSubtreeStream(spark: SparkSession, tableDir: String,
      subtree: String, maxFilesPerTrigger: Int = 0,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val path = s"$tableDir/$subtree"
    val resolved = schema.getOrElse {
      // batch read of the subtree: data schema + the partition columns
      // directory-inferred BELOW the subtree root
      try spark.read.parquet(path).schema
      catch {
        // ONLY the two no-footers-yet shapes fall back (missing dir /
        // dir with nothing to infer from): any OTHER analysis error
        // over a subtree that HAS files — e.g. corrupt or conflicting
        // schemas — must surface here, not start a stream whose
        // root-derived schema silently misreads the broken files
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND") ||
                c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          // no footers under the subtree yet — derive from the table
          // root, dropping the partition levels the subtree path pins
          // (they are constants of the path, not columns of the stream)
          val pinned = subtree.split("/").toSeq
            .filter(_.contains("=")).map(_.takeWhile(_ != '='))
          val resolver = spark.sessionState.analyzer.resolver
          org.apache.spark.sql.types.StructType(
            spark.read.parquet(tableDir).schema
              .filterNot(f => pinned.exists(p => resolver(p, f.name))))
      }
    }
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) fs.mkdirs(hPath)
    val r = spark.readStream.schema(resolved)
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else r).parquet(path)
  }

  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, org.apache.spark.sql.types.StructType)]

  /** Tumbling-window aggregate with a watermark: per (hour, event_type)
    * counts and value sums. */
  def tumblingCounts(events: DataFrame, window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Run a streaming aggregate to completion over the available data and
    * return the final result as a static DataFrame (memory sink, complete
    * mode, processAllAvailable).
    *
    * Harness economics (this is a synchronous run-to-completion wrapper,
    * not a long-lived production query), the two confs set for the
    * start only, through [[withStartConf]]:
    *   - shuffle partitions are capped for the stateful operators
    *     ([[cappedParts]]) — parallelism is pinned at query start and
    *     each partition opens its own state store; on a cluster this is
    *     the knob that decides state-store count for the life of the
    *     checkpoint.
    *   - no-data micro-batches are disabled for the run: all data
    *     arrives in batch 0, so the extra watermark-advancement batch
    *     re-commits identical state/output and only costs time. (A
    *     long-lived append-mode query DOES want them — they flush closed
    *     windows at the tail; here the query ends after the data batch
    *     and the sink table is already final for complete/update/dedup
    *     shapes.)
    *   - the checkpoint is ephemeral ([[startSink]] without a caller
    *     checkpoint: tmpfs when available, deleted on stop). Long-lived
    *     queries should use writeStream directly with a durable
    *     checkpointLocation.
    */
  def runToBatch(agg: DataFrame, name: String, mode: String = "complete",
      watermarkFlush: Boolean = false): DataFrame = {
    val spark = agg.sparkSession
    // append-mode WINDOW aggregates only emit a closed window in a
    // batch AFTER the one that advanced the watermark past it — with
    // no-data batches off, a to-completion run would emit NOTHING.
    // watermarkFlush keeps them on so the flush batch runs; for
    // complete/update/dedup shapes the data batch is already final
    // and the extra batch only costs time (see the scaladoc above)
    val q = startSink(spark,
      agg.writeStream.outputMode(mode).format("memory").queryName(name),
      None, name,
      Seq(partsKey -> cappedParts(spark), noDataKey -> watermarkFlush.toString))
    try {
      q.processAllAvailable()
      if (watermarkFlush) {
        // the watermark-flush batch is triggered by the watermark
        // update, not by data — processAllAvailable can return between
        // the data batch and the flush batch, and a count-stability
        // check alone could observe (pre-flush, pre-flush) and exit
        // early. First REQUIRE the flush batch itself: with no-data
        // batches on, a watermark advance schedules batch ≥ 1, so wait
        // until the query has committed past batch 0 (deadline-bounded:
        // an empty source never advances and legitimately stays at 0).
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        def lastBatch: Long =
          Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        // short poll interval: processAllAvailable blocks on real work,
        // so the sleep only bounds how fast we NOTICE the flush batch —
        // 100/200 ms polls were billing up to half a second of pure
        // sleep to every flush gate
        while (lastBatch < 1 && System.nanoTime() < deadline) {
          Thread.sleep(15)
          q.processAllAvailable()
        }
        // then settle: contents must survive one more cycle unchanged
        var prev = -1L
        var cur = spark.table(name).count()
        while (prev != cur && System.nanoTime() < deadline) {
          Thread.sleep(30)
          q.processAllAvailable()
          prev = cur
          cur = spark.table(name).count()
        }
      }
    } finally q.stop()
    spark.table(name)
  }

  private val partsKey = "spark.sql.shuffle.partitions"
  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** The session's shuffle width capped at `graft.stream.partitions`
    * (default 8): each stateful-stage partition opens, commits and
    * changelog-uploads its OWN RocksDB instance per micro-batch, a cost
    * that dwarfs the per-row work of harness-sized batches (the
    * ingest-curation dedup stage at 32 partitions billed ~25
    * task-seconds against ~0.2 MB of state). Ephemeral starts only: a
    * durable checkpoint pins its width for life, and that stays the
    * deployment's state-sizing choice. */
  private def cappedParts(spark: SparkSession): String =
    math.min(spark.conf.get(partsKey).toInt,
      sys.props.getOrElse("graft.stream.partitions", "8").toInt).toString

  private val startLock = new Object

  /** The one conf scope of every stream start here: set `confs` on the
    * caller's session, `start`, restore each key (unset if it was
    * unset). The query runs on a session CLONED inside `start()`, so it
    * keeps the scoped values and the caller's session sees no change.
    * One (reentrant) lock spans set → start → restore, and every start
    * takes it, even one that sets nothing: unlocked, two windows restore
    * each other's scoped values for good, and a start inside another's
    * window clones, and pins, that window's width. `confs` is evaluated
    * under the lock, so [[cappedParts]] reads the caller's own width. */
  private def withStartConf[T](spark: SparkSession,
      confs: => Seq[(String, String)])(start: => T): T =
    startLock.synchronized {
      val scoped = confs
      val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        scoped.foreach { case (k, v) => spark.conf.set(k, v) }
        start
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Ephemeral checkpoint placement for a sink started WITHOUT a caller
    * checkpoint (the synchronous to-completion gates) and for
    * [[runToBatch]]: the checkpoint's offset/commit logs and the RocksDB
    * changelog are the only fsync'd writes these one-batch runs perform,
    * and billing disk syncs to an ephemeral run's metadata is pure
    * noise, so the dir goes to tmpfs. Falls back to Spark's own temp
    * checkpoint (None) when /dev/shm is not writable. The dir is
    * deleted when the caller stops the query ([[withCleanup]]); a
    * durable deployment passes its own `checkpoint` and is untouched. */
  private def ephemeralCkpt(name: String): Option[EphemeralCkpt] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm))
      Some(new EphemeralCkpt(
        java.nio.file.Files.createTempDirectory(shm, s"graft-ckpt-$name-")))
    else None
  }

  /** An ephemeral checkpoint dir with exactly ONE deleter. The stop()
    * path, the termination listener (on the listener-bus thread) and a
    * failed start may all ask for the delete; the first [[claim]] wins
    * and every later one is a no-op. Two walkers deleting under each
    * other make `Files.walk`'s lazy iterator throw
    * `UncheckedIOException(NoSuchFileException)`, which is why the
    * delete is never shared. The delete itself is best-effort: a dir
    * left on tmpfs is a leak, never a reason for stop() to throw. */
  private final class EphemeralCkpt(val dir: java.nio.file.Path) {
    private val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** True for exactly one caller: the one that must [[delete]]. */
    def claim(): Boolean = claimed.compareAndSet(false, true)

    /** Recursive delete, children first; swallows every non-fatal error. */
    def delete(): Unit = {
      import scala.jdk.CollectionConverters._
      // close the walk stream (it holds a directory fd)
      try scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p)))
      catch { case NonFatal(_) => () }
    }

    def release(): Unit = if (claim()) delete()
  }

  /** Delegating wrapper that deletes the ephemeral checkpoint when the
    * caller stops the query (every sink gate stops in a finally). A
    * termination listener (matched by runId) covers the paths the
    * wrapper can't see — a query dying on an exception, or stopped
    * through spark.streams.get/active — so failure paths release the
    * RAM-backed tmpfs dir instead of leaking it until reboot. stop()
    * claims the delete BEFORE stopping the query, so the termination
    * event that the stop itself posts finds the dir already owned and
    * the dir is gone when stop() returns. */
  private def withCleanup(q: org.apache.spark.sql.streaming.StreamingQuery,
      ckpt: EphemeralCkpt): org.apache.spark.sql.streaming.StreamingQuery = {
    val streams = q.sparkSession.streams
    val qRunId = q.runId
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == qRunId) {
          streams.removeListener(this)
          ckpt.release()
        }
    }
    streams.addListener(listener)
    // a query that died before the listener was registered posted its
    // termination event to nobody
    if (!q.isActive) {
      streams.removeListener(listener)
      ckpt.release()
    }
    new org.apache.spark.sql.streaming.StreamingQuery {
      override def name: String = q.name
      override def id: java.util.UUID = q.id
      override def runId: java.util.UUID = q.runId
      override def sparkSession: SparkSession = q.sparkSession
      override def isActive: Boolean = q.isActive
      override def exception
          : Option[org.apache.spark.sql.streaming.StreamingQueryException] =
        q.exception
      override def status: org.apache.spark.sql.streaming.StreamingQueryStatus =
        q.status
      override def recentProgress
          : Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
        q.recentProgress
      override def lastProgress
          : org.apache.spark.sql.streaming.StreamingQueryProgress =
        q.lastProgress
      override def awaitTermination(): Unit = q.awaitTermination()
      override def awaitTermination(timeoutMs: Long): Boolean =
        q.awaitTermination(timeoutMs)
      override def processAllAvailable(): Unit = q.processAllAvailable()
      override def stop(): Unit = {
        val owner = ckpt.claim()
        try q.stop() finally if (owner) ckpt.delete()
      }
      override def explain(): Unit = q.explain()
      override def explain(extended: Boolean): Unit = q.explain(extended)
    }
  }

  /** Start `w` in [[withStartConf]] with `confs`, on an ephemeral tmpfs
    * checkpoint (deleted on stop) when the caller provided none; durable
    * checkpoints pass through verbatim. */
  private def startSink(spark: SparkSession, w: DataStreamWriter[Row],
      checkpoint: Option[String], name: String,
      confs: => Seq[(String, String)] = Nil): StreamingQuery =
    withStartConf(spark, confs) {
      def start(c: Option[String]) =
        c.fold(w)(w.option("checkpointLocation", _)).start()
      checkpoint match {
        case some @ Some(_) => start(some)
        case None =>
          ephemeralCkpt(name) match {
            case Some(ckpt) =>
              val q = try start(Some(ckpt.dir.toString)) catch {
                case NonFatal(e) => ckpt.release(); throw e
              }
              withCleanup(q, ckpt)
            case None => start(None)
          }
      }
    }

  /** Sliding-window aggregate with a watermark: per (window, event_type)
    * counts and value sums; each event lands in size/slide windows. */
  def slidingCounts(events: DataFrame, size: String = "2 hours",
      slide: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), size, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Custom keyed state (flatMapGroupsWithState): running per-user event
    * count and value sum, persisted in `GroupState` across micro-batches
    * and re-emitted on every update. The state is O(1) per user —
    * billions of keys spread across the state store at scale.
    *
    * Update-mode semantics: a key re-emits its latest total each
    * micro-batch it appears in, and the sink keeps the LAST emission per
    * key — Append would accumulate one stale row per batch per key. Run
    * via `runToBatch(..., mode = "update")` (the memory sink upserts are
    * append-logged; dedupe to last emission if the source multi-batches). */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[(Long, Double)]) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          it.foreach { e => n += 1; s += e.value }
          state.update((n, s))
          Iterator.single(UserTotal(uid, n, s))
      }
  }

  /** Streaming exact dedup — the streaming flavor of `Dedup.exact` for
    * continuous ingestion: keep the FIRST arrival per key, dropping
    * re-occurrences that arrive within the watermark horizon. State per
    * key expires with the watermark — that bound is what keeps the state
    * store finite at pipeline ingest rates (an unwatermarked
    * dropDuplicates accumulates every key ever seen). */
  def dedupStream(events: DataFrame, keys: Seq[String], tsCol: String,
      delay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** END-TO-END streaming funnel in ONE query — the streaming analogue
    * of the batch `q_pipeline_e2e` integration gate: watermarked
    * in-stream dedup (keep one arrival per (user, event_type, hour) —
    * state expires with the watermark) → stream-static broadcast
    * enrichment (inner, per-micro-batch re-resolution of the dim) →
    * tumbling event-time counts per (window, segment). Two CHAINED
    * stateful operators (dedup, then windowed aggregation) — legal in
    * append mode with watermark propagation; run via
    * `runToBatch(..., mode = "append", watermarkFlush = true)`.
    *
    * Determinism contract: the dedup key INCLUDES the event-time WINDOW
    * — the SAME granularity as the aggregation window — so whichever
    * physical row survives, its window assignment is fixed:
    * per-(window, segment) counts are exact and oracle-matchable, where
    * a keys-only dedup would leave the surviving row's window
    * nondeterministic. The window is a parameter, but it is ONE
    * parameter driving BOTH the dedup bucket and the aggregation window
    * — the contract holds for any size by construction (a separate
    * finer aggregation window would let two same-bucket duplicates land
    * in different sub-windows, survivor arrival order deciding the
    * counts). The OTHER half of exactness is dedup COMPLETENESS:
    * `dropDuplicatesWithinWatermark` only guarantees dropping duplicates
    * that arrive within `delay` of each other, so the contract
    * additionally REQUIRES windowDur ≤ delay (enforced below) — then any
    * same-window pair is within the guarantee. All stream-side join key
    * columns participate in the dedup key, plus `dedupCols` (extra event
    * identity, e.g. the event type).
    * Append emits exactly the windows whose end ≤ final watermark (max
    * event time − delay); the oracle applies the same cut. */
  def funnelCounts(events: DataFrame, dim: DataFrame,
      joinKeys: Seq[(String, String)], segmentCol: String,
      delay: String = "1 hour",
      dedupCols: Seq[String] = Seq("event_type"),
      tsCol: String = "ts",
      windowDur: String = "1 hour"): DataFrame = {
    // EXACT-counts precondition: dropDuplicatesWithinWatermark only
    // GUARANTEES dedup of duplicates arriving within `delay` of each
    // other — two same-window duplicates more than `delay` apart could
    // both survive and double-count. Same-window events are at most
    // `windowDur` apart, so windowDur ≤ delay makes every same-window
    // duplicate pair fall inside the guarantee. Fail fast rather than
    // silently over-count.
    require(durationMicros(windowDur) <= durationMicros(delay),
      s"funnelCounts exact-count contract needs windowDur ($windowDur) <= " +
        s"watermark delay ($delay): dropDuplicatesWithinWatermark only " +
        "guarantees dedup of events within the delay of each other, so a " +
        "wider window admits same-window duplicate pairs it cannot drop")
    // dedup on the window START (a timestamp), not the full struct: a
    // tumbling window is identified by its start, and the scalar keeps
    // the state-store key fixed-width
    val keyed = events.withColumn("__w",
      org.apache.spark.sql.functions.window(col(tsCol), windowDur)("start"))
    val deduped = dedupStream(keyed,
      joinKeys.map(_._1) ++ dedupCols :+ "__w", tsCol, delay)
    val enriched = enrichWithStatic(deduped, dim, joinKeys,
      Seq(segmentCol), joinType = "inner")
    enriched
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), windowDur),
        col(segmentCol))
      .agg(count(lit(1)).as("n"))
  }

  /** Streaming INGEST dedup against an existing corpus — the live-crawl
    * flavor of [[graft.operators.Dedup.dedupAgainst]], sharing its
    * `contentKey` digest so batch backfill and live ingest agree on
    * content identity. Two tiers in one plan: (1) a watermarked
    * `dropDuplicatesWithinWatermark` on the digest drops re-occurrences
    * WITHIN the stream (state = fixed-width digests, expired with the
    * watermark — finite at ingest rates); (2) a stream-static LEFT ANTI
    * join drops anything already in the corpus (the static side is
    * re-resolved every micro-batch, so a corpus grown by a nightly
    * compaction is picked up for free — point it at the digest
    * projection, which collapses map-side to distinct fixed-width
    * keys).
    *
    * Pass `blocklist` — a one-column frame of content digests (the
    * SAME `contentKey` family, typically persisted at takedown time) —
    * to additionally suppress DO-NOT-INGEST content: after a takedown's
    * physical erasure the corpus no longer contains the document, so a
    * re-crawl of the same bytes would sail through the corpus anti-join
    * and re-admit exactly what was removed. The blocklist join is
    * stream-static like the corpus side — re-resolved every
    * micro-batch, so digests appended to the underlying table suppress
    * from the next trigger — and keys on content, not ids, because a
    * re-crawl arrives under a fresh id. */
  def dedupStreamAgainst(stream: DataFrame, corpus: DataFrame,
      textCol: String, tsCol: String, delay: String = "1 hour",
      normalize: Boolean = true,
      blocklist: Option[DataFrame] = None): DataFrame = {
    import graft.operators.Dedup
    val seen = corpus
      .select(Dedup.contentKey(col(textCol), normalize).as("__fp"))
      .distinct()
    val deduped = stream
      .withColumn("__fp", Dedup.contentKey(col(textCol), normalize))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .join(seen, Seq("__fp"), "left_anti")
    blocklist.map { b =>
      val blocked = b.select(col(b.columns.head).as("__fp")).distinct()
      deduped.join(blocked, Seq("__fp"), "left_anti")
    }.getOrElse(deduped).drop("__fp")
  }

  /** The COMPOSED streaming ingest pipeline in ONE query — the live
    * analogue of the batch `q_pipeline_e2e` curation funnel, wiring the
    * individually-gated pieces end to end:
    *
    *   partition-pruned source (the caller subscribes via
    *   [[partitionSubtreeStream]]) → [[dedupStreamAgainst]] (watermarked
    *   in-stream digest dedup — state = fixed-width digests expiring
    *   with the watermark — then the left-anti corpus join) → map-side
    *   curation (quality score band + encoding-hygiene scan, both
    *   codegen'd zero-shuffle predicates) → idempotent per-batch segment
    *   sink (`outDir/batch=<id>`, overwrite — a replayed batch rewrites
    *   its own segment).
    *
    * The stateful tier (dropDuplicatesWithinWatermark) lives in the
    * STREAM plan — it cannot run inside foreachBatch — while the
    * curation filters are stateless map-side predicates that ride the
    * same plan; only the sink write happens per batch. Survivor rows
    * carry `quality` and `n_tokens` columns next to the source columns.
    *
    * Digest identity uses `normalize = false` (raw bytes): every
    * surviving row's text is then byte-identical to its dropped
    * duplicates', so all curation metrics are SURVIVOR-INVARIANT — which
    * arrival the dedup keeps cannot change what the funnel emits, the
    * determinism contract the oracle check needs (the q_stream_dedup
    * idiom, extended to a whole pipeline).
    *
    * Scale shape: per trigger, the only non-map-side work is the digest
    * dedup's state lookup and the anti-join against the corpus's
    * distinct-digest projection (collapsed map-side to fixed-width
    * keys, re-resolved per batch so a nightly compaction is picked up
    * for free). The curation predicates fold into the same codegen
    * stage. State is finite by the watermark horizon — the
    * StateProbe-measured `keys × horizon × bytes/key` budget.
    *
    * One trigger per input batch: the start runs in [[withStartConf]]
    * with no-data micro-batches off, durable or not. The dedup emits on
    * arrival, so the watermark-only batch Spark would run after each
    * data batch emits nothing and only re-commits every state store.
    * State still expires: each data batch evicts with the watermark the
    * previous one advanced (an idle stream holds expired keys until data
    * comes). Restart-safe: the no-data conf is not among the confs a
    * checkpoint's offset log pins (shuffle width, state-store settings,
    * watermark policy), so a checkpoint resumes under either setting
    * with the same state and plan. An ephemeral start also caps the
    * state-store width ([[cappedParts]]); a durable one keeps the
    * session's, which its checkpoint pins for life. */
  def ingestCurationSink(stream: DataFrame, corpus: DataFrame,
      textCol: String, tsCol: String, outDir: String,
      delay: String = "1 hour", minQuality: Double = 0.5,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      blocklist: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextAnalysis
    val curated = dedupStreamAgainst(stream, corpus, textCol, tsCol,
        delay, normalize = false, blocklist = blocklist)
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .filter(col("quality") > minQuality &&
        graft.operators.Scrub.encodingClean(col(textCol)))
    // the one sink family whose STREAM plan is stateful: one trigger
    // per input batch always, the capped width only when ephemeral
    val spark = stream.sparkSession
    withStartConf(spark, (noDataKey -> "false") +:
        (if (checkpoint.isEmpty) Seq(partsKey -> cappedParts(spark)) else Nil))(
      segmentSink(curated, outDir, checkpoint, trigger = trigger)(identity))
  }

  /** Streaming NEAR-duplicate ingest dedup against a static corpus — the
    * live-crawl flavor of near-dup decontamination: each micro-batch of
    * incoming documents is checked for word-n-gram Jaccard similarity
    * against the existing corpus, and only documents with NO corpus
    * neighbor at `jaccard ≥ minJaccard` land in the sink. This is the
    * approximate-similarity tier above [[dedupStreamAgainst]]'s exact
    * content-digest tier; the two compose (digest dedup first is
    * cheaper).
    *
    * Execution shape (per micro-batch, via `foreachBatch` — the batch
    * operator [[graft.operators.Contamination.decontaminateFuzzy]] runs
    * unchanged): the batch's shingle sets explode and join the corpus
    * shingle index on the shingle hash — candidate generation is the
    * shared-shingle inverted-index join (complete for any τ > 0: two
    * sets with Jaccard ≥ τ share a shingle), never a cartesian product —
    * then survivors write as an idempotent per-batch parquet segment
    * (`outDir/batch=<id>`, overwrite — a replayed batch rewrites its own
    * segment, the lakehouse ingest contract shared with [[zOrderedSink]]).
    *
    * Determinism contract: batches are deduped against the FIXED corpus
    * only, not against earlier admitted batches — admitting across
    * batches would make the output depend on micro-batch boundaries
    * (two near-dup docs in one batch vs two both survive either way, but
    * cross-batch the second would be dropped). A nightly compaction that
    * folds admitted segments into the corpus closes that loop without
    * giving up replay determinism; within-stream EXACT re-occurrences
    * are [[dedupStream]]'s job upstream.
    *
    * Scale shape: the corpus side is re-resolved every micro-batch (a
    * compaction-grown corpus is picked up for free). `broadcastCorpus`
    * defaults to false — a 100 TB corpus index shuffle-joins against the
    * (small) micro-batch side, and Spark's own size estimate may still
    * choose a build-side broadcast of the BATCH; set it true only for a
    * corpus known to fit driver/executor memory. */
  def nearDedupAgainstSink(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, outDir: String,
      n: Int = 3, minJaccard: Double = 0.5,
      broadcastCorpus: Boolean = false,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Contamination
    segmentSink(stream, outDir, checkpoint)(batch =>
      Contamination.decontaminateFuzzy(batch, idCol, textCol,
        corpus, idCol, textCol, n, minJaccard,
        broadcastBench = broadcastCorpus))
  }

  /** [[nearDedupAgainstSink]] against a PREBUILT corpus shingle index —
    * the shape that survives a 100 TB corpus: [[nearDedupAgainstSink]]
    * re-derives the corpus's exploded shingle view inside every
    * micro-batch's plan, i.e. a full corpus scan per trigger; here the
    * index is built ONCE ([[graft.operators.Contamination.shingleIndexFor]]
    * — persisted, bucketed+sorted on the shingle hash) and each
    * micro-batch joins it with no index-side exchange: the batch side
    * shuffles into the bucket layout (or broadcasts), the corpus never
    * moves. A compaction that folds admitted segments into the corpus
    * rebuilds the index on its own cadence — between rebuilds the
    * determinism contract is unchanged (dedup vs the FIXED index). */
  def nearDedupAgainstIndexSink(stream: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, outDir: String,
      n: Int = 3, minJaccard: Double = 0.5,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Contamination
    segmentSink(stream, outDir, checkpoint)(batch =>
      Contamination.decontaminateFuzzyFromIndex(batch, idCol, textCol,
        corpusIndex, n, minJaccard))
  }

  /** Close the near-dup ingest loop on a COMPACTION cadence: rebuild the
    * serving shingle index over corpus ∪ admitted-segments, so the next
    * streaming run drops near-dups of documents admitted by previous
    * runs — without ever deduping against un-compacted admissions
    * (which would break [[nearDedupAgainstIndexSink]]'s determinism
    * contract by making output depend on micro-batch boundaries). The
    * nightly shape: stream against the FIXED index all day; compact;
    * the new generation serves tomorrow.
    *
    * `admittedDir` is the segment sink written by
    * [[nearDedupAgainstSink]]/[[nearDedupAgainstIndexSink]] (the
    * `batch=<id>` layout; the partition column is dropped here). The
    * index table is dropped and rebuilt — callers key `table` by corpus
    * generation (the `artifactTable` mtime idiom) when the corpus
    * itself can also change. */
  def compactNearDedupIndex(corpus: DataFrame, admittedDir: String,
      idCol: String, textCol: String, table: String,
      n: Int = 3, buckets: Int = 32): DataFrame = {
    import graft.operators.Contamination
    val spark = corpus.sparkSession
    // a day where the stream admitted nothing never creates the sink
    // dir — compact over the corpus alone instead of aborting the job
    val hp = new org.apache.hadoop.fs.Path(admittedDir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = corpus.select(col(idCol), col(textCol))
    val unioned =
      if (!fs.exists(hp)) docs
      else {
        // dedup the UNION, not just the admitted side: duplicate ids can
        // come from stale segments (a checkpoint-less rerun slicing the
        // same input into fewer batches leaves higher-id segments that
        // per-batch overwrite never replaces) OR from an admitted id
        // colliding with a corpus id — either way the doc would index
        // twice and every shared shingle would double-count in the
        // Jaccard, falsely dropping fresh documents. One row per id;
        // when the copies disagree on text the CORPUS copy wins
        // deterministically (priority 0 < 1) — for a decontamination
        // index the corpus is the authority, and a bare dropDuplicates
        // would let whichever partition ordered first silently replace
        // the corpus text with the admitted stream's.
        val admitted = spark.read.parquet(admittedDir)
          .select(col(idCol), col(textCol))
        docs.withColumn("__prio", lit(0))
          .unionByName(admitted.withColumn("__prio", lit(1)))
          .groupBy(col(idCol))
          // min_by, not a row_number window: hash agg partial-combines
          // map-side and needs no per-partition sort — same single
          // shuffle dropDuplicates would pay. Corpus ids are unique, so
          // the priority-0 row is unambiguous when present; ties among
          // admitted copies stay arbitrary, as before.
          .agg(min_by(col(textCol), col("__prio")).as(textCol))
      }
    // RECLAIM ([[graft.operators.Tombstones]]): documents deleted from
    // the serving index ([[graft.operators.Contamination.deleteDocs]])
    // are excluded from the rebuild — the promoted generation's files no
    // longer contain their shingles (physical erasure) — and the
    // consumed snapshot retires after the swap; deletes issued
    // mid-rebuild stay residual, still masked by shingleIndexFor's serve
    val tombFiles = graft.operators.Tombstones.snapshotFiles(spark, table)
    val reclaimed =
      if (tombFiles.isEmpty) unioned
      else unioned.join(
        broadcast(spark.read.parquet(tombFiles: _*)
          .select(col("id").as(idCol)).dropDuplicates(idCol)),
        Seq(idCol), "left_anti")
    // next generation built beside the live index (the compactIvfIndex
    // discipline): the live table keeps serving through the whole
    // shingle rebuild, the promote is metadata-only, and a failed build
    // never touched the serving generation
    val next = s"${table}__next"
    graft.sources.Sources.replaceTable(spark, next)
    graft.sources.Sources.replaceTable(spark, s"${next}_meta")
    try Contamination.shingleIndexFor(reclaimed, idCol, textCol, next, n, buckets)
    catch {
      case e: Throwable =>
        graft.sources.Sources.replaceTable(spark, next)
        graft.sources.Sources.replaceTable(spark, s"${next}_meta")
        throw e
    }
    graft.sources.Sources.promoteTable(spark, s"${next}_meta",
      s"${table}_meta")
    graft.sources.Sources.promoteTable(spark, next, table)
    graft.operators.Tombstones.retireConsumed(spark, table, tombFiles)
    spark.table(table)
  }

  /** Streaming ANN ingest — the live admission path for the IVF serving
    * artifact, composing [[graft.operators.Similarity.upsertIvfIndex]]'s
    * frozen-centroid contract with the idempotent segment sink: each
    * micro-batch of NEW embeddings is assigned map-side against the
    * artifact's centroids (loaded ONCE at query build — KBs, the
    * bounded-artifact contract) and lands as its own
    * `segDir/batch=<id>/cluster=<c>/` parquet segment. Overwrite by
    * batch id keeps replays idempotent — the reason this is NOT a bare
    * per-batch `upsertIvfIndex` (a replayed table append would
    * double-admit its rows); cluster partitioning inside every segment
    * keeps probe pruning effective across base + segments.
    *
    * Serve with [[graft.operators.Similarity.loadIvfIndexWithSegments]]
    * (base ∪ admitted segments, probes prune both); fold segments into
    * the base table on a compaction cadence with
    * [[graft.operators.Similarity.foldIvfSegments]] (a plain append —
    * the segments already carry the SAME frozen-centroid assignments),
    * and retrain drift away with `compactIvfIndex` on its own cadence —
    * the upsert-all-day / compact-nightly loop, streamed. */
  def ivfIngestSink(stream: DataFrame, table: String, vecCol: String,
      segDir: String,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val centroids = graft.operators.Similarity.loadIvfIndex(spark, table).centroids
    val v = col(vecCol)
    val assigned = stream.filter(v.isNotNull).withColumn("cluster",
      graft.functions.VectorExpressions.nearest_centroid_cos(v, centroids))
    // fail at SINK CONSTRUCTION if the assigned stream's shape doesn't
    // match the serving table: a mismatch admits green all day and only
    // explodes at serve (strict unionByName) or fold (append) time,
    // leaving segments that can be neither served nor folded
    val resolver = spark.sessionState.analyzer.resolver
    val want = spark.table(table).schema.fields
    val got = assigned.schema.fields
    require(want.length == got.length && want.forall(w =>
        got.exists(g => resolver(w.name, g.name) &&
          // catalogString carries no nullability markers — the
          // nullability-insensitive compare (sameType is private[sql])
          w.dataType.catalogString == g.dataType.catalogString)),
      s"ivfIngestSink stream shape ${assigned.schema.simpleString} does " +
        s"not match serving table '$table' " +
        s"${spark.table(table).schema.simpleString} — admitted segments " +
        "could be neither served (unionByName) nor folded (append)")
    segmentSink(assigned, segDir, checkpoint,
      write = (df, path) => df.write.mode("overwrite")
        .partitionBy("cluster").parquet(path), trigger = trigger)(identity)
  }

  /** Streaming ANN ingest for the PQ artifact — [[ivfIngestSink]]'s
    * discipline on the compressed-scan tier, completing the streaming
    * admission symmetry across every serving family: each micro-batch of
    * NEW embeddings is encoded map-side with the artifact's FROZEN
    * codebooks (loaded once at query build — KBs, the bounded-artifact
    * contract; the corpus is never re-encoded, the PQ-at-scale
    * invariant) and lands as its own plain `segDir/batch=<id>/` parquet
    * segment (the job-commit `_SUCCESS` is the completeness marker a
    * crashed write never leaves). Overwrite by batch id keeps replays
    * idempotent. Serve with
    * [[graft.operators.Similarity.loadPqIndexWithSegments]]; fold on
    * cadence with [[graft.operators.Similarity.foldPqSegments]]; codes
    * drift away on [[graft.operators.Similarity.compactPqIndex]]'s
    * retrain cadence — the upsert-all-day / compact-nightly loop,
    * streamed. */
  def pqIngestSink(stream: DataFrame, table: String, vecCol: String,
      segDir: String,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.VectorExpressions.{vec_l2_normalize, pq_encode}
    val spark = stream.sparkSession
    val codebooks =
      graft.operators.Similarity.loadPqIndex(spark, table).codebooks
    val v = col(vecCol)
    val encoded = stream.filter(v.isNotNull)
      .withColumn("pq_code", pq_encode(vec_l2_normalize(v), codebooks))
    // fail at SINK CONSTRUCTION if the encoded stream's shape doesn't
    // match the serving table (the ivfIngestSink contract)
    val resolver = spark.sessionState.analyzer.resolver
    val want = spark.table(table).schema.fields
    val got = encoded.schema.fields
    require(want.length == got.length && want.forall(w =>
        got.exists(g => resolver(w.name, g.name) &&
          w.dataType.catalogString == g.dataType.catalogString)),
      s"pqIngestSink stream shape ${encoded.schema.simpleString} does " +
        s"not match serving table '$table' " +
        s"${spark.table(table).schema.simpleString} — admitted segments " +
        "could be neither served (unionByName) nor folded (append)")
    segmentSink(encoded, segDir, checkpoint, trigger = trigger)(identity)
  }

  /** Streaming ingest for a persisted SKETCH CUBE
    * ([[graft.operators.Sketch.buildDistinctSketches]]'s layout): each
    * micro-batch AGGREGATES to its finest-group HLL sketch rows inside
    * `foreachBatch` — per trigger the shuffle moves fixed-size sketch
    * buffers for the batch's groups, never value sets — and lands as an
    * idempotent plain `segDir/batch=<id>/` segment (`_SUCCESS` as the
    * completeness marker). Serve with [[graft.operators.Sketch
    * .loadCubeWithSegments]] (the rollup merges base ∪ segment rows —
    * mergeability makes admission exact for row counts and in-band for
    * estimates); fold on cadence with [[graft.operators.Sketch
    * .foldSketchSegments]]; the row accumulation heals at
    * [[graft.operators.Sketch.compactDistinctCube]]. Nothing is
    * trained, so no drift cadence exists. Fails at sink construction if
    * the aggregated shape doesn't match the serving cube (the
    * pqIngestSink contract). */
  def sketchCubeIngestSink(stream: DataFrame, table: String,
      keys: Seq[String], valueCol: String, segDir: String, lgK: Int = 12,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val resolver = spark.sessionState.analyzer.resolver
    val want = spark.table(table).schema.fields
    // schema only — the aggregate plan over the stream never executes
    val got = graft.operators.Sketch
      .buildDistinctSketches(stream, keys, valueCol, lgK)
      .schema.fields
    require(want.length == got.length && want.forall(w =>
        got.exists(g => resolver(w.name, g.name) &&
          w.dataType.catalogString == g.dataType.catalogString)),
      s"sketchCubeIngestSink aggregated shape does not match serving " +
        s"cube '$table' — admitted segments could be neither served " +
        "(unionByName) nor folded (append)")
    segmentSink(stream, segDir, checkpoint, trigger = trigger)(batch =>
      graft.operators.Sketch.buildDistinctSketches(batch, keys, valueCol,
        lgK))
  }

  /** Streaming ANN ingest for the multi-projection LSH layout: each
    * micro-batch of NEW embeddings is hashed map-side with the
    * artifact's pinned (bits, tables, dims) — deterministic hyperplanes,
    * nothing trained, so segment content is IDENTICAL to what a rebuild
    * would assign — and lands as `segDir/batch=<id>/t<k>/bucket=<b>/`,
    * one bucket-partitioned subtree per hash table, written in
    * projection order with the LAST projection as the completeness
    * marker (a replay retracts it first, the bm25IngestSink stats-last
    * discipline). Probe pruning works inside segments exactly as in the
    * base layout. Serve with [[graft.operators.Similarity
    * .lshTopKServedWithSegments]]; fold on cadence with
    * [[graft.operators.Similarity.foldLshSegments]] (no retrain cadence
    * exists — nothing drifts; [[graft.operators.Similarity
    * .compactLshIndex]] stays pure file hygiene). */
  def lshIngestSink(stream: DataFrame, table: String, vecCol: String,
      segDir: String,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val (bits, tables, dims) =
      graft.operators.Similarity.lshMetaFor(spark, table)
    val resolver = spark.sessionState.analyzer.resolver
    require(stream.schema.fields.exists(f => resolver(f.name, vecCol)),
      s"lshIngestSink: stream has no '$vecCol' column " +
        s"(${stream.schema.simpleString})")
    // fail at SINK CONSTRUCTION if the hashed batch shape wouldn't match
    // the serving projections (stream columns + the bucket code)
    val want = spark.table(s"${table}_t0").schema.fields
    val got = stream.schema.fields :+ org.apache.spark.sql.types.StructField(
      "bucket", org.apache.spark.sql.types.LongType)
    require(want.length == got.length && want.forall(w =>
        got.exists(g => resolver(w.name, g.name) &&
          w.dataType.catalogString == g.dataType.catalogString)),
      s"lshIngestSink stream shape " +
        s"(${got.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")}) " +
        s"does not match serving projection '${table}_t0' " +
        s"${spark.table(s"${table}_t0").schema.simpleString} — admitted " +
        "segments could be neither served (unionByName) nor folded (append)")
    require(stream.isStreaming, "lshIngestSink needs a streaming frame")
    val w = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pinned = batch.persist()
        try {
          // empty micro-batches (source ticks) write no segment
          if (!pinned.isEmpty) {
            // a REPLAYED batch retracts its completeness marker (the
            // LAST projection's subtree) before rewriting: per-subtree
            // overwrite momentarily empties each t<k> dir, and the
            // marker must not present a half-rewritten segment as
            // complete to a concurrent serve/fold
            val marker = new org.apache.hadoop.fs.Path(
              s"$segDir/batch=$id/t${tables - 1}")
            val fs = marker.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fs.exists(marker)) fs.delete(marker, true)
            def writeTable(t: Int): Unit =
              pinned.withColumn("bucket", graft.operators.Similarity
                  .codeColumn(col(vecCol), dims, bits, t))
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(s"$segDir/batch=$id/t$t")
            // the per-table projections are INDEPENDENT jobs over the
            // same pinned batch writing disjoint subtrees — submit them
            // concurrently so each job's task tail back-fills the others
            // (guide §2.6), EXCEPT the last projection: it is the
            // segment-completeness marker and must land only after every
            // other subtree is fully written. Parts keep this thread's
            // local properties (the streaming job group: stop() cancels
            // them), and ALL are awaited before the first failure is
            // rethrown, so a replay never races a sibling still writing
            if (tables > 1) {
              val pool = java.util.concurrent.Executors.newFixedThreadPool(tables - 1)
              val session = pinned.sparkSession
                .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
              try (0 until tables - 1).map(t => org.apache.spark.sql.execution
                  .SQLExecution.withThreadLocalCaptured(session, pool)(writeTable(t)))
                .flatMap(f => scala.util.Try(f.join()).failed.toOption)
                .headOption.foreach(e => throw Option(e.getCause).getOrElse(e))
              finally pool.shutdown()
            }
            writeTable(tables - 1)
          }
        } finally pinned.unpersist()
      }
    startSink(spark, trigger.fold(w)(w.trigger), checkpoint, "ing")
  }

  /** Streaming SEARCH ingest — the BM25 artifact's live admission path,
    * completing the ingest symmetry across the three serving tiers
    * (near-dup, ANN, search). Each micro-batch of NEW documents runs the
    * per-doc postings aggregate OVER THE BATCH ONLY and lands as its own
    * `segDir/batch=<id>/` segment: `postings/` first, then the 1-row
    * `stats/` (n_docs, total_len) LAST as the segment-completeness
    * marker — a crash between the two leaves a torn segment that
    * serving/folding skip instead of silently skewing avg_len. Overwrite
    * by batch id keeps replays idempotent (the segment-sink contract).
    *
    * Unlike the ANN tiers there is NOTHING trained and nothing frozen:
    * postings are purely per-document and the corpus stats are
    * long-mergeable, so base ∪ segments is content-identical to a full
    * rebuild over base ∪ admitted docs — the streamed admission inherits
    * [[graft.operators.Search.upsertBm25Index]]'s exactness, and the
    * whole pipeline is STATELESS streaming (no watermark, no state
    * store; each doc must arrive exactly once — the caller owns
    * identity, as in every append path). Serve with
    * [[graft.operators.Search.loadBm25IndexWithSegments]]; fold segments
    * into the bucketed base on cadence with
    * [[graft.operators.Search.foldBm25Segments]] — a plain append + a
    * long-arithmetic stats merge; no retrain cadence exists because no
    * drift exists. */
  def bm25IngestSink(stream: DataFrame, table: String, idCol: String,
      attr: String, segDir: String,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val resolver = spark.sessionState.analyzer.resolver
    val idField = stream.schema.fields.find(f => resolver(f.name, idCol))
      .getOrElse(throw new IllegalArgumentException(
        s"bm25IngestSink: stream has no '$idCol' column " +
          s"(${stream.schema.simpleString})"))
    require(stream.schema.fields.exists(f => resolver(f.name, attr)),
      s"bm25IngestSink: stream has no '$attr' column " +
        s"(${stream.schema.simpleString})")
    // fail at SINK CONSTRUCTION if the batch postings shape wouldn't
    // match the serving table (the ivfIngestSink contract): a mismatch
    // admits green all day and only explodes at serve (unionByName) or
    // fold (append) time
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val got = Seq(StructField(idCol, idField.dataType),
      StructField("doclen", LongType), StructField("word", StringType),
      StructField("tf", LongType))
    val want = spark.table(table).schema.fields
    require(want.length == got.length && want.forall(w =>
        got.exists(g => resolver(w.name, g.name) &&
          w.dataType.catalogString == g.dataType.catalogString)),
      s"bm25IngestSink batch postings shape " +
        s"(${got.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")}) " +
        s"does not match serving table '$table' " +
        s"${spark.table(table).schema.simpleString} — admitted segments " +
        "could be neither served (unionByName) nor folded (append)")
    require(stream.isStreaming, "bm25IngestSink needs a streaming frame")
    val w = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pinned = batch.persist()
        try {
          // empty micro-batches (source ticks) write no segment
          if (!pinned.isEmpty) {
            // a REPLAYED batch (crash after both writes, before the
            // checkpoint commit) must first RETRACT its stale completion
            // marker — overwriting postings/ while the old stats/ still
            // stands would present a half-rewritten segment as complete
            // to a concurrent serve/fold; with the marker gone the
            // stats-last ordering holds on replay exactly as on first
            // write
            val marker = new org.apache.hadoop.fs.Path(
              s"$segDir/batch=$id/stats")
            val fs = marker.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fs.exists(marker)) fs.delete(marker, true)
            val d = graft.operators.Search.buildBm25Index(pinned, idCol, attr)
            d.postings.write.mode("overwrite")
              .parquet(s"$segDir/batch=$id/postings")
            import spark.implicits._
            // stats LAST — the completion marker serving/folding key on
            Seq((d.nDocs, d.totalLen)).toDF("n_docs", "total_len")
              .write.mode("overwrite").parquet(s"$segDir/batch=$id/stats")
          }
        } finally pinned.unpersist()
      }
    startSink(spark, trigger.fold(w)(w.trigger), checkpoint, "ing")
  }

  /** Shared idempotent-segment `foreachBatch` sink: `survivors(batch)`
    * writes to `outDir/batch=<id>` (overwrite — a replayed batch
    * rewrites its own segment, the lakehouse ingest contract shared with
    * [[zOrderedSink]]). The micro-batch is persisted across the sink's
    * passes (emptiness probe + the survivors plan re-reads it).
    * ERASE-MARKER contract: every non-empty batch consults
    * [[graft.operators.Layout.requireNotUnderErase]] at commit time —
    * a segment landing inside a partition subtree under a live corpus
    * erase fails the micro-batch LOUDLY (checkpoint replays it after
    * the erase) instead of being silently replaced by the erase's
    * overwrite commit. Path-depth-bounded metadata probes per batch,
    * no data read. */
  private def segmentSink(stream: DataFrame, outDir: String,
      checkpoint: Option[String],
      write: (DataFrame, String) => Unit =
        (df, path) => df.write.mode("overwrite").parquet(path),
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      (transform: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, "segmentSink needs a streaming frame")
    val w = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pinned = batch.persist()
        try {
          // empty micro-batches (source ticks) write no segment
          if (!pinned.isEmpty) {
            graft.operators.Layout.requireNotUnderErase(
              batch.sparkSession, outDir)
            write(transform(pinned), s"$outDir/batch=$id")
          }
        } finally pinned.unpersist()
      }
    startSink(stream.sparkSession, trigger.fold(w)(w.trigger), checkpoint, "seg")
  }

  /** Streaming APPROXIMATE DISTINCT per event-time window: per-window
    * HLL++ cardinality of `itemCol` — the estimator whose whole point is
    * streaming, because exact `count_distinct` is UNSUPPORTED on
    * streams (it would need unbounded per-group value sets in the state
    * store; Spark rejects the plan). The HLL buffer is KBs per (window,
    * key) group regardless of cardinality, partial-aggregates map-side,
    * and the state store carries registers, never values. Deterministic:
    * HLL++ is hash-based, so the estimate is layout- and
    * arrival-order-free. Output: one row per (window, group keys...,
    * approx_nd). In a long-lived append-mode query rows emit on
    * watermark close; with [[runToBatch]] use `mode = "complete"` (the
    * q_stream_tumbling pattern) or pass `watermarkFlush = true` —
    * append without the flush disables the no-data batch that would
    * emit closed windows, and a to-completion run returns NOTHING. */
  def approxDistinctStream(events: DataFrame, itemCol: String,
      groupCols: Seq[String], tsCol: String = "ts",
      window: String = "1 hour", delay: String = "1 hour",
      rsd: Double = 0.05): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window) +:
        groupCols.map(col): _*)
      .agg(approx_count_distinct(col(itemCol), rsd).as("approx_nd"))

  /** Streaming QUANTILE SKETCHES per event-time window: per-window KLL
    * sketches of `valueCol` — the percentile-latency/size report shape.
    * Exact per-window percentiles would hold every value in the state
    * store; the KLL buffer is O(k) per (window, key) with the
    * ~1.65%-at-k=200 normalized rank-error guarantee, and the emitted
    * column is the SKETCH itself (`qsketch`, plus `n_rows`), so
    * downstream can extract any quantile —
    * `kll_sketch_get_quantile_double` — or keep merging across
    * windows/keys via
    * [[graft.operators.Sketch.rollupQuantileSketchesDouble]] (the
    * DOUBLE-typed merge; the bigint variant throws on a doubles
    * sketch). Same [[runToBatch]] caveat as [[approxDistinctStream]]:
    * complete mode, or append with `watermarkFlush = true`. */
  def quantilesStream(events: DataFrame, valueCol: String,
      groupCols: Seq[String], tsCol: String = "ts",
      window: String = "1 hour", delay: String = "1 hour",
      k: Int = 200): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window) +:
        groupCols.map(col): _*)
      // count(valueCol), not count(*): the sketch skips NULLs and
      // n_rows is the rank denominator (see Sketch.buildQuantileSketches)
      .agg(kll_sketch_agg_double(col(valueCol), lit(k)).as("qsketch"),
        count(col(valueCol)).as("n_rows"))

  /** Streaming HEAVY HITTERS per event-time window — the Misra-Gries
    * sketch ([[graft.operators.Sketch.heavyHitters]]'s merge-safe
    * `Aggregator`) run as a watermarked tumbling-window aggregation:
    * "what dominated this column in each window" with O(k) state per
    * (window, partial) instead of per-distinct-value counts. The same
    * guarantee transfers per window: every value with in-window
    * frequency > N_w/(k+1) surfaces; `est_count` is an underestimate
    * within N_w/(k+1). Output: one row per (window_start, window_end,
    * item, est_count), emitted when the watermark closes the window.
    *
    * Scale shape: the UDAF partial-aggregates map-side like any Spark
    * aggregation — the shuffle and the state store carry k-entry maps
    * keyed by window, never distinct-value sets; an unbounded-cardinality
    * column streams through a fixed memory budget. */
  def heavyHittersStream(events: DataFrame, itemCol: String, tsCol: String,
      k: Int, windowSize: String = "1 hour",
      delay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowSize))
      .agg(graft.functions.Aggregators.heavy_hitters(col(itemCol), k)
        .as("__hh"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        explode(col("__hh")).as(Seq("item", "est_count")))

  /** Stream-static enrichment join: decorate a stream with dimension
    * attributes (the classic "events × user table" lookup). The static
    * side broadcasts per micro-batch — no stream-side shuffle, no state
    * store (unlike stream-stream joins, a static side needs no watermark
    * bookkeeping). At pipeline scale the dimension is re-read each batch,
    * so point `dim` at a broadcast-sized table or a pre-filtered
    * projection; Spark re-resolves it every micro-batch, which is also
    * what makes slowly-changing dimensions pick up updates for free. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      joinKeys: Seq[(String, String)], dimCols: Seq[String],
      joinType: String = "left"): DataFrame = {
    require(joinKeys.nonEmpty, "enrichWithStatic needs join keys")
    val dimSide = broadcast(
      dim.select((joinKeys.map(_._2) ++ dimCols).distinct.map(col): _*))
    val cond = joinKeys.map { case (l, r) => stream(l) === dimSide(r) }
      .reduce(_ && _)
    stream.join(dimSide, cond, joinType)
      .select(stream.columns.map(stream(_)) ++ dimCols.map(dimSide(_)): _*)
  }

  /** Stream-stream INTERVAL join — the streaming analog of the batch
    * range/as-of join: left row `l` pairs with right rows `r` that share
    * the key and satisfy `l.ts + lower <= r.ts <= l.ts + upper`
    * (inclusive bounds; e.g. purchases within 10 minutes after a click).
    *
    * BOTH sides carry watermarks and the time bound is part of the join
    * condition — together they let Spark derive exactly how long each
    * side's buffered rows can still match and EVICT state past that
    * horizon. That eviction is what keeps the two state stores finite at
    * pipeline ingest rates; a stream-stream join without a time bound
    * must buffer a side forever. Inner matches emit as they are found
    * (append mode).
    *
    * Column names of the two inputs must be disjoint (project/rename
    * before joining — the output carries both sides' columns). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keys: (String, String), tsCols: (String, String),
      lower: String, upper: String, delay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(tsCols._1, delay)
    val r = right.withWatermark(tsCols._2, delay)
    val cond = l(keys._1) === r(keys._2) &&
      r(tsCols._2) >= l(tsCols._1) + expr(s"INTERVAL $lower") &&
      r(tsCols._2) <= l(tsCols._1) + expr(s"INTERVAL $upper")
    l.join(r, cond, "inner")
  }

  /** Session windows (gap-based) per user — batch flavor of the same
    * `session_window` operator used under streaming. */
  def sessionWindows(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))

  /** Z-ordered streaming sink: every micro-batch lands as its OWN
    * z-ordered parquet segment (`<dir>/batch=<id>/`) via
    * [[graft.operators.Layout.writeZOrdered]] inside `foreachBatch` —
    * ingestion produces a skip-friendly layout immediately instead of
    * deferring all clustering to an offline rewrite. Segment dirs are
    * keyed by batch id and written with overwrite, so a replayed batch
    * (post-failure recovery) lands idempotently on its own directory —
    * the foreachBatch exactly-once recipe. Per-batch stats are batch-
    * local by construction; periodic [[graft.operators.Layout.compact]]
    * (zOrderCols mode) merges accreted segments into table-wide
    * clustering — the standard ingest-then-compact lakehouse cadence.
    *
    * Reading the sink ROOT partition-discovers the `batch=<id>` dirs as
    * an extra int `batch` column (deliberate hive-style naming: the
    * root reads as one table and the column is segment provenance) —
    * anything that must preserve the stream's own schema, compaction
    * included, should drop it or read `<dir>/batch=*` directly.
    *
    * The micro-batch is persisted across the sink's passes (emptiness
    * probe, zValue stats aggregate, optional string-dict collect, the
    * write) — foreachBatch re-executes the batch plan from the source
    * for every action otherwise. Pass a durable `checkpoint` for
    * anything longer-lived than a test. */
  def zOrderedSink(stream: DataFrame, dir: String, zCols: Seq[String],
      filesPerBatch: Int = 4,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    segmentSink(stream, dir, checkpoint,
      write = (df, path) =>
        graft.operators.Layout.writeZOrdered(df, path, zCols, filesPerBatch)
    )(identity)
}
