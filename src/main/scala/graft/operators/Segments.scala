package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructField

/** The streaming SEGMENT format — the one owner of the `batch=<id>`
  * layout that every ingest sink writes and every segment serve and
  * fold reads (the idempotent per-batch `foreachBatch` sink of
  * Structured Streaming, Armbrust et al., SIGMOD 2018).
  *
  *  - LAYOUT: micro-batch `id` lands under `segDir/batch=<id>/` as one
  *    or more PARTS, each a parquet dir relative to the batch dir; the
  *    part `""` is the batch dir itself. IVF, PQ, the sketch cube,
  *    curation, near-dup and z-order write that one part; BM25 writes
  *    `postings` then `stats`; LSH writes `t0` … `t(T-1)`.
  *  - MARKER: the LAST part is the completeness marker. The other parts
  *    are written first (concurrently, every one awaited before the
  *    first failure is rethrown), the marker only after all of them.
  *  - COMPLETENESS: a segment is complete when its marker part holds
  *    the job-commit `_SUCCESS`. Files move in before `_SUCCESS` is
  *    written, so a crashed or still-running commit never counts; nor
  *    does a segment whose marker part was never written.
  *  - REPLAY: a replayed batch id rewrites its own segment with
  *    overwrite. It first RETRACTS a marker part below the batch dir,
  *    so a half-rewritten segment never presents as complete; a marker
  *    that is the batch dir itself is removed by its own overwrite.
  *  - FENCE: every non-empty batch checks
  *    [[Layout.requireNotUnderErase]] on `segDir` before it writes: a
  *    segment landing under a live corpus erase fails the micro-batch
  *    loudly (the checkpoint replays it after the erase) instead of
  *    being silently replaced by the erase's overwrite commit.
  *  - LEDGER: a fold lists the complete segments, skips the ledgered
  *    ones, appends the rest into the base, commits the ledger as every
  *    listed dir, then deletes exactly the listed dirs (never the root:
  *    a batch committed meanwhile must survive). Serves skip ledgered
  *    segments too, so a crash between the ledger commit and the
  *    deletes neither double-serves nor double-folds; a crash between
  *    the append and the ledger commit re-appends on retry, exact
  *    duplicates under the caller's id discipline as in every append
  *    path. The ANN and sketch artifacts keep the ledger in the sibling
  *    table `<table>_folded` (reset by the artifact's save); BM25 keeps
  *    it in its stats row, committed with the merged stats. */
private[graft] object Segments {

  /** One part of a batch's segment: its path relative to the batch dir
    * (`""` = the batch dir) and the write that lands it at a path. */
  type Part = (String, String => Unit)

  /** The segment dir of micro-batch `id`. */
  def dir(segDir: String, id: Long): String = s"$segDir/batch=$id"

  /** The `foreachBatch` writer of a segment sink: per non-empty batch,
    * persist → fence → retract the marker → `parts(batch)` but the last,
    * concurrently → the marker part → unpersist. */
  def writer(stream: DataFrame, segDir: String)(
      parts: DataFrame => Seq[Part]): DataStreamWriter[Row] = {
    require(stream.isStreaming, "a segment sink needs a streaming frame")
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pinned = batch.persist()
        try {
          // empty micro-batches (source ticks) write no segment
          if (!pinned.isEmpty) {
            val spark = pinned.sparkSession
            Layout.requireNotUnderErase(spark, segDir)
            val seg = dir(segDir, id)
            def at(part: String) = if (part.isEmpty) seg else s"$seg/$part"
            val ps = parts(pinned)
            val (marker, writeMarker) = ps.last
            if (marker.nonEmpty) {
              val m = new Path(at(marker))
              m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, true)
            }
            writeAll(spark, ps.init.map { case (p, write) => () => write(at(p)) })
            writeMarker(at(marker))
          }
        } finally pinned.unpersist()
      }
  }

  /** Run `writes` concurrently — independent jobs over the same pinned
    * batch, so each job's task tail back-fills the others — on a
    * per-batch pool that carries this thread's local properties (the
    * streaming job group: stop() cancels them). ALL are awaited before
    * the first failure is rethrown, so the marker never follows a failed
    * part and no sibling is still writing when the batch fails. */
  private def writeAll(spark: SparkSession, writes: Seq[() => Unit]): Unit =
    if (writes.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      try writes.map(w => org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, pool)(w()))
        .flatMap(f => scala.util.Try(f.join()).failed.toOption)
        .headOption.foreach(e => throw Option(e.getCause).getOrElse(e))
      finally pool.shutdown()
    }

  /** Fail at SINK CONSTRUCTION unless `got` has exactly `table`'s
    * columns, by name (the session's resolver) and type (nullability
    * aside): a mismatch admits green all day and only explodes at serve
    * (unionByName) or fold (append) time, leaving segments that can be
    * neither served nor folded. */
  def requireShape(spark: SparkSession, sink: String, got: Seq[StructField],
      table: String): Unit = {
    val resolver = spark.sessionState.analyzer.resolver
    val want = spark.table(table).schema
    require(want.length == got.length && want.forall(w =>
        got.exists(g => resolver(w.name, g.name) &&
          // catalogString carries no nullability markers (sameType is
          // private[sql])
          w.dataType.catalogString == g.dataType.catalogString)),
      s"$sink stream shape " +
        s"(${got.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")}) " +
        s"does not match serving table '$table' ${want.simpleString} — " +
        "admitted segments could be neither served (unionByName) nor " +
        "folded (append)")
  }

  /** Every `batch=<id>` dir under `segDir`, complete or not; Nil for a
    * missing dir. The one parse of the layout's dir names. */
  def batches(spark: SparkSession, segDir: String): Seq[Path] = {
    val root = new Path(segDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath)
  }

  /** The complete segments under `segDir` whose `marker` part holds
    * `_SUCCESS`. An empty or missing `segDir` (the subscribe-before-data
    * shape) yields Nil, so serves degrade to the base. */
  private def complete(spark: SparkSession, segDir: String,
      marker: String): Seq[Path] = {
    val fs = new Path(segDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    batches(spark, segDir).filter(d => fs.exists(
      new Path(if (marker.isEmpty) d else new Path(d, marker), "_SUCCESS")))
  }

  private def unledgered(present: Seq[Path], ledger: => Set[String]): Seq[Path] =
    if (present.isEmpty) Nil
    else { val done = ledger; present.filterNot(d => done(d.getName)) }

  /** The complete, unledgered segments — what a serve adds to the base.
    * `ledger` is read only when a complete segment exists. */
  def pending(spark: SparkSession, segDir: String, marker: String)(
      ledger: => Set[String]): Seq[Path] =
    unledgered(complete(spark, segDir, marker), ledger)

  /** [[pending]] against `table`'s `<table>_folded` ledger. */
  def pendingFor(spark: SparkSession, table: String, segDir: String,
      marker: String = ""): Seq[Path] =
    pending(spark, segDir, marker)(folded(spark, table))

  /** The rows of the one-part segments `dirs` under `segDir`, without
    * the `batch` column partition discovery adds. */
  def read(spark: SparkSession, segDir: String, dirs: Seq[Path]): DataFrame =
    spark.read.option("basePath", segDir)
      .parquet(dirs.map(_.toString): _*).drop("batch")

  /** The ledgered fold (see the object doc): `append` the unledgered
    * complete segments, `commit` its result with the names of every
    * listed segment, delete the listed dirs. No-op on an empty or
    * missing `segDir`. */
  def fold[T](spark: SparkSession, segDir: String, marker: String,
      ledger: => Set[String])(append: Seq[Path] => T)(
      commit: (T, Seq[String]) => Unit): Unit = {
    val present = complete(spark, segDir, marker)
    val todo = unledgered(present, ledger)
    if (todo.nonEmpty) commit(append(todo), present.map(_.getName))
    val fs = new Path(segDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    present.foreach(fs.delete(_, true))
  }

  /** [[fold]] against `table`'s `<table>_folded` ledger. */
  def foldInto(spark: SparkSession, table: String, segDir: String,
      marker: String = "")(append: Seq[Path] => Unit): Unit =
    fold(spark, segDir, marker, folded(spark, table))(append)(
      (_, present) => writeLedger(spark, table, present))

  /** `<table>_folded`'s segment names; a missing table is empty (the
    * freshly-built and pre-ledger shapes). */
  private def folded(spark: SparkSession, table: String): Set[String] =
    if (!spark.catalog.tableExists(s"${table}_folded")) Set.empty
    else spark.table(s"${table}_folded").collect().map(_.getString(0)).toSet

  /** Commit `<table>_folded` = exactly `present` (ids of deleted dirs
    * prune away). */
  private def writeLedger(spark: SparkSession, table: String,
      present: Seq[String]): Unit = {
    import spark.implicits._
    graft.sources.Sources.replaceTable(spark, s"${table}_folded")
    present.toDF("batch")
      .write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark,
        s"${table}_folded"))
      .saveAsTable(s"${table}_folded")
  }
}
