package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TOMBSTONE layer shared by every serving-artifact family — the
  * takedown/right-to-be-forgotten primitive a training-data pipeline
  * needs at 100 TB (opt-out requests, license revocations, PII
  * erasure): deleting a document from a multi-TB artifact must not
  * rewrite the artifact.
  *
  * The deletion lifecycle, mirroring the append story's three tiers:
  *  - DELETE is O(delta): the requested ids append into the artifact's
  *    `<table>_deleted` sibling — one small-table commit, the base
  *    files stay byte-immutable (the same invariant every upsert path
  *    pins). Re-deleting an id is harmless: the serve-side anti-join
  *    ignores duplicate keys, and the stats correction deduplicates.
  *  - SERVE-time masking is a broadcast anti-join: tombstone sets are
  *    tiny relative to the corpus (takedowns are requests, not
  *    ingest), so the filter is map-side against every serve path —
  *    base, upserted deltas, and streaming segments alike — and rows
  *    disappear from results the moment the delete commits.
  *  - PHYSICAL erasure rides the compaction cadence for free: each
  *    family's staged-generation rewrite filters the tombstones it
  *    snapshot at build entry, so the promoted generation's files no
  *    longer CONTAIN the deleted rows (the GDPR requirement masking
  *    alone never meets), and the consumed tombstones leave the
  *    sibling at the promote. Tombstones admitted mid-build stay in
  *    the residual set — still masked at serve, reclaimed by the next
  *    cadence. The snapshot, the consumed list and the retire order
  *    are [[Generations]]' contract.
  *
  * The tombstone table's single data column keeps the ID COLUMN NAME
  * the caller deleted with, which must be the name the artifact stores
  * (`vec_id`, `doc_id`, ...) — the serve-side anti-join keys on it.
  * Callers own id semantics exactly as on upsert: ids should name
  * admitted documents. Segment-resident targets (admitted by a
  * streaming sink, not yet folded) mask correctly everywhere; BM25's
  * stats correction captures their exact doclen too when the delete is
  * issued with `segDir` ([[graft.operators.Search.deleteBm25Docs]]).
  *
  * No reference analogue: littletable's `remove`/`remove_many`
  * (littletable.py:1215-1262) delete from an in-memory list; a
  * serving-artifact deletion tier only exists at scale. */
private[graft] object Tombstones {

  /** The artifact's tombstone sibling table name. */
  def tableOf(artifact: String): String = s"${artifact}_deleted"

  /** The tombstone frame, or None when the artifact has no tombstone
    * sibling — the fast path stays filter-free. Existence alone
    * decides (a catalog lookup, never a Spark job on the serve path):
    * [[append]] skips empty row sets and [[retainResidual]] drops the
    * sibling when nothing remains, so an existing table means live
    * tombstones.
    *
    * CROSS-SESSION coherent: the sibling's generation stamp (its
    * data-file path set — one driver-side listing of a tiny table) is
    * tracked per session, and a moved stamp refreshes this session's
    * cached relation before the read — a delete committed by ANOTHER
    * session (an appended file the cached listing would silently miss)
    * masks here from this session's next serve call, no restart. */
  def read(spark: SparkSession, artifact: String): Option[DataFrame] = {
    val t = tableOf(artifact)
    if (!spark.catalog.tableExists(t)) None
    else {
      val stamp = graft.sources.Sources.tableStamp(spark, t)
      val seen = seenFor(spark)
      if (!seen.get(t).contains(stamp)) {
        spark.catalog.refreshTable(t)
        seen.put(t, stamp)
      }
      Some(spark.table(t))
    }
  }

  // per-session last-seen sibling stamps (weak session key — the
  // Similarity.SessionCaches idiom; values are tiny strings)
  private val seenStamps = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, String]]()
  private def seenFor(spark: SparkSession) = seenStamps.synchronized {
    var c = seenStamps.get(spark)
    if (c == null) {
      c = scala.collection.concurrent.TrieMap.empty[String, String]
      seenStamps.put(spark, c)
    }
    c
  }

  /** Append tombstone rows (first column = the artifact's id column,
    * named accordingly). Creates the sibling on first delete; skips
    * empty row sets (one tiny job at DELETE time — a re-delete or an
    * empty request must not create/grow the sibling, whose existence
    * puts the mask into every serve plan). One table commit — the
    * delete's atomicity point. */
  def append(spark: SparkSession, artifact: String, rows: DataFrame): Unit = {
    val t = tableOf(artifact)
    if (rows.isEmpty) return
    if (spark.catalog.tableExists(t))
      rows.write.mode("append").format("parquet").saveAsTable(t)
    else {
      // clear cross-JVM directory debris before the create (the
      // saveIvfIndex idiom): a session whose catalog predates this
      // artifact rebuilds the WHOLE artifact-plus-tombstones state, so
      // a leftover sibling dir is a previous generation, not live data
      graft.sources.Sources.replaceTable(spark, t)
      rows.write.format("parquet")
        .options(graft.sources.Sources.stagedWriteOptions(spark, t))
        .saveAsTable(t)
    }
  }

  /** Mask `df` against the artifact's tombstones: a broadcast LEFT
    * ANTI join on the tombstone set's own id column. A re-deleted id
    * needs no dedup (an anti join ignores duplicate build keys), so the
    * mask adds only the broadcast's scan to the plan — no exchange.
    * Identity when no tombstones exist, so undeleted artifacts keep
    * their exact previous plans. */
  def mask(spark: SparkSession, artifact: String, df: DataFrame): DataFrame =
    read(spark, artifact).map(antiJoin(df, _)).getOrElse(df)

  private def antiJoin(df: DataFrame, tomb: DataFrame): DataFrame = {
    val id = tomb.columns.head
    df.join(broadcast(tomb.select(col(id))), Seq(id), "left_anti")
  }

  /** The tombstone sibling's data files at this instant — the reclaim
    * SNAPSHOT a staged build records in its basis: the rewrite filters
    * exactly these ids, the promote retires exactly these files, and
    * deletes issued mid-build (files not in the snapshot) stay residual
    * — still masked at serve, reclaimed next cadence. */
  def snapshotFiles(spark: SparkSession, artifact: String): Seq[String] =
    if (!spark.catalog.tableExists(tableOf(artifact))) Nil
    else graft.sources.Sources.tableDataFiles(spark, tableOf(artifact))

  /** Mask `df` against a pinned tombstone-file snapshot (rather than
    * the live sibling, whose content a mid-build delete can grow) —
    * the staged-rewrite flavor of [[mask]]. */
  def maskByFiles(spark: SparkSession, df: DataFrame,
      files: Seq[String]): DataFrame =
    if (files.isEmpty) df else antiJoin(df, spark.read.parquet(files: _*))

  /** Retire the snapshot a reclaiming promote consumed: keep only the
    * sibling's files NOT in `consumed`. A post-swap step of
    * [[Generations.promote]], whose basis keeps `consumed` until it ran
    * (a rerun after a crash retires them then). */
  def retireConsumed(spark: SparkSession, artifact: String,
      consumed: Seq[String]): Unit =
    if (consumed.nonEmpty) {
      val consumedSet = consumed.toSet
      val residual = snapshotFiles(spark, artifact)
        .filterNot(consumedSet.contains)
      retainResidual(spark, artifact, residual)
    }

  /** Rewrite the artifact's tombstone sibling to exactly the rows in
    * `residualFiles` (the files a reclaiming promote did NOT consume) —
    * dropped entirely when none remain, restoring the filter-free
    * serve path. Runs AFTER the generation swap: a crash that skips it
    * leaves consumed entries masking rows that are already physically
    * gone — a no-op at serve, healed by the next reclaim. */
  def retainResidual(spark: SparkSession, artifact: String,
      residualFiles: Seq[String]): Unit = {
    val t = tableOf(artifact)
    if (!spark.catalog.tableExists(t)) return
    if (residualFiles.isEmpty) graft.sources.Sources.replaceTable(spark, t)
    else {
      // staged rewrite + metadata promote (never read-and-overwrite in
      // place: the residual files live under the table's own directory)
      val next = s"${t}__next"
      graft.sources.Sources.replaceTable(spark, next)
      spark.read.parquet(residualFiles: _*)
        .write.format("parquet")
        .options(graft.sources.Sources.stagedWriteOptions(spark, next))
        .saveAsTable(next)
      graft.sources.Sources.promoteTable(spark, next, t)
    }
  }
}
