package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GTable

/** Typed row for the `Dataset[T]` query path (reference `Table[T]` with a
  * row_class, littletable.py:1480-1493 → case-class Encoder). */
case class LineitemSlim(l_orderkey: Long, l_quantity: Double, l_returnflag: String)

/** What gates of several families share: the parquet table readers,
  * the serving-artifact warehouse names, and the oracle SQL more than
  * one family's gates are checked against. */
private[gates] object Fixtures {

  def t(s: SparkSession, dir: String, name: String): GTable =
    GTable(s.read.parquet(s"$dir/$name.parquet"), name)

  /** Warehouse table name for a persisted serving artifact built from
    * `$dir/$source.parquet`: the source file's mtime is folded in, so a
    * driver-regenerated corpus (the r7 events precedent — same path, new
    * bytes) can never serve a stale index against an oracle computed on
    * the CURRENT data. The warehouse survives JVMs AND testdata
    * regenerations; path-only keying is a delayed-action hash mismatch.
    *
    * SUPERSEDED generations are pruned on naming: any warehouse entry
    * sharing this artifact's `<prefix><dir>_m` base but carrying a
    * different mtime (including its `_meta`/`_stats`/`_t<k>`/… side
    * tables, which embed the same base) is dropped from the catalog and
    * deleted — without this, every regeneration would orphan a full
    * index generation on disk forever. */
  def artifactTable(s: SparkSession, prefix: String, dir: String,
      source: String): String = {
    val mtime = new java.io.File(s"$dir/$source.parquet").lastModified
    val base = (prefix + dir).replaceAll("[^A-Za-z0-9]+", "_")
    val name = base + "_m" + mtime
    // boundary-anchored membership: `n` belongs to a family iff it IS
    // the family name or extends it across a `_` boundary. A bare
    // startsWith would (a) let a sibling data dir whose sanitized name
    // extends this one (sf0_1 vs sf0_1b) get its LIVE artifacts pruned
    // by runs at the shorter dir, and (b) protect a stale generation
    // whose mtime digit-extends the current one (_m123 vs _m1234)
    def inFamily(n: String, fam: String): Boolean =
      n == fam || n.startsWith(fam + "_")
    // Hadoop FS, not java.io.File: a non-local warehouse (hdfs://,
    // s3a://) would make File.listFiles() return null and silently
    // skip pruning forever (Sources.replaceTable uses the same API)
    val warehouse = s.conf.get("spark.sql.warehouse.dir")
    val wPath = new org.apache.hadoop.fs.Path(warehouse)
    val fs = wPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries =
      if (fs.exists(wPath)) fs.listStatus(wPath).map(_.getPath.getName)
      else Array.empty[String]
    entries
      .filter(n => inFamily(n, base) && !inFamily(n, name))
      .foreach(n => graft.sources.Sources.replaceTable(s, n))
    name
  }

  /** Fixed (per-SF-dir) warehouse name + source fingerprint for the
    * `*IndexFor` build-once gates — the LIBRARY-level staleness
    * mechanism (round 12): the helper itself rebuilds when the stamped
    * fingerprint of `$dir/$source.parquet` changes, so these gates no
    * longer need mtime-keyed NAMES, and a driver-regenerated corpus
    * rebuilds IN PLACE instead of orphaning a generation per mtime.
    * One-time hygiene: this family's pre-round-12 mtime-keyed
    * `<base>_m<digits>…` generations (and their side tables) are pruned
    * from the warehouse. The `onceUpserted` gates stay on
    * [[artifactTable]]: their build is a multi-step admission sequence
    * the marker table keys by generation name. */
  def fingerprintedArtifact(s: SparkSession, prefix: String,
      dir: String, source: String): (String, String) = {
    val base = (prefix + dir).replaceAll("[^A-Za-z0-9]+", "_")
    // the legacy-generation prune is one-time hygiene — run it once per
    // (session, family), not on every serving call (a warehouse listing
    // per gate per bench run is measurable)
    if (prunedFamilies.add(base)) {
      val warehouse = s.conf.get("spark.sql.warehouse.dir")
      val wPath = new org.apache.hadoop.fs.Path(warehouse)
      val fs = wPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val mkeyed = ("^" + java.util.regex.Pattern.quote(base) + "_m\\d+(_.*)?$").r
      if (fs.exists(wPath))
        fs.listStatus(wPath).map(_.getPath.getName)
          .filter(n => mkeyed.matches(n))
          .foreach(n => graft.sources.Sources.replaceTable(s, n))
    }
    (base, graft.sources.Sources.pathFingerprint(s, s"$dir/$source.parquet"))
  }

  private val prunedFamilies =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The events table's `ts` encoding varies by writer — TIMESTAMP(NANOS)
    * (readable only as long under the legacy conf), timestamp[us]
    * (TIMESTAMP_NTZ), or TIMESTAMP. Normalize whatever arrives to a
    * canonical µs TimestampType; see [[graft.sources.EventTime]]. */
  def events(s: SparkSession, dir: String): GTable = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    GTable(graft.sources.EventTime.normalizeTs(raw), "events")
  }

  /** Shared KLL rank gate (q_quantile_rollup / q_stream_quantiles): for
    * each group, the served p50/p90's rank error — |count(value ≤ q̂) −
    * q·n| — must be ≤ max(0.05·n, 1 rank) and the sketch's `n_rows`
    * must equal the data-side count; survivors emit (keys..., n_rows).
    * The absolute one-rank floor is integer granularity, not slack: a
    * 5-row group's attainable p90 ranks are 4/5 and 5/5, both ≥ 0.1
    * from 0.9 — no estimator can beat the nearest attainable rank.
    * `served` carries (keys..., __q50, __q90, n_rows). The denominator
    * is `count(value)` — NON-NULL values — matching the build side's
    * n_rows discipline (the sketch skips NULLs; counting NULL rows
    * would both fail row conservation and skew every q·n target). */
  def kllRankGate(data: DataFrame, value: Column,
      served: DataFrame, keys: Seq[String]): DataFrame = {
    val checked = data.join(broadcast(served), keys)
      .groupBy(keys.map(col) :+ col("n_rows"): _*)
      .agg(count(value).as("__n"),
        sum(when(value <= col("__q50"), 1L).otherwise(0L)).as("__r50"),
        sum(when(value <= col("__q90"), 1L).otherwise(0L)).as("__r90"))
    def rankOk(r: Column, q: Double): Column =
      abs(r.cast("double") - lit(q) * col("__n")) <=
        greatest(lit(0.05) * col("__n"), lit(1.0))
    checked
      .filter(col("n_rows") === col("__n") &&
        rankOk(col("__r50"), 0.5) && rankOk(col("__r90"), 0.9))
      .select(keys.map(col) :+ col("__n").as("n_rows"): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Build-and-upsert ONCE per artifact generation for the `_upsert`
    * gates: the `<table>_upserted` marker records a completed
    * base-build + delta-append for the mtime-keyed generation, so later
    * runs serve directly — the real cadence (a delta is admitted once,
    * then served many times), and the reason re-appending on every
    * query would be wrong anyway (upsert is append-only: a second
    * admission double-counts). Crash-safe: the marker is written LAST,
    * and every builder starts with replaceTable, so a half-applied
    * generation can never serve — the next run rebuilds it whole. */
  def onceUpserted(s: SparkSession, table: String)(
      buildAndUpsert: => Unit): Unit = {
    import s.implicits._
    val marker = s"${table}_upserted"
    if (!s.catalog.tableExists(marker)) {
      buildAndUpsert
      graft.sources.Sources.replaceTable(s, marker)
      Seq(1).toDF("done").write.mode("overwrite").saveAsTable(marker)
    }
  }

  def ioDir(dir: String): String =
    s"/tmp/graft_io/${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  private val bm25WithoutTemplate: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents WHERE __SURVIVORS__
      |), toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM docs
      |), tok2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      |lens AS (SELECT doc_id, count(*) AS doclen FROM tok2 GROUP BY doc_id),
      |stats AS (
      |  SELECT (SELECT count(*) FROM docs) AS n,
      |    (SELECT count(*) FROM tok2)::DOUBLE
      |      / (SELECT count(*) FROM docs) AS avglen),
      |terms(word) AS (VALUES ('hash'), ('join'), ('filter')),
      |tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM tok2
      |  WHERE word IN (SELECT word FROM terms) GROUP BY doc_id, word),
      |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |scored AS (
      |  SELECT tf.doc_id,
      |    sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
      |        * (tf.tf * 2.2)
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * l.doclen / s.avglen))) AS bm25
      |  FROM tf JOIN dfreq d USING (word)
      |    JOIN lens l ON l.doc_id = tf.doc_id CROSS JOIN stats s
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, bm25_rank FROM (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
      |  FROM scored)
      |WHERE bm25_rank <= 25 ORDER BY bm25_rank""".stripMargin

  /** The BM25-over-a-reduced-corpus oracle, parameterized by the
    * survivor predicate — shared by every takedown-tier gate (delete,
    * reclaim, segment-resident delete, the e2e composition), each of
    * which must serve EXACTLY this ranking from its masked/erased
    * artifact. (Plain-template substitution, not s-interpolation: the
    * SQL body carries regex escapes an interpolator would mangle.) */
  def bm25WithoutOracleSql(survivors: String): String =
    bm25WithoutTemplate.replace("__SURVIVORS__", survivors)
}
