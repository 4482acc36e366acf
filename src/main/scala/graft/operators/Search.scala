package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextNormalize

/** Full-text search — the reference's signature extra
  * (littletable.py:1701-1942), re-expressed as distributed dataflow:
  *
  *   - the inverted index is a derived DataFrame `(id, word)` —
  *     `explode(normalize(text))` + distinct (set semantics: a word counts
  *     once per document, littletable.py:1767-1772);
  *   - a query compiles to a tiny broadcast word→score table
  *     (+1000 plus / −1000 minus / +100 optional — littletable.py:1865-1877)
  *     joined against the index, `groupBy(id).sum(score)`;
  *   - `++word` required groups (OR across a word's normalized variants,
  *     AND across groups — littletable.py:1812-1824) become successive
  *     semi-joins; `--word` exclusion an anti-join;
  *   - rank by score desc (tie → id) and join back to the data.
  *
  * At scale: the index is the only large object and it partitions by id or
  * word as needed; per-query state is a handful of literal words.
  */
object Search {

  /** Build the inverted search index for a text attribute
    * (reference create_search_index, littletable.py:1701-1779). Persist or
    * write the result to reuse across queries — immutable DataFrames make
    * the reference's staleness machinery (SearchIndexInconsistentError)
    * unnecessary by construction. */
  def buildIndex(
      data: DataFrame,
      idCol: String,
      attr: String,
      stopwords: Set[String] = TextNormalize.stopwords): DataFrame = {
    // Per-doc set semantics applied INSIDE the normalizer (first
    // occurrence kept), so the exploded (id, word) pairs are born
    // distinct — no table-wide dedup shuffle. normalize_words is a
    // codegen'd Catalyst expression (no UDF encoder round-trip) — see
    // [[graft.functions.NormalizeWords]].
    import graft.functions.TextHashExpressions.normalize_words
    graft.core.Partitions.ensureParallelism(data).select(col(idCol),
      explode(normalize_words(coalesce(col(attr), lit("")), stopwords)).as("word"))
  }

  /** Parsed query, mirroring the reference's prefix grammar
    * (littletable.py:1812-1877). Insertion order of first occurrence wins,
    * like the reference's dict-based dedup. */
  final case class ParsedQuery(
      requiredGroups: Seq[Seq[String]],
      excluded: Seq[String],
      wordScores: Seq[(String, Int)])

  def parseQuery(query: String, stopwords: Set[String] = TextNormalize.stopwords): ParsedQuery = {
    val plus = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val minus = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val opt = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val excl = scala.collection.mutable.ArrayBuffer.empty[String]
    val reqdGroups = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

    for (rawKw <- query.trim.split("\\s+").filter(_.nonEmpty)) {
      val kw = rawKw.toLowerCase
      if (kw.startsWith("++")) {
        val kwds = TextNormalize.normalizeWordGen(kw.drop(2), stopwords)
        reqdGroups += kwds
        kwds.foreach(k => if (!plus.contains(k)) plus(k) = 1000)
      } else if (kw.startsWith("--")) {
        TextNormalize.normalizeWordGen(kw.drop(2), stopwords).foreach(excl += _)
      } else if (kw.startsWith("+")) {
        TextNormalize.normalizeWordGen(kw.drop(1), stopwords).foreach { k =>
          minus.remove(k)
          if (!plus.contains(k)) plus(k) = 1000
        }
      } else if (kw.startsWith("-")) {
        TextNormalize.normalizeWordGen(kw.drop(1), stopwords).foreach { k =>
          plus.remove(k)
          if (!minus.contains(k) && !excl.contains(k)) minus(k) = -1000
        }
      } else {
        // bare word: +100 per normalized variant, except a variant that is
        // itself a significant ending of the raw keyword
        // (littletable.py:1843-1849)
        val sigEnding = TextNormalize.significantEndingOf(kw)
        TextNormalize.normalizeWordGen(kw, stopwords).foreach { k =>
          if (!sigEnding.contains(k) && !plus.contains(k) && !minus.contains(k))
            opt(k) = 100
        }
      }
    }
    // Role scores ADD like the reference's tally (littletable.py:1865-1877
    // sums plus/minus/opt contributions independently): a word in several
    // role maps emits several score rows, and the per-doc aggregation sums
    // them — e.g. "pizza -pizza" nets 100 + (−1000) = −900, exactly the
    // reference. (A map merge here would right-bias-override instead.)
    ParsedQuery(reqdGroups.toSeq, excl.toSeq,
      plus.toSeq ++ minus.toSeq ++ opt.toSeq)
  }

  /** Execute a scored search (reference search.attr(query, limit,
    * min_score), littletable.py:1781-1917). Returns the matching rows of
    * `data` with `<attr>_search_score` appended, ranked best-first. */
  def search(
      data: DataFrame,
      index: DataFrame,
      idCol: String,
      attr: String,
      query: String,
      limit: Int = Int.MaxValue,
      minScore: Int = Int.MinValue,
      includeWords: Boolean = false,
      stopwords: Set[String] = TextNormalize.stopwords): DataFrame = {

    val spark = data.sparkSession
    import spark.implicits._
    val parsed = parseQuery(query, stopwords)
    val scoreCol = s"${attr}_search_score"

    if (parsed.wordScores.isEmpty) {
      // nothing scorable — empty result with the right schema
      return data.withColumn(scoreCol, lit(0L)).limit(0)
    }

    // One pass over the index: a word-role row per (word, role) — scored
    // word (+N), required-group membership (group ordinal), or exclusion —
    // broadcast-joined, then a single groupBy computes the score sum,
    // the number of distinct required groups matched, and the exclusion
    // flag together. (The reference's tally + per-group AND + exclusion,
    // littletable.py:1851-1884, as one shuffle instead of 2+G passes.)
    val roleRows: Seq[(String, Option[Long], Option[Int], Boolean)] =
      parsed.wordScores.map { case (w, s) => (w, Some(s.toLong), None, false) } ++
        parsed.requiredGroups.zipWithIndex.flatMap { case (group, g) =>
          group.map(w => (w, None: Option[Long], Some(g), false)) } ++
        parsed.excluded.map(w => (w, None, None, true))
    val rolesDf = roleRows.toDF("word", "__wscore", "__grp", "__excl")
    val tally = index.join(broadcast(rolesDf), "word")
      .groupBy(col(idCol))
      .agg(sum(col("__wscore")).as(scoreCol),
        count_distinct(col("__grp")).as("__gmatched"),
        max(col("__excl")).as("__exclm"))
      .filter(col(scoreCol).isNotNull &&
        col("__gmatched") === parsed.requiredGroups.length && !col("__exclm"))
      .select(col(idCol), col(scoreCol))

    var ranked = tally.filter(col(scoreCol) >= minScore)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    if (limit != Int.MaxValue) ranked = ranked.limit(limit)

    var out = ranked.join(data, Seq(idCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)

    if (includeWords) {
      import graft.functions.TextHashExpressions.normalize_words
      out = out.withColumn(s"${attr}_search_words",
        normalize_words(coalesce(col(attr), lit("")), stopwords, sortedSet = true))
    }
    out
  }

  // ------------------------------------------------------------------
  // BM25 ranked retrieval (beyond the reference)
  // ------------------------------------------------------------------

  /** Term-frequency postings for BM25: `(id, doclen, word, tf)` plus the
    * corpus stats the score needs (N, average doc length) captured as
    * plain values at build time (one tiny aggregate job). Tokenization
    * is plain lowercase-free whitespace words — deliberately simpler
    * than the scored-search normalizer so the ranking math is
    * engine-reproducible; BM25's idf discounts stopword-grade terms on
    * its own. */
  /** `stats` is a LAZY one-row frame `(n_docs: long, total_len: long,
    * avg_len: double)`: the serve paths fold it into the query plan (a
    * one-row broadcast onto the term-filtered postings), so building
    * and searching an in-memory index runs NO separate eager stats job.
    * Paths that need concrete constants (save/fold/upsert merges, the
    * streaming sink's per-batch stats write) force [[nDocs]]/[[avgLen]]/
    * [[totalLen]], which run the aggregate once and memoize. Loaded and
    * merged indexes carry a LOCAL one-row relation
    * ([[Bm25Index.withStats]]) — forcing those costs no job, exactly
    * the pre-lazy behavior. */
  final class Bm25Index(val postings: DataFrame, val stats: DataFrame,
      /** (nDocs as double, avgLen) when already materialized — serve
        * paths then plan plain literals, exactly the pre-lazy shape. */
      private[operators] val knownConsts: Option[(Double, Double)] = None) {
    /** Promoted constants: starts as [[knownConsts]]; once ANY path
      * forces the stats row (save/fold/merge, or a caller reading
      * [[nDocs]]), the materialized values take over, so a
      * build-once/search-many reuse of an in-memory index stops
      * re-running the full-corpus stats aggregate inside every search
      * job. Same longs, same count→double cast, same division as the
      * in-plan aggregate — scores bit-match either way. Assumes an
      * immutable corpus: once promoted, the constants are not
      * recomputed if the source under `postings` changes. */
    @volatile private[operators] var promotedConsts: Option[(Double, Double)] =
      knownConsts
    private lazy val statsRow = {
      val r = stats.head()
      if (promotedConsts.isEmpty)
        promotedConsts = Some((r.getLong(0).toDouble, r.getDouble(2)))
      r
    }
    lazy val nDocs: Long = statsRow.getLong(0)
    lazy val totalLen: Long = statsRow.getLong(1)
    lazy val avgLen: Double = statsRow.getDouble(2)
  }
  object Bm25Index {
    /** Index whose corpus constants are already known longs (loaded from
      * a stats table or merged in long arithmetic): the stats frame is a
      * local relation, no job on any path. `avg` overrides the `total/n`
      * recompute where a stored avg_len must be served verbatim (the
      * legacy pre-total_len reconstruction, and the tombstone-corrected
      * load that keeps the stored value when nothing was deleted). */
    def withStats(postings: DataFrame, n: Long, total: Long,
        avg: Option[Double] = None): Bm25Index = {
      val spark = postings.sparkSession
      import spark.implicits._
      val avgV = avg.getOrElse(if (n == 0) 0.0 else total.toDouble / n)
      new Bm25Index(postings,
        Seq((n, total, avgV)).toDF("n_docs", "total_len", "avg_len"),
        knownConsts = Some((n.toDouble, avgV)))
    }
  }

  /** Build the BM25 index. Scale shape: one explode + one hash aggregate
    * keyed by (id, word) — doclen rides along as a function of id, so no
    * extra join; shuffle volume is doc×distinct-term, not corpus bytes.
    * The corpus stats are a lazy in-plan aggregate (see [[Bm25Index]]):
    * nothing executes here. */
  def buildBm25Index(data: DataFrame, idCol: String, attr: String): Bm25Index = {
    import graft.functions.TextAnalysis
    val words = TextAnalysis.words(coalesce(col(attr), lit("")))
    // the stats pass tokenizes the corpus too — parallelized like the
    // postings pass below, or an unsplittable one-partition scan would
    // serialize a full-corpus tokenization on one core
    val stats = graft.core.Partitions.ensureParallelism(data)
      .select(size(filter(words, w => w =!= lit(""))).cast("long").as("__l"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__l")), lit(0L)).as("total_len"))
      .withColumn("avg_len", when(col("n_docs") === 0, lit(0.0))
        .otherwise(col("total_len").cast("double") / col("n_docs").cast("double")))
    val postings = graft.core.Partitions.ensureParallelism(data)
      .select(col(idCol), words.as("__ws"))
      .select(col(idCol),
        size(filter(col("__ws"), w => w =!= lit(""))).cast("long").as("doclen"),
        explode(col("__ws")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("doclen"), col("word"))
      .agg(count(lit(1)).as("tf"))
    new Bm25Index(postings, stats)
  }

  /** Persist a built BM25 index as a serving artifact: postings become a
    * word-bucketed, word-sorted parquet table — per-term df lookups
    * bucket-prune to |query| buckets and the per-term aggregate is
    * shuffle-free — plus a 1-row sibling `<table>_stats` table for the
    * corpus constants. This separates index BUILD from QUERY the way the
    * reference's `create_search_index` does (littletable.py:1701-1779):
    * build once, serve many. */
  def saveBm25Index(index: Bm25Index, table: String, buckets: Int = 32): Unit = {
    val spark = index.postings.sparkSession
    // a rebuilt artifact is a fresh identity: stale tombstones from a
    // previous generation would mask (and stats-correct against) ids
    // the new corpus legitimately carries (no cache invalidation needed
    // anywhere in this file: the constants caches key on the sibling
    // tables' generation stamps, which this drop and every write below
    // change)
    graft.sources.Sources.replaceTable(spark, s"${table}_deleted")
    graft.sources.Sources.writeBucketed(
      graft.core.GTable(index.postings), table, Seq("word"), buckets)
    writeStats(spark, table, index.nDocs, index.avgLen, buckets, index.totalLen)
  }

  // `total_len` rides in the stats table purely for the upsert path:
  // avg_len alone cannot be merged exactly (avg·n re-derives total with
  // float loss), but (n, total) merge in long arithmetic, so an upserted
  // generation's avg_len is BIT-identical to a full rebuild's.
  // `folded_batches` is the FOLD LEDGER: the `batch=<id>` segment dirs
  // whose postings AND stats a fold has already merged — written in the
  // SAME one-row commit as the merged stats, so a fold retry (or a
  // concurrent segment serve) can never double-count a segment whose
  // merge committed but whose dir delete didn't.
  // `reclaim_token` marks the one staged-generation promote whose
  // tombstone-reclaim subtraction already landed in this stats row — the
  // idempotence guard for a promote retry (see [[promoteBm25Layout]]);
  // upsert and fold thread it through unchanged.
  private def writeStats(spark: org.apache.spark.sql.SparkSession,
      table: String, nDocs: Long, avgLen: Double, buckets: Int,
      totalLen: Long, foldedBatches: Seq[String] = Seq.empty,
      reclaimToken: String = ""): Unit = {
    graft.sources.Sources.replaceTable(spark, s"${table}_stats")
    import spark.implicits._
    Seq((nDocs, avgLen, buckets, totalLen, foldedBatches, reclaimToken))
      .toDF("n_docs", "avg_len", "buckets", "total_len", "folded_batches",
        "reclaim_token")
      .write.mode("overwrite").format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, s"${table}_stats"))
      .saveAsTable(s"${table}_stats")
    // read-your-own-writes under a nonzero stamp TTL: every stats
    // mutation funnels through here, so dropping this session's cached
    // constants entry at commit keeps the mutating session exact while
    // remote sessions converge within their TTL window
    statsFor(spark).remove(table)
  }

  /** INCREMENTAL UPSERT for the persisted BM25 artifact — the search
    * tier's analogue of `Similarity.upsertLshIndex`, and like LSH it is
    * EXACT: postings rows are purely per-document (id, doclen, word, tf),
    * so the delta's postings are what a full rebuild would compute for
    * those documents, and the corpus stats merge in long arithmetic
    * ((n, Σlen) add; avg re-derives bit-identically). The upserted
    * artifact is content-identical to a rebuild over base ∪ delta — no
    * drift exists, no retrain cadence is needed. Per-term df and idf are
    * computed in-plan from the postings at serve time, so they price the
    * delta in automatically.
    *
    * Scale shape: one explode + one hash aggregate over the DELTA only,
    * appended into the word-bucketed table under the artifact's pinned
    * bucket spec (bucket pruning keeps working — each bucket just gains
    * a file per admitted delta; [[compactBm25Index]] heals the small
    * files on cadence without recomputing). The base corpus is never re-read
    * or rewritten. Callers own id-disjointness: re-admitting a document
    * double-counts it, exactly as in the ANN upsert family. */
  def upsertBm25Index(delta: DataFrame, idCol: String, attr: String,
      table: String): Unit = {
    val spark = delta.sparkSession
    val (n, buckets, total, folded, token) = readMergeableStats(spark, table)
    // pin the delta across the two passes (length-stats aggregate, then
    // the postings append) — an expensive upstream delta pipeline would
    // otherwise execute twice, the same reason bm25IngestSink already
    // pins its micro-batch across ITS two passes
    val pinned = delta.persist()
    try {
      val d = buildBm25Index(pinned, idCol, attr)
      appendPostings(d.postings, table, buckets)
      val (n2, total2) = (n + d.nDocs, total + d.totalLen)
      val avg2 = if (n2 == 0) 0.0 else total2.toDouble / n2
      // the fold ledger and reclaim token ride through: an upsert
      // between a crashed fold/promote and its retry must not forget
      // which segments are merged or which reclaim already landed
      writeStats(spark, table, n2, avg2, buckets, total2, folded, token)
    } finally pinned.unpersist()
  }

  /** Append postings rows into `table` under its pinned bucket spec. */
  private def appendPostings(postings: DataFrame, table: String,
      buckets: Int): Unit =
    postings.write.mode("append").format("parquet")
      .bucketBy(buckets, "word").sortBy("word").saveAsTable(table)

  /** The (n_docs, buckets, total_len, folded-batch ledger) of an
    * upsert-capable artifact — the one place the mergeable-schema guard
    * and the positional stats destructuring live (upsert, fold, and
    * compaction all key on it). A pre-ledger generation reads back an
    * empty ledger; its next stats write migrates the schema. */
  private def readMergeableStats(spark: org.apache.spark.sql.SparkSession,
      table: String): (Long, Int, Long, Seq[String], String) = {
    val st = spark.table(s"${table}_stats")
    require(st.columns.contains("total_len"),
      s"$table predates the upsert-capable stats schema (no total_len); " +
        "rebuild the artifact before upserting/folding/serving segments " +
        "into it")
    val row = st.head()
    val folded =
      if (st.columns.contains("folded_batches"))
        row.getSeq[String](st.columns.indexOf("folded_batches"))
      else Seq.empty[String]
    val token =
      if (st.columns.contains("reclaim_token"))
        row.getString(st.columns.indexOf("reclaim_token"))
      else ""
    (row.getLong(0), row.getInt(2), row.getLong(3), folded, token)
  }

  /** FILE-COMPACTION for the BM25 artifact — heals the small-file
    * accumulation of the append paths (each [[upsertBm25Index]] /
    * [[foldBm25Segments]] adds one file per touched bucket): rewrite the
    * postings table FROM ITS OWN CONTENT under the same pinned bucket
    * spec — one shuffle, no postings recompute, no corpus access, and
    * (unlike the ANN tiers' compactions) nothing to retrain, so the
    * rewritten generation is row-identical by construction. Stats are
    * untouched — compaction changes layout, never content. A staged
    * generation ([[Generations]]): the live postings keep serving until
    * the metadata-only swap.
    *
    * `dedupExact` additionally drops exact-duplicate postings rows —
    * the documented recovery from a fold retry that double-appended a
    * crashed attempt's segments (see [[foldBm25Segments]]); safe
    * because (id, doclen, word, tf) is unique per document in any
    * legitimately-built artifact, so only faulty double-admissions
    * collapse. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      table: String, dedupExact: Boolean = false): Unit = {
    buildNextBm25Layout(spark, table, dedupExact)
    promoteBm25Layout(spark, table)
  }

  /** The long half of [[compactBm25Index]] ([[Generations.buildNext]]):
    * one shuffle into the pinned bucket spec. RECLAIM: the rewrite drops
    * the tombstoned documents, so the promoted generation's files no
    * longer CONTAIN them (physical erasure, not just masking). */
  def buildNextBm25Layout(spark: org.apache.spark.sql.SparkSession,
      table: String, dedupExact: Boolean = false): Unit = {
    val buckets = readMergeableStats(spark, table)._2
    val a = Generations.Artifact(table, Seq(table))
    Generations.buildNext(spark, a) { b =>
      val content = b.input(0)
      graft.sources.Sources.writeBucketed(
        graft.core.GTable(if (dedupExact) content.distinct() else content),
        a.staged(0), Seq("word"), buckets)
    }
  }

  /** The short half of [[compactBm25Index]] ([[Generations.promote]]):
    * the catch-up COPIES postings upserted mid-build (postings rows are
    * purely per-document, and their stats already merged into the live
    * `_stats` sibling; they skip a `dedupExact` build's distinct — fresh
    * admissions, not historic double-folds). Streaming segments need no
    * catch-up: their postings are generation-independent.
    *
    * Before the swap, the consumed tombstones' (n, Σlen) is subtracted
    * from the live stats — the one in-place mutation of a promote,
    * guarded by the build token so a rerun never subtracts twice. The
    * serve windows between it and the retire are the between-promotes
    * class: constants momentarily doubly corrected while the consumed
    * entries still mask; rows stay correct throughout, one rerun heals. */
  def promoteBm25Layout(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val a = Generations.Artifact(table, Seq(table))
    Generations.promote(spark, a,
      admit = (_, rows, _) => appendPostings(rows, a.staged(0),
        readMergeableStats(spark, table)._2),
      preSwap = basis => if (basis.tombFiles.nonEmpty) {
        val (n, buckets, total, folded, token) = readMergeableStats(spark, table)
        if (token != basis.token) {
          val tombDf = spark.read.parquet(basis.tombFiles: _*)
          val agg = tombDf.dropDuplicates(tombDf.columns.head)
            .agg(count(lit(1)), coalesce(sum(col("doclen")), lit(0L))).head()
          val (n2, total2) = (n - agg.getLong(0), total - agg.getLong(1))
          writeStats(spark, table, n2,
            if (n2 == 0) 0.0 else total2.toDouble / n2, buckets, total2,
            foldedBatches = folded, reclaimToken = basis.token)
        }
      })
  }

  /** Load the BM25 index over base table ∪ streaming-admitted segments
    * ([[graft.streaming.Streaming.bm25IngestSink]]'s `postings` +
    * `stats` parts): segment postings are purely per-document, so base ∪
    * segments is content-identical to a rebuild over base ∪ admitted
    * docs, and the corpus stats merge in long arithmetic (base (n, Σlen)
    * + the sum over segment stats rows — one tiny aggregate job at
    * load). Ledgered and incomplete segments are skipped
    * ([[graft.operators.Segments]]; the ledger is the stats row's
    * `folded_batches`). */
  def loadBm25IndexWithSegments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): Bm25Index = {
    val base = loadBm25Index(spark, table)
    // segments merge against the base's LONG stats; a pre-total_len
    // base would fall back to loadBm25Index's round(avg·n)
    // reconstruction, which is not guaranteed exact at large totals —
    // the segment path hard-requires the mergeable schema like its
    // upsert/fold siblings instead of silently degrading the
    // content-identity contract
    val segs = graft.operators.Segments.pending(spark, segDir, "stats")(
      readMergeableStats(spark, table)._4.toSet)
    if (segs.isEmpty) base
    else {
      // tombstones mask segment postings too (a takedown can target a
      // document whose fold hasn't run yet — rows must disappear
      // immediately); the base constants already carry the correction
      // via loadBm25Index, and a segment-resident delete issued with
      // deleteBm25Docs(segDir=...) captured its exact doclen from the
      // segment postings, so the served constants are exact here too:
      // the segment stats add the dead doc's (1, len), the tombstone
      // aggregate subtracts the same (1, len). Only a segment-resident
      // delete issued WITHOUT segDir (captured as doclen 0) leaves the
      // documented total_len residual until its reclaim.
      val postings = graft.operators.Tombstones.mask(spark, table,
        spark.read.parquet(segs.map(d => s"$d/postings"): _*))
      val (n2, total2) = segmentStats(spark, segs, base.nDocs, base.totalLen)
      Bm25Index.withStats(base.postings.unionByName(postings), n2, total2)
    }
  }

  /** (n, total) plus the sum over `segs`' stats rows; a committed but
    * empty stats file merges as zero. */
  private def segmentStats(spark: org.apache.spark.sql.SparkSession,
      segs: Seq[org.apache.hadoop.fs.Path], n: Long, total: Long): (Long, Long) = {
    val st = spark.read.parquet(segs.map(d => s"$d/stats"): _*)
      .agg(coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("total_len")), lit(0L))).head()
    (n + st.getLong(0), total + st.getLong(1))
  }

  /** Fold streaming-admitted BM25 segments into the base artifact — the
    * cheap half of the ingest loop, and (unlike IVF) there is no
    * expensive half: nothing is trained, so no retrain cadence exists.
    * Segment postings append under the artifact's pinned word-bucket
    * spec and the stats merge in long arithmetic, through
    * [[graft.operators.Segments]]' ledgered fold, whose ledger here is
    * the stats row's `folded_batches`: the merged stats and the ledger
    * commit in ONE one-row stats write, so the stats can never merge
    * twice. A crash between the postings append and that commit
    * re-appends those postings on retry; they are EXACT duplicates
    * ((id, doclen, word, tf) is unique per doc in any legitimate
    * artifact), so [[compactBm25Index]]`(dedupExact = true)` heals the
    * artifact in one pass — the documented recovery. */
  def foldBm25Segments(spark: org.apache.spark.sql.SparkSession,
      table: String, segDir: String): Unit = {
    lazy val (n, buckets, total, ledger, token) = readMergeableStats(spark, table)
    graft.operators.Segments.fold(spark, segDir, "stats", ledger.toSet) { todo =>
      appendPostings(spark.read.parquet(todo.map(d => s"$d/postings"): _*),
        table, buckets)
      segmentStats(spark, todo, n, total)
    } { case ((n2, total2), present) =>
      writeStats(spark, table, n2,
        if (n2 == 0) 0.0 else total2.toDouble / n2, buckets, total2,
        foldedBatches = present, reclaimToken = token)
    }
  }

  // corpus constants are constants OF A GENERATION: cached per
  // (session, table) and keyed by the stats/tombstone sibling's
  // generation stamp ([[graft.sources.Sources.tableStamp]] — the
  // sibling's data-file set, one driver-side listing, no Spark job), so
  // a mutation committed by ANY session — delete, upsert, fold, promote
  // all rewrite the 1-row stats table or grow the tombstone sibling,
  // i.e. change its file set — is picked up by every other live session
  // on its next serve call, without restart or manual invalidation
  // (even a manual tombstone write re-keys: the stamp is the files, not
  // the commit path). Keyed WEAKLY by session (the
  // Similarity.SessionCaches idiom): a tuple-keyed strong map would pin
  // every stopped session's object graph for the JVM's lifetime. The
  // per-session value map holds only primitives, so it never keeps its
  // own key reachable.
  private val statsCache = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    scala.collection.concurrent.TrieMap[String, (String, Long, (Long, Double, Long))]]()
  private def statsFor(spark: org.apache.spark.sql.SparkSession) =
    statsCache.synchronized {
      var c = statsCache.get(spark)
      if (c == null) {
        c = scala.collection.concurrent
          .TrieMap.empty[String, (String, Long, (Long, Double, Long))]
        statsCache.put(spark, c)
      }
      c
    }

  /** DELETE documents from a persisted BM25 artifact — the takedown
    * path ([[graft.operators.Tombstones]]): O(corpus-scan of two
    * columns) to capture, O(1 small commit) to land, zero base-file
    * rewrites. `ids` is a one-column frame named with the artifact's id
    * column. Each new id's doclen is captured from the live postings
    * (any one posting row carries it) so the corpus constants
    * (n_docs/avg_len — and through them idf) correct EXACTLY at serve:
    * the masked index is content-identical to one built without those
    * documents. An id with no postings (a zero-token document) tombstones
    * with doclen 0 — deleting it still decrements n_docs.
    *
    * Pass `segDir` (the artifact's streaming-ingest segment directory)
    * when the target may still be SEGMENT-RESIDENT — admitted by
    * [[graft.streaming.Streaming.bm25IngestSink]] but not yet folded:
    * the capture then scans base ∪ complete un-folded segments, so a
    * takedown issued BEFORE the fold cadence still records the exact
    * doclen (the segment's stats — including the dead doc's length —
    * merge into the base at the fold, and the tombstone's correction
    * must subtract it; a 0-doclen capture would leave total_len
    * over-counted until reclaim). Real takedowns don't wait for fold
    * cadences — with `segDir` they don't have to.
    *
    * Callers own membership the way upserts own id-disjointness: ids
    * must name admitted documents (base, or segments when `segDir` is
    * given); deleting a non-member skews n_docs by one. Re-deleting an
    * already-tombstoned id is a no-op (anti-joined at capture;
    * consumers dedup besides). Physical erasure rides
    * [[compactBm25Index]]'s next cadence. */
  def deleteBm25Docs(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame, segDir: String = ""): Unit = {
    val idCol = ids.columns.head
    val fresh = graft.operators.Tombstones.read(spark, table)
      .map(t => ids.select(col(idCol)).dropDuplicates(idCol)
        .join(broadcast(t.select(col(idCol)).dropDuplicates(idCol)),
          Seq(idCol), "left_anti"))
      .getOrElse(ids.select(col(idCol)).dropDuplicates(idCol))
    // the capture corpus: live base postings, plus the complete
    // un-folded streaming segments when the caller passed segDir
    // (ledgered segments' postings are already IN the base — scanning
    // them twice is harmless under the per-id max, but skipping them
    // keeps the scan minimal and mirrors the serve path's skip)
    val baseScan = spark.table(table).select(col(idCol), col("doclen"))
    val scan =
      if (segDir.isEmpty) baseScan
      else {
        val segs = graft.operators.Segments.pending(spark, segDir, "stats")(
          readMergeableStats(spark, table)._4.toSet)
        if (segs.isEmpty) baseScan
        else baseScan.unionByName(
          spark.read.parquet(segs.map(d => s"$d/postings"): _*)
            .select(col(idCol), col("doclen")))
      }
    // doclen from the capture corpus: a broadcast SEMI join prunes the
    // scan to the requested ids map-side BEFORE any aggregate (never
    // aggregate the whole corpus to look up a handful of ids), then a
    // per-id max collapses the id's identical per-word copies; ids
    // absent from every posting (zero-token documents) keep doclen 0
    val found = scan
      .join(broadcast(fresh), Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(max(col("doclen")).as("doclen"))
    val captured = fresh.join(found, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("doclen"), lit(0L)).as("doclen"))
    graft.operators.Tombstones.append(spark, table, captured)
    // read-your-own-writes for the deleting session even if a
    // deployment explicitly set the COMPLIANCE TTL dial nonzero
    statsFor(spark).remove(tombKey(table))
  }

  // tombstone aggregates are cached beside the corpus constants (same
  // per-session weak map, same generation-stamp keying — here on the
  // `_deleted` sibling's file set, so any tombstone write, including a
  // manual one, re-keys the entry); the sentinel key can't collide with
  // a real table name
  private def tombKey(table: String): String = table + "\u0000tomb"

  /** The artifact's tombstone correction — (deleted n, deleted Σlen)
    * over the deduplicated tombstone set; (0, 0) when none exist.
    * Compliance-dialed: this cache is what makes a committed takedown
    * VISIBLE to a serving session, so it ignores the general latency
    * TTL and re-stamps every call unless the deployment explicitly
    * sets `spark.graft.stampCheckTtlMs.compliance`. */
  private def tombstoneAgg(spark: org.apache.spark.sql.SparkSession,
      table: String): (Long, Long) = {
    val (n, _, len) = graft.sources.Sources.stamped(spark, statsFor(spark),
      tombKey(table), graft.operators.Tombstones.tableOf(table),
      compliance = true) {
      graft.operators.Tombstones.read(spark, table).map { t =>
        val idCol = t.columns.head
        val r = t.dropDuplicates(idCol)
          .agg(count(lit(1)), coalesce(sum(col("doclen")), lit(0L))).head()
        (r.getLong(0), 0.0, r.getLong(1))
      }.getOrElse((0L, 0.0, 0L))
    }
    (n, len)
  }

  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, table: String): Bm25Index = {
    // alsoRefresh = the postings table: a stats move means the artifact
    // mutated (upsert/fold/reclaim), so this session's cached postings
    // listing is stale too — appends would be silently missed, rewrites
    // would FAILED_READ. (A pure hygiene compact moves no stats; a
    // cross-session READER of one follows Spark's standard REFRESH
    // TABLE contract, as for any external rewrite of a content-
    // identical layout.)
    val (n, avg, total) = graft.sources.Sources.stamped(spark,
      statsFor(spark), table, s"${table}_stats", alsoRefresh = Seq(table)) {
      val stats = spark.table(s"${table}_stats")
      val st = stats.head()
      // pre-total_len generations load fine for serving; only upsert
      // requires the mergeable schema (upsertBm25Index checks)
      val t = if (stats.columns.contains("total_len"))
        st.getLong(stats.columns.indexOf("total_len"))
      else math.round(st.getDouble(1) * st.getLong(0))
      (st.getLong(0), st.getDouble(1), t)
    }
    // takedown masking: tombstoned documents anti-join out of the
    // postings (broadcast, map-side) and their (count, Σlen) subtract
    // from the corpus constants — the served index is content-identical
    // to one built without them, so idf/avg_len stay exact
    val (nDel, lenDel) = tombstoneAgg(spark, table)
    val postings =
      graft.operators.Tombstones.mask(spark, table, spark.table(table))
    val (nLive, totalLive) = (n - nDel, total - lenDel)
    Bm25Index.withStats(postings, nLive, totalLive,
      avg = Some(if (nDel == 0) avg
        else if (nLive == 0) 0.0 else totalLive.toDouble / nLive))
  }

  /** Load the persisted index, building and persisting it first if this
    * session doesn't know it — callers express "query the index" and pay
    * the build only when the artifact is missing. A stored artifact is
    * reused only when its pinned bucket count matches the request. Pass
    * `fingerprint` ([[graft.sources.Sources.pathFingerprint]] of the
    * corpus) to also detect source-data changes — a stored artifact
    * whose stamped fingerprint differs rebuilds instead of silently
    * serving stale data; empty keeps the name-identifies-a-build
    * contract (use a new name when the corpus changes). */
  def bm25IndexFor(data: DataFrame, idCol: String, attr: String,
      table: String, buckets: Int = 32, fingerprint: String = ""): Bm25Index = {
    val spark = data.sparkSession
    val matches = spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(s"${table}_stats") && {
        val st = spark.table(s"${table}_stats")
        // total_len required: migrates pre-upsert-schema generations to
        // the mergeable stats layout on their next build-if-missing
        st.columns.contains("buckets") && st.columns.contains("total_len") &&
          st.head().getInt(2) == buckets
      } && (fingerprint.isEmpty ||
        graft.sources.Sources.readFingerprint(spark, table)
          .contains(fingerprint))
    if (!matches) {
      saveBm25Index(buildBm25Index(data, idCol, attr), table, buckets)
      // stamped LAST: a build that dies mid-way reads as a mismatch
      if (fingerprint.nonEmpty)
        graft.sources.Sources.writeFingerprint(spark, table, fingerprint)
    }
    loadBm25Index(spark, table)
  }

  /** Attach the corpus constants (`__nd` = nDocs as double, `__avg` =
    * avg doc length) to `df`: plain literals when the index already
    * materialized them (loaded/merged indexes — no extra join node),
    * otherwise a one-row broadcast cross join of the lazy stats
    * aggregate, so an in-memory build+search needs no eager stats pass.
    * Values and ops are IEEE-identical on both paths — scores
    * bit-match. */
  private def withBm25Consts(index: Bm25Index, df: DataFrame): DataFrame =
    index.promotedConsts match {
      case Some((nd, av)) =>
        df.withColumn("__nd", lit(nd)).withColumn("__avg", lit(av))
      case None =>
        df.crossJoin(broadcast(index.stats.select(
          col("n_docs").cast("double").as("__nd"),
          col("avg_len").as("__avg"))))
    }

  /** True when the planner's size estimate of `df` fits one scan split
    * (`spark.sql.files.maxPartitionBytes`): one task then reads it as
    * fast as a parallel stage would, and coalescing to that one task
    * saves the exchanges a parallel plan needs. */
  private def fitsOneSplit(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes

  /** Okapi BM25 top-k: score(d, q) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·doclen/avgLen)), with the standard
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Execution: a scoring stage and a fetch stage. The scoring stage
    * reads the term-filtered (and tombstone-masked) postings once: a
    * `count` window partitioned by word gives each term's df on the same
    * rows, the per-doc sum adds the contributions, and
    * TakeOrderedAndProject keeps the best k, numbered in their sorted
    * order (no global Window). When the planner's size estimate of the
    * filtered postings fits one scan split, the whole stage runs in one
    * task with no exchange — the contributions then sum in word order;
    * above it the scan stays parallel (the word-bucketed serving table
    * needs no exchange for the window) and the per-doc sum shuffles by
    * id. The fetch stage broadcasts the k ranked ids into a scan of
    * `data` and sorts the k rows within one partition, no range sort.
    * A collect of a saved artifact's search runs 2 Spark jobs (the
    * scoring stage's broadcast and the fetch), 3 once tombstones exist
    * (their broadcast); the parallel path adds the id shuffle's job.
    *
    * Returns `(id, bm25_rank)` rows joined back to `data`, best first;
    * ties rank by id. (Like `topTermsPerDoc`, ranks of 1-ulp-close
    * scores assume consistent libm log across engines — the driver gate
    * compares rank and id, never the float.) */
  def searchBm25(data: DataFrame, index: Bm25Index, idCol: String,
      query: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val terms = query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    if (terms.isEmpty) return data.withColumn("bm25_rank", lit(0)).limit(0)
    // Term filter ahead of everything: it reaches the scan — parquet
    // row-group/dictionary pushdown, and bucket pruning to |terms|
    // buckets when the postings are the word-bucketed serving table.
    val filtered = index.postings.filter(col("word").isin(terms: _*))
    val postings = if (fitsOneSplit(filtered)) filtered.coalesce(1) else filtered
    // df = the term's row count in the same scan (a term absent from the
    // corpus has no rows, so its idf never matters)
    val scored = withBm25Consts(index, postings)
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("word")))
        .cast("double"))
      .withColumn("__contrib",
        log(lit(1.0) + (col("__nd") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("__avg"))))
      .groupBy(col(idCol)).agg(sum(col("__contrib")).as("__bm25"))
    // TakeOrderedAndProject leaves the k survivors sorted in ONE
    // partition, so their position in it is the rank
    val top = scored.orderBy(col("__bm25").desc, col(idCol).asc).limit(k)
      .select(col(idCol),
        (monotonically_increasing_id() + 1).cast("int").as("bm25_rank"))
    val fetched = broadcast(top).join(data, Seq(idCol))
      .select((data.columns.map(col) :+ col("bm25_rank")): _*)
    // the k rows meet in one partition: in the scan's own task when
    // `data` fits one split, else through a single-partition exchange of
    // the joined rows (a parallel scan of a large corpus stays parallel)
    (if (fitsOneSplit(data)) fetched.coalesce(1) else fetched.repartition(1))
      .sortWithinPartitions(col("bm25_rank"))
  }

  /** BATCH retrieval: score MANY queries against the index in ONE
    * distributed plan — the offline shape (ranking-evaluation sweeps,
    * hard-negative mining for training pairs: batch top-k anti-joined
    * against the positives) where per-query [[searchBm25]] jobs would
    * cost a job launch per query. `queries` is the workload table
    * `(queryIdCol, queryTextCol)`; its terms explode to a
    * workload-sized `(query, word)` table broadcast against the
    * postings, so the corpus is scanned ONCE for the whole batch.
    * Per-word document frequencies and idf are corpus-global,
    * bit-identical to the single-query path's; the summed per-doc
    * score adds its per-term contributions in partition order, so for
    * queries with 3+ matching terms it can differ from the
    * single-query path (or an engine summing in another order) in the
    * last ulp — ranks are stable unless two scores collide within
    * that ulp (the same caveat [[graft.operators.Fusion]] carries, and
    * why the driver gate compares rank and id, never the float).
    * Ranking is a window PARTITIONED BY query — per-query k-row heap
    * state, never a global sort. Returns `(queryIdCol, idCol, bm25_rank)` rows with rank ≤ k,
    * ordered by (query, rank); a query whose terms miss the corpus
    * entirely yields no rows (the single-query empty contract).
    * Trade vs [[searchBm25]]: the postings prune is a broadcast
    * semi-join, not an IN literal list, so the word-bucketed serving
    * table is not directory-pruned — at batch scale the union of query
    * terms touches most buckets anyway, and the single scan amortizes
    * across every query in the workload. */
  def searchBm25Batch(index: Bm25Index, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, idCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = queries.select(col(queryIdCol),
        explode(split(trim(col(queryTextCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "").distinct()
    val words = qterms.select(col("word")).distinct()
    val filtered = index.postings
      .join(broadcast(words), Seq("word"), "left_semi")
    // one-row corpus constants into the per-term idf frame: the values
    // and idf arithmetic of searchBm25, so idf is bit-identical
    val termIdf = withBm25Consts(index,
        filtered.groupBy(col("word"))
          .agg(count(lit(1)).cast("double").as("__df")))
      .withColumn("__idf",
        log(lit(1.0) +
          (col("__nd") - col("__df") + 0.5) / (col("__df") + 0.5)))
      .select(col("word"), col("__idf"), col("__avg"))
    val scored = filtered.join(broadcast(termIdf), "word")
      .withColumn("__contrib",
        col("__idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("doclen") / col("__avg"))))
      .join(broadcast(qterms), Seq("word"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__contrib")).as("__bm25"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("__bm25").desc, col(idCol).asc)
    scored.withColumn("bm25_rank", row_number().over(w))
      .filter(col("bm25_rank") <= k)
      .select(col(queryIdCol), col(idCol), col("bm25_rank"))
      .orderBy(col(queryIdCol), col("bm25_rank"))
  }
}
