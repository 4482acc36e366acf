package graft

import org.apache.spark.sql.functions._
import graft.operators.Search
import graft.sources.Sources
import graft.sources.Sources.Transform
import graft.tools.AuditPlans

/** Full search-scoring goldens from the reference
  * (unit_tests.py:3330-3420 recipes fixture). Tie order: the reference's
  * Counter.most_common insertion order happens to equal id-ascending for
  * every golden; our engine ties deterministically on id. */
class SearchSpec extends SparkSpec {

  val recipeData: String =
    """id,title,ingredients
      |1,Tuna casserole,"tuna, noodles, Cream of Mushroom Soup"
      |2,Hawaiian pizza,pizza dough pineapple ham tomato sauce
      |3,Margherita pizza,pizza dough cheese pesto artichoke hearts
      |4,Pepperoni pizza,pizza dough cheese tomato sauce pepperoni
      |5,Grilled cheese sandwich,bread cheese butter
      |6,Tuna melt,tuna mayonnaise tomato bread cheese
      |7,Chili dog,hot dog chili onion bun
      |8,French toast,egg milk vanilla bread maple syrup
      |9,BLT,bread bacon lettuce tomato mayonnaise
      |10,Reuben sandwich,rye bread sauerkraut corned beef swiss cheese russian dressing thousand island
      |11,Hamburger,ground beef bun lettuce ketchup mustard pickle
      |12,Cheeseburger,ground beef bun lettuce ketchup mustard pickle cheese
      |13,Bacon cheeseburger,ground beef bun lettuce ketchup mustard pickle cheese bacon""".stripMargin

  lazy val recipes = Sources.csvImportString(spark, recipeData,
    transforms = Map("id" -> Transform("int"))).df.cache()
  lazy val index = Search.buildIndex(recipes, "id", "ingredients").cache()

  def searchIds(query: String, limit: Int = Int.MaxValue): Seq[Int] =
    Search.search(recipes, index, "id", "ingredients", query,
        limit = limit, minScore = -10000)
      .select(col("id")).collect().map(_.getInt(0)).toSeq

  test("search goldens (unit_tests.py:3367-3385)") {
    val goldens = Seq(
      ("", Seq()),
      ("tuna", Seq(1, 6)),
      ("tuna +cheese", Seq(6, 3, 4, 5, 10, 12, 13, 1)),
      ("pineapple +bacon lettuce beef -sauerkraut tomato", Seq(9, 13, 2, 11, 12, 4, 6, 10)),
      ("pizza dough -pineapple", Seq(3, 4, 2)),
      ("pizza dough --pineapple", Seq(3, 4)),
      ("bread bacon", Seq(9, 5, 6, 8, 10, 13)),
      ("bread ++bacon", Seq(9, 13)),
      ("bread ++anchovies", Seq()),
      ("bread ++bacon ++anchovies", Seq()),
      ("bread bacon --anchovies", Seq(9, 5, 6, 8, 10, 13)))
    goldens.foreach { case (q, want) =>
      assert(searchIds(q) == want, s"query '$q'")
    }
  }

  test("persisted index: parquet round-trip gives identical search results") {
    // real deployments persist the inverted index instead of rebuilding
    // per query — results must be identical through the store
    val dir = java.nio.file.Files.createTempDirectory("graft_search_idx").toString
    index.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    for (q <- Seq("tuna +cheese", "bread ++bacon", "pizza dough -pineapple")) {
      val live = Search.search(recipes, index, "id", "ingredients", q, minScore = -10000)
        .select(col("id")).collect().map(_.getInt(0)).toSeq
      val persisted = Search.search(recipes, stored, "id", "ingredients", q, minScore = -10000)
        .select(col("id")).collect().map(_.getInt(0)).toSeq
      assert(persisted == live, s"query '$q'")
    }
  }

  test("search with limit (unit_tests.py:3412-3420)") {
    assert(searchIds("tuna +cheese", limit = 3) == Seq(6, 3, 4))
    assert(searchIds("pineapple +bacon lettuce beef -sauerkraut tomato", limit = 3) == Seq(9, 13, 2))
  }

  test("include_words returns normalized non-stopword content words (unit_tests.py:3395-3410)") {
    val rows = Search.search(recipes, index, "id", "ingredients", "tuna",
        minScore = -10000, includeWords = true)
      .select(col("id"), col("ingredients_search_words")).collect()
    val byId = rows.map(r => r.getInt(0) -> r.getSeq[String](1).toSet).toMap
    assert(byId(1) == Set("noodles", "noodle", "tuna", "soup", "cream", "mushroom"))
    assert(byId(6) == Set("tomato", "tuna", "mayonnaise", "bread", "cheese"))
  }

  test("mixed prefixes on one word SUM role scores (littletable.py:1865-1877 tally)") {
    // "pizza -pizza": bare keeps opt +100, minus adds -1000 → net -900
    val net = Search.search(recipes, index, "id", "ingredients", "pizza -pizza")
      .select("id", "ingredients_search_score").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(net.keySet == Set(2, 3, 4) && net.values.forall(_ == -900L))
    // "cheese +cheese": opt +100 then plus +1000 → 1100 per cheese doc
    val boosted = Search.search(recipes, index, "id", "ingredients", "cheese +cheese")
      .select("ingredients_search_score").collect().map(_.getLong(0))
    assert(boosted.nonEmpty && boosted.forall(_ == 1100L))
  }

  test("++stopword makes the query unsatisfiable (reference reqd_matches={-1})") {
    // "the" normalizes to nothing → empty required group → zero rows,
    // exactly the reference's impossible-match behavior.
    assert(Search.search(recipes, index, "id", "ingredients", "bread ++the").count() == 0)
  }

  test("search scores carry the +1000/+100 weights") {
    val scores = Search.search(recipes, index, "id", "ingredients", "tuna +cheese",
        minScore = -10000)
      .select(col("id"), col("ingredients_search_score")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(scores(6) == 1100) // tuna(100) + cheese(1000)
    assert(scores(1) == 100)  // tuna only
    assert(scores(3) == 1000) // cheese only
  }

  test("BM25 ranking matches a from-first-principles driver-side oracle") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash join hash join probe build"),
      (2L, "hash only once in a long long long long long document body"),
      (3L, "join join join"),
      (4L, "unrelated words entirely"),
      (5L, "hash join")).toDF("id", "text")
    val idx = Search.buildBm25Index(docs, "id", "text")
    val got = Search.searchBm25(docs, idx, "id", "hash join", k = 5)
      .select("id", "bm25_rank").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // independent oracle: plain Scala over the raw strings
    val corpus = Seq(1L -> "hash join hash join probe build",
      2L -> "hash only once in a long long long long long document body",
      3L -> "join join join", 4L -> "unrelated words entirely", 5L -> "hash join")
    val toks = corpus.map { case (id, s) => id -> s.split("\\s+").toSeq }
    val n = corpus.size.toDouble
    val avg = toks.map(_._2.size).sum / n
    val (k1, b) = (1.2, 0.75)
    def score(id: Long): Double = {
      val ws = toks.find(_._1 == id).get._2
      Seq("hash", "join").map { t =>
        val tf = ws.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val df = toks.count(_._2.contains(t)).toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * ws.size / avg))
        }
      }.sum
    }
    val want = corpus.map(_._1).filter(score(_) > 0)
      .sortBy(id => (-score(id), id)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    assert(got == want, s"got=$got want=$want scores=${corpus.map(c => c._1 -> score(c._1))}")
    // sanity: doc 5 ("hash join" verbatim — maximal length
    // normalization) ranks first, doc 1 (both terms twice, longer)
    // second; doc 4 (no term) is absent
    assert(got(5L) == 1 && got(1L) == 2 && !got.contains(4L))
  }

  test("searchBm25Batch: one plan over many queries equals the " +
      "single-query path per query (shared-term df unchanged; a " +
      "no-hit query yields no rows)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = Search.buildBm25Index(docs, "doc_id", "text")
    // q1/q2 SHARE the term 'join': df/idf must stay corpus-global
    val workload = Seq((1, "hash join filter"), (2, "sort join"),
      (3, "zzznothere")).toDF("qid", "qtext")
    val batch = Search.searchBm25Batch(idx, workload, "qid", "qtext",
        "doc_id", k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    for ((qid, qtext) <- Seq(1 -> "hash join filter", 2 -> "sort join")) {
      val single = Search.searchBm25(docs, idx, "doc_id", qtext, k = 10)
        .select("doc_id", "bm25_rank")
        .collect().map(r => (qid, r.getLong(0), r.getInt(1))).toSeq
      assert(batch.filter(_._1 == qid).toSeq == single,
        s"batch ranking diverged from the single-query path for q$qid")
    }
    assert(!batch.exists(_._1 == 3), "no-hit query produced rows")
  }

  test("BM25 upsert: delta-appended artifact is content-identical to a " +
      "full rebuild — base files untouched, stats merged bit-exactly") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val table = "bm25_spec_upsert"
    Seq(table, s"${table}_stats").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Search.saveBm25Index(Search.buildBm25Index(base, "doc_id", "text"), table)
    // snapshot the bucketed store's data files before the upsert
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val loc = java.nio.file.Paths.get(spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      scala.util.Using.resource(java.nio.file.Files.walk(loc))(
        _.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toMap)
    }
    val before = files()
    assert(before.nonEmpty)
    Search.upsertBm25Index(delta, "doc_id", "text", table)
    val after = files()
    // append, never rewrite: every base file survives byte-identical
    before.foreach { case (f, meta) =>
      assert(after.get(f).contains(meta), s"upsert rewrote a base file: $f")
    }
    assert(after.size > before.size, "upsert appended no new files")
    val up = Search.loadBm25Index(spark, table)
    val full = Search.buildBm25Index(docs, "doc_id", "text")
    // stats merge is EXACT: long-arithmetic (n, total), bit-equal avg
    assert(up.nDocs == full.nDocs && up.totalLen == full.totalLen)
    assert(up.avgLen == full.avgLen,
      s"merged avg_len ${up.avgLen} != rebuild ${full.avgLen}")
    // postings content == rebuild's, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("doclen"), col("word"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    assert(rows(up.postings) == rows(full.postings),
      "upserted postings diverge from a full rebuild")
    // and the served ranking is identical
    def top(idx: Search.Bm25Index) =
      Search.searchBm25(docs, idx, "doc_id", "hash join filter", k = 25)
        .select(col("doc_id"), col("bm25_rank"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val upTop = top(up)
    assert(upTop == top(full))
    // compaction heals the append's small files WITHOUT recomputing:
    // fewer data files, identical postings content, stats untouched
    Search.compactBm25Index(spark, table)
    val compacted = files()
    assert(compacted.size < after.size,
      s"compaction did not reduce files: ${after.size} -> ${compacted.size}")
    val cp = Search.loadBm25Index(spark, table)
    assert(cp.nDocs == full.nDocs && cp.totalLen == full.totalLen &&
      cp.avgLen == full.avgLen, "compaction changed the stats")
    assert(rows(cp.postings) == rows(full.postings),
      "compaction changed the postings content")
    assert(top(cp) == upTop, "compaction changed the served ranking")
    // the promote is a catalog rename of the staged generation — the
    // pinned word-bucket spec (what keeps serve-time df lookups
    // bucket-pruned) must ride through it
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 32 && b.bucketColumnNames == Seq("word")),
      s"promotion dropped the bucket spec: ${meta.bucketSpec}")
    assert(!spark.catalog.tableExists(s"${table}__next"),
      "staged generation table left behind after promotion")
  }

  test("fold crash-retry recovery: a fold that died between the postings " +
      "append and the stats write double-appends on retry; " +
      "compactBm25Index(dedupExact) heals to the rebuild exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val table = "bm25_spec_foldretry"
    Seq(table, s"${table}_stats").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Search.saveBm25Index(Search.buildBm25Index(base, "doc_id", "text"), table)
    // hand-write the delta as one completed segment (the sink's layout)
    val segDir = java.nio.file.Files
      .createTempDirectory("graft-bm25-foldretry-").toString
    val d = Search.buildBm25Index(delta, "doc_id", "text")
    d.postings.write.parquet(s"$segDir/batch=0/postings")
    import spark.implicits._
    Seq((d.nDocs, d.totalLen)).toDF("n_docs", "total_len")
      .write.parquet(s"$segDir/batch=0/stats")
    // simulate the CRASHED fold: the postings append committed, the
    // stats write and the segment deletes never ran
    spark.read.parquet(s"$segDir/batch=0/postings")
      .write.mode("append").format("parquet")
      .bucketBy(32, "word").sortBy("word").saveAsTable(table)
    // the RETRY fold: appends the same postings again, merges stats once
    Search.foldBm25Segments(spark, table, segDir)
    val full = Search.buildBm25Index(docs, "doc_id", "text")
    val torn = Search.loadBm25Index(spark, table)
    assert(torn.nDocs == full.nDocs && torn.totalLen == full.totalLen,
      "retry must merge stats exactly once")
    assert(torn.postings.count() > full.postings.count(),
      "precondition: the retry double-appended the segment postings")
    // the documented recovery: exact-duplicate collapse
    Search.compactBm25Index(spark, table, dedupExact = true)
    val healed = Search.loadBm25Index(spark, table)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("doclen"), col("word"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
    assert(healed.postings.count() == full.postings.count() &&
      rows(healed.postings) == rows(full.postings),
      "dedupExact compaction did not restore the rebuild content")
    assert(healed.nDocs == full.nDocs && healed.totalLen == full.totalLen &&
      healed.avgLen == full.avgLen)
  }

  /** The Spark jobs `body` starts, counted exactly: the listener bus is
    * drained before the listener joins and again before it is read. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("searchBm25 on a saved artifact: <=2 Spark jobs, <=3 with " +
      "tombstones, no global window; exact ties rank by id; the parallel " +
      "path ranks like the one-partition path") {
    import spark.implicits._
    // three byte-identical documents score bit-identically
    val tied = Seq(900003L, 900001L, 900002L)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(tied.map(_ -> "hash join zebra").toDF("doc_id", "text"))
    val table = "bm25_spec_serve"
    Seq(table, s"${table}_stats", s"${table}_deleted").foreach(
      graft.sources.Sources.replaceTable(spark, _))
    Search.saveBm25Index(Search.buildBm25Index(docs, "doc_id", "text"),
      table, buckets = 8)
    val queries = Seq("hash join zebra", "hash join filter", "sort")
    def search(q: String) =
      Search.searchBm25(docs, Search.loadBm25Index(spark, table), "doc_id",
        q, k = 10)
    def ranked(q: String): (Seq[(Long, Int)], Int) = {
      val df = search(q)
      jobsDuring(df.select("doc_id", "bm25_rank").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq)
    }
    def staticPlan(q: String) =
      withConf("spark.sql.adaptive.enabled" -> "false") {
        search(q).queryExecution.executedPlan
      }
    val onePart = queries.map { q =>
      val (rows, jobs) = ranked(q)
      assert(jobs <= 2, s"'$q' ran $jobs jobs")
      assert(rows.map(_._2) == (1 to rows.size), s"'$q' ranks: $rows")
      q -> rows
    }.toMap
    assert(onePart("hash join zebra").take(3) == tied.sorted.zip(1 to 3),
      s"exact ties must rank by id: ${onePart("hash join zebra")}")
    val plan = staticPlan("hash join filter")
    assert(AuditPlans.countShuffles(plan) == 0 &&
      AuditPlans.countGlobalWindows(plan) == 0, plan.toString)

    Search.deleteBm25Docs(spark, table, Seq(900002L).toDF("doc_id"))
    val (afterDelete, jobs) = ranked("hash join zebra")
    assert(jobs <= 3, s"masked search ran $jobs jobs")
    assert(afterDelete.take(2) == Seq(900001L -> 1, 900003L -> 2),
      s"tombstoned tie still served or ranks moved: $afterDelete")

    // a scan split below the postings' size forces the parallel path
    // (per-id shuffle, parallel fetch): same ids, same ranks
    val masked = queries.map(q => q -> ranked(q)._1).toMap
    withConf("spark.sql.files.maxPartitionBytes" -> "16384") {
      assert(AuditPlans.countShuffles(staticPlan("hash join filter")) > 0,
        "the small split did not select the parallel path")
      queries.foreach(q => assert(ranked(q)._1 == masked(q),
        s"parallel path diverged on '$q'"))
    }
  }
}
