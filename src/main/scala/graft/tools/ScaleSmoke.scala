package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence probe for the scale-critical operator tiers: run each
  * at 1×/2×/4× the sf0.1 corpus and report the wall-time growth factors.
  * Near-2× per doubling is the near-linear behavior the 100 TB design
  * story claims; anything super-linear names the operator to fix.
  *
  * Corpus scaling is done by UNION of word-suffixed copies — every word
  * in copy k gets `_k` appended, so copies share NO shingles, tokens, or
  * lines: the corpus grows k× with the per-copy duplicate structure
  * preserved, and candidate generation cannot cheat by colliding copies
  * (replicating text verbatim would grow LSH candidate pairs
  * quadratically by construction — a data property, not an operator
  * property, and not what this probe measures).
  *
  * Usage: runMain graft.tools.ScaleSmoke [sfDir] [k1,k2,...] [op1,op2,...]
  * Default multipliers 1,4,16: at sf0.1's ~5k docs the 1×/2× points are
  * fixed-overhead-dominated (scheduling, stage setup) and read ≈1×
  * growth regardless of operator cost; the wider spacing lets per-row
  * cost dominate by the last point. The optional third arg restricts to
  * named tiers (plus "neardedup" for the streaming build-vs-serve
  * section) — what makes a 256× run of just the steepest tiers
  * affordable.
  */
object ScaleSmoke {

  private def scaled(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") * k + i).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"),
        col("source"))
    }.reduce(_ unionByName _)

  private def time(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Evaluate EVERY output column, not just cardinality: a bare
    * `count()` lets Catalyst prune expensive map-side projections (the
    * reassembled text of line/substr dedup, the BM25 tf columns), which
    * would understate the per-row cost this probe exists to measure. */
  private def forceAll(df: DataFrame): Long = {
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)")) // xor: no ANSI overflow
      .head().getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.harness("graft-scale-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")

    import graft.operators.{Chunk, Dedup, LinkGraph, Search}

    // line-ified view (the q_line_dedup construction: 3-token lines)
    def lined(df: DataFrame): DataFrame = df
      .select(col("doc_id"), graft.functions.TextAnalysis.words(col("text"))
        .as("__ws"))
      .select(col("doc_id"), array_join(transform(
        sequence(lit(0), expr("(size(__ws) + 2) div 3") - 1),
        i => array_join(slice(col("__ws"), (i * 3 + 1).cast("int"), lit(3)),
          " ")), "\n").as("text_lined"))

    def graph(df: DataFrame): DataFrame = {
      val ids = df.select(col("doc_id"))
      val m = ids.agg(max(col("doc_id"))).head().getLong(0) + 1
      ids.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % m).as("dst"))
        .unionByName(ids.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % m).as("dst")))
        .filter(col("src") =!= col("dst"))
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      "exact_dedup" -> (df =>
        forceAll(Dedup.exact(df, Dedup.contentKey(col("text")),
          Seq(col("doc_id")), keyName = "__fp"))),
      "minhash_lsh" -> (df =>
        forceAll(Dedup.minhashLSH(df, "doc_id", "text"))),
      "line_dedup" -> (df =>
        forceAll(Chunk.removeFrequentLines(lined(df), "doc_id",
          "text_lined", maxFreq = 1))),
      "substr_dedup" -> (df =>
        forceAll(Chunk.dedupSubstrings(df, "doc_id", "text"))),
      "bm25_build" -> (df =>
        forceAll(Search.buildBm25Index(df, "doc_id", "text").postings)),
      "pagerank_3it" -> (df =>
        forceAll(LinkGraph.pageRankMicro(graph(df), "src", "dst",
          iters = 3, scale = 1000000000L))),
      // the iterative checkpointed tier: exact shingle-index pair gen +
      // O(log diameter) connected-components rounds + cluster assignment
      "cc_cluster" -> (df =>
        forceAll(Dedup.clusterNearDuplicates(df, "doc_id", "text"))))

    val ks = args.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    require(ks == ks.sorted && ks.distinct == ks, "multipliers must ascend")
    // Cluster-faithful scaling contract (matters from ~64× up, where
    // probe artifacts would otherwise dominate the curve):
    //  - inputs are PARQUET on disk, not heap-cached frames — a cluster
    //    reads storage; pinning 16×+64×+256× (336× total) of corpus in
    //    one driver heap measures cache thrash, not the operator;
    //  - shuffle partitions grow with data (constant bytes/partition,
    //    floor 32, cap 1024) — a cluster adds executors and partitions
    //    as data grows; a frozen 32 grows per-partition sort volume
    //    16× across this sweep and tips every sort into spill.
    // The ladder is anchored at the ABSOLUTE multiplier (canonical base
    // 16× → 32 partitions, so 64× → 128, 256× → 512 in EVERY
    // invocation), not at ks.head: anchoring at the list's first entry
    // made the same k-point's partition geometry depend on which
    // restricted list was passed (a `64,256` run re-measured 64× at 32
    // partitions vs the full sweep's 128), so curves from different
    // invocations were silently incomparable.
    def shufflePartitionsFor(k: Int): Int =
      math.min(1024, math.max(32, 32 * k / 16))
    val onlyOps: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    onlyOps.foreach { names =>
      val known = ops.map(_._1).toSet +
        "neardedup" + "join3" + "join_skew" + "ivf_upsert" +
        "bm25_upsert" + "compact_outage" + "fold_wall" + "takedown" +
        "takedown_vec" + "takedown_corpus" + "takedown_sketch" +
        "takedown_flat"
      val unknown = names -- known
      require(unknown.isEmpty, s"unknown ops: $unknown (known: $known)")
    }
    def opSelected(name: String): Boolean = onlyOps.forall(_.contains(name))
    val selOps = ops.filter { case (n, _) => opSelected(n) }
    val scaleDir = "/tmp/graft_scale_smoke"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scaleDir))
    // doc-corpus frames: only materialized when a document tier runs
    lazy val frames = ks.map { k =>
      scaled(docs, k).write.mode("overwrite").parquet(s"$scaleDir/k=$k")
      k -> spark.read.parquet(s"$scaleDir/k=$k")
    }.toMap // materialized to parquet outside timing

    // ---------------------------------------------------------------
    // IVF rebuild-vs-upsert (round 11): the incremental-maintenance cost
    // claim, measured. The day's serving artifact is built over the BASE
    // corpus (untimed — it exists before the day starts); then the same
    // ~6% delta is admitted both ways: (a) upsertIvfIndex — one
    // map-side frozen-centroid assignment over the DELTA + a partition
    // append; (b) a full rebuild — k-means iterations over base ∪ delta
    // + a full rewrite, what a build-once artifact pays for ANY ingest.
    // Both corpora scale k×; the claim is the upsert's large, persistent
    // cost advantage (it re-encodes ~6% of the rows and rewrites no
    // base file), asserted as rebuild/upsert >= 2× at every k.
    // ---------------------------------------------------------------
    if (opSelected("ivf_upsert")) {
      import graft.operators.Similarity
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val maxVid = emb0.agg(max("vec_id")).head().getLong(0) + 1
      val embFrames = ks.map { k =>
        (0 until k).map(i => emb0.select(
            (col("vec_id") + lit(i.toLong * maxVid)).as("vec_id"),
            col("embedding")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$scaleDir/emb_k=$k")
        k -> spark.read.parquet(s"$scaleDir/emb_k=$k")
      }.toMap
      def ivfOnce(k: Int, timed: Boolean): (Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val full = embFrames(k)
        val delta = full.filter(col("vec_id") % 16 === 0)
        val base = full.filter(col("vec_id") % 16 =!= 0)
        val tblU = s"scale_ivf_upsert_$k"
        val tblR = s"scale_ivf_rebuild_$k"
        Similarity.saveIvfIndex(Similarity.ivfIndex(base, "vec_id",
          "embedding", nCentroids = 16, iters = 3), tblU) // untimed
        val t0 = System.nanoTime()
        Similarity.upsertIvfIndex(delta, "vec_id", "embedding", tblU)
        val tUp = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Similarity.saveIvfIndex(Similarity.ivfIndex(full, "vec_id",
          "embedding", nCentroids = 16, iters = 3), tblR)
        val tRe = (System.nanoTime() - t1) / 1e9
        require(spark.table(tblU).count() == spark.table(tblR).count(),
          s"upserted store and rebuild disagree on row count at $k×")
        Seq(tblU, tblR).foreach { t =>
          graft.sources.Sources.replaceTable(spark, t)
          graft.sources.Sources.replaceTable(spark, s"${t}_centroids")
        }
        if (timed) println(f"ivf_upsert $k%3d×: upsert $tUp%.2fs  " +
          f"rebuild $tRe%.2fs  (${tRe / tUp}%.1f× cheaper to upsert)")
        (tUp, tRe)
      }
      ivfOnce(ks.head, timed = false) // warmup (codegen/JIT)
      val ivfRuns = ks.map(k => k -> ivfOnce(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      ivfRuns.foreach { case (k, (up, re)) =>
        require(re >= 2.0 * up,
          f"IVF rebuild ($re%.2fs) is not >= 2× the upsert ($up%.2fs) at " +
            f"$k× — the incremental path lost its cost advantage")
      }
      println("{\"probe\":\"ivf_upsert\",\"sf\":\"" + sfDir + "\"," +
        ivfRuns.map { case (k, (up, re)) =>
          f"""\"upsert_t$k\":$up%.3f,\"rebuild_t$k\":$re%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // BM25 rebuild-vs-upsert (round 11): the search artifact family's
    // incremental-maintenance cost, measured under the same contract as
    // ivf_upsert. The base word-bucketed postings table is built untimed
    // (it exists before the day starts); the same ~6% delta is admitted
    // both ways: (a) upsertBm25Index — the per-doc postings aggregate
    // over the DELTA only + a bucketed append + a long-arithmetic stats
    // merge; (b) a full rebuild — the postings aggregate over base ∪
    // delta + a full bucketed rewrite. Unlike IVF the upsert here is
    // EXACT (content-identical to the rebuild), so the assertion also
    // pins row-count equality of the two stores. Claim: the advantage is
    // STRUCTURAL (the upsert's work is proportional to the delta, the
    // rebuild's to the corpus) and so WIDENS with k — asserted as a
    // non-shrinking rebuild/upsert ratio ladder reaching >= 2× at the
    // largest k. NOT per-k >= 2× like ivf_upsert: BM25's rebuild is one
    // aggregate + write (no k-means), so at the 1× probe floor (~5k
    // docs) BOTH paths are dominated by the ~1 s fixed cost of a
    // bucketed table write and the ratio reads ≈1 regardless of the
    // operator (measured: 1.1×/1.6×/2.7× at 1×/4×/16×).
    // ---------------------------------------------------------------
    if (opSelected("bm25_upsert")) {
      def bm25Once(k: Int, timed: Boolean): (Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val full = frames(k)
        val delta = full.filter(col("doc_id") % 16 === 0)
        val base = full.filter(col("doc_id") % 16 =!= 0)
        val tblU = s"scale_bm25_upsert_$k"
        val tblR = s"scale_bm25_rebuild_$k"
        Search.saveBm25Index(
          Search.buildBm25Index(base, "doc_id", "text"), tblU) // untimed
        val t0 = System.nanoTime()
        Search.upsertBm25Index(delta, "doc_id", "text", tblU)
        val tUp = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Search.saveBm25Index(
          Search.buildBm25Index(full, "doc_id", "text"), tblR)
        val tRe = (System.nanoTime() - t1) / 1e9
        require(spark.table(tblU).count() == spark.table(tblR).count(),
          s"upserted postings and rebuild disagree on row count at $k×")
        Seq(tblU, tblR).foreach { t =>
          graft.sources.Sources.replaceTable(spark, t)
          graft.sources.Sources.replaceTable(spark, s"${t}_stats")
        }
        if (timed) println(f"bm25_upsert $k%3d×: upsert $tUp%.2fs  " +
          f"rebuild $tRe%.2fs  (${tRe / tUp}%.1f× cheaper to upsert)")
        (tUp, tRe)
      }
      bm25Once(ks.head, timed = false) // warmup (codegen/JIT)
      val bm25Runs = ks.map(k => k -> bm25Once(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val ratios = bm25Runs.map { case (k, (up, re)) => k -> re / up }
      val (kLast, rLast) = ratios.last
      require(rLast >= 2.0,
        f"BM25 rebuild/upsert ratio $rLast%.1f× at the largest tier " +
          f"($kLast×) is below 2× — the incremental path lost its " +
          "structural cost advantage")
      // the WIDENING claim is asserted on the endpoints (the structural
      // trend), with a 0.7 step tolerance for the mid-tiers: a RATIO of
      // two walls doubles the relative noise of each, and the 1-3 s
      // mid-tier upsert walls carry enough of it that a 0.8 step bound
      // tripped on a healthy ladder (r12 run B: 3.8× at 16× vs 2.9× at
      // 64×, endpoints 1.2× → 4.3×)
      require(rLast >= ratios.head._2,
        f"BM25 rebuild/upsert ratio at $kLast× ($rLast%.1f×) fell below " +
          f"the ${ratios.head._1}× tier's (${ratios.head._2}%.1f×) — the " +
          "advantage should widen over the sweep")
      ratios.sliding(2).foreach {
        case Seq((k1, r1), (k2, r2)) =>
          require(r2 >= 0.7 * r1,
            f"BM25 rebuild/upsert ratio SHRANK with scale: $r1%.1f× at " +
              f"$k1× but $r2%.1f× at $k2× — the advantage should widen")
        case _ => ()
      }
      println("{\"probe\":\"bm25_upsert\",\"sf\":\"" + sfDir + "\"," +
        bm25Runs.map { case (k, (up, re)) =>
          f"""\"upsert_t$k\":$up%.3f,\"rebuild_t$k\":$re%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // Staged-compaction serve outage (round 11): the promoteTable claim,
    // measured. A compaction's cost splits into the BUILD (retrain +
    // rewrite into <table>__next — the live generation keeps serving
    // through all of it) and the PROMOTE (drop + catalog rename +
    // partition re-listing — the only serve gap). The claim worth a
    // number: the gap is metadata-scale and STAYS metadata-scale as the
    // data grows k×, while the build grows with the data. Phases are
    // timed exactly as compactIvfIndex sequences them.
    // ---------------------------------------------------------------
    if (opSelected("compact_outage")) {
      import graft.operators.Similarity
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val maxVid = emb0.agg(max("vec_id")).head().getLong(0) + 1
      def onceAt(k: Int, timed: Boolean): (Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val full = (0 until k).map(i => emb0.select(
            (col("vec_id") + lit(i.toLong * maxVid)).as("vec_id"),
            col("embedding"))).reduce(_ unionByName _)
        full.write.mode("overwrite").parquet(s"$scaleDir/co_k=$k")
        val corpus = spark.read.parquet(s"$scaleDir/co_k=$k")
        val tbl = s"scale_compact_outage_$k"
        Similarity.saveIvfIndex(Similarity.ivfIndex(corpus, "vec_id",
          "embedding", nCentroids = 16, iters = 3), tbl) // live gen, untimed
        val next = s"${tbl}__next"
        val t0 = System.nanoTime()
        Similarity.saveIvfIndex(Similarity.ivfIndex(
          spark.table(tbl).drop("cluster"), "vec_id", "embedding",
          nCentroids = 16, iters = 3), next)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.sources.Sources.promoteTable(spark, s"${next}_centroids",
          s"${tbl}_centroids")
        graft.sources.Sources.promoteTable(spark, next, tbl)
        val tPromote = (System.nanoTime() - t1) / 1e9
        require(spark.table(tbl).count() == corpus.count(),
          s"promoted generation lost rows at $k×")
        Seq(tbl, s"${tbl}_centroids").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        if (timed) println(f"compact_outage $k%3d×: build $tBuild%.2fs  " +
          f"promote $tPromote%.3fs  (gap = ${100 * tPromote / tBuild}%.1f%% " +
          "of the rewrite)")
        (tBuild, tPromote)
      }
      onceAt(ks.head, timed = false) // warmup (codegen/JIT)
      val runs = ks.map(k => k -> onceAt(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      runs.foreach { case (k, (build, promote)) =>
        require(promote < math.max(1.0, 0.25 * build),
          f"promote gap $promote%.2fs at $k× is not metadata-scale " +
            f"(build was $build%.2fs) — the staged-compaction outage " +
            "claim fails")
      }
      println("{\"probe\":\"compact_outage\",\"sf\":\"" + sfDir + "\"," +
        runs.map { case (k, (b, p)) =>
          f"""\"build_t$k\":$b%.3f,\"promote_t$k\":$p%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // Fold wall (round 12): segments accumulated over 8 ingest batches,
    // folded ONCE — the ingest loop's cheap half, measured. The fold's
    // work is proportional to the SEGMENT volume (a ~6% delta), not the
    // corpus: BM25 appends the segment postings under the pinned bucket
    // spec and merges stats+ledger in one 1-row write; IVF appends
    // already-assigned rows into the cluster partitions and commits its
    // ledger. Correctness is asserted by row accounting against the
    // pre-computed expected counts; the wall is the number a 100 TB/day
    // operator budgets for the fold cadence.
    // ---------------------------------------------------------------
    if (opSelected("fold_wall")) {
      import graft.operators.Similarity
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val maxVid = emb0.agg(max("vec_id")).head().getLong(0) + 1
      def foldOnce(k: Int, timed: Boolean): (Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        // BM25 over the scaled doc corpus
        val full = frames(k)
        val delta = full.filter(col("doc_id") % 16 === 0)
        val base = full.filter(col("doc_id") % 16 =!= 0)
        val tbl = s"scale_fold_bm25_$k"
        Seq(tbl, s"${tbl}_stats").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        Search.saveBm25Index(
          Search.buildBm25Index(base, "doc_id", "text"), tbl) // untimed
        val baseRows = spark.table(tbl).count()
        val segDir = s"$scaleDir/fold_bm25_k=$k"
        org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(segDir))
        var segRows = 0L
        (0 until 8).foreach { b => // the sink's job — untimed
          val d = Search.buildBm25Index(
            delta.filter(col("doc_id") % 8 === b), "doc_id", "text")
          val pinned = d.postings.persist()
          segRows += pinned.count()
          val seg = graft.operators.Segments.dir(segDir, b)
          pinned.write.mode("overwrite").parquet(s"$seg/postings")
          pinned.unpersist()
          import spark.implicits._
          Seq((d.nDocs, d.totalLen)).toDF("n_docs", "total_len")
            .write.mode("overwrite").parquet(s"$seg/stats")
        }
        val t0 = System.nanoTime()
        Search.foldBm25Segments(spark, tbl, segDir)
        val tBm = (System.nanoTime() - t0) / 1e9
        require(spark.table(tbl).count() == baseRows + segRows,
          s"BM25 fold row accounting failed at $k×")
        Seq(tbl, s"${tbl}_stats").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        // IVF over the scaled embedding corpus
        val fullEmb = (0 until k).map(i => emb0.select(
            (col("vec_id") + lit(i.toLong * maxVid)).as("vec_id"),
            col("embedding"))).reduce(_ unionByName _)
        fullEmb.write.mode("overwrite").parquet(s"$scaleDir/fold_emb_k=$k")
        val corpus = spark.read.parquet(s"$scaleDir/fold_emb_k=$k")
        val embDelta = corpus.filter(col("vec_id") % 16 === 0)
        val embBase = corpus.filter(col("vec_id") % 16 =!= 0)
        val itbl = s"scale_fold_ivf_$k"
        Seq(itbl, s"${itbl}_centroids", s"${itbl}_folded").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        Similarity.saveIvfIndex(Similarity.ivfIndex(embBase, "vec_id",
          "embedding", nCentroids = 16, iters = 3), itbl) // untimed
        val ivfBaseRows = spark.table(itbl).count()
        val centroids = Similarity.loadIvfIndex(spark, itbl).centroids
        val isegDir = s"$scaleDir/fold_ivf_k=$k"
        org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(isegDir))
        (0 until 8).foreach { b => // frozen-centroid admission — untimed
          embDelta.filter(col("vec_id") % 8 === b)
            .withColumn("cluster", graft.functions.VectorExpressions
              .nearest_centroid_cos(col("embedding"), centroids))
            .write.mode("overwrite").partitionBy("cluster")
            .parquet(graft.operators.Segments.dir(isegDir, b))
        }
        val t1 = System.nanoTime()
        Similarity.foldIvfSegments(spark, itbl, isegDir)
        val tIvf = (System.nanoTime() - t1) / 1e9
        require(spark.table(itbl).count() == ivfBaseRows +
          embDelta.filter(col("embedding").isNotNull).count(),
          s"IVF fold row accounting failed at $k×")
        Seq(itbl, s"${itbl}_centroids", s"${itbl}_folded").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        if (timed) println(f"fold_wall $k%3d×: bm25_fold $tBm%.2fs  " +
          f"ivf_fold $tIvf%.2fs  (8 segments, ~6%% delta)")
        (tBm, tIvf)
      }
      foldOnce(ks.head, timed = false) // warmup (codegen/JIT)
      val foldRuns = ks.map(k => k -> foldOnce(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      println("{\"probe\":\"fold_wall\",\"sf\":\"" + sfDir + "\"," +
        foldRuns.map { case (k, (bm, iv)) =>
          f"""\"bm25_fold_t$k\":$bm%.3f,\"ivf_fold_t$k\":$iv%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // Takedown tier (round 13): the deletion story's three costs,
    // measured on the BM25 family (the one with a capture scan and
    // corpus constants — the ANN deletes are a pure small-table commit):
    //  - delete_wall: deleteBm25Docs on a ~6% takedown set — the
    //    broadcast-semi-pruned (id, doclen) capture over the postings +
    //    the tombstone commit. Grows with corpus bytes (it is one
    //    two-column scan) but runs on the REQUEST cadence, not ingest.
    //  - serve overhead: the same top-25 query against the masked vs
    //    unmasked artifact — the broadcast anti-join's price, the cost
    //    every query pays between a delete and its reclaim.
    //  - reclaim_wall: the compaction cadence with tombstones to
    //    consume (staged filtered rewrite + token-guarded stats fix +
    //    promote) vs the SAME rewrite with nothing to reclaim — the
    //    erasure increment over the hygiene compaction already paid.
    // ---------------------------------------------------------------
    if (opSelected("takedown")) {
      def takedownOnce(k: Int, timed: Boolean)
          : (Double, Double, Double, Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val full = frames(k)
        val tbl = s"scale_takedown_$k"
        Seq(tbl, s"${tbl}_stats", s"${tbl}_deleted", s"${tbl}__next",
          s"${tbl}__next_basis").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        Search.saveBm25Index(
          Search.buildBm25Index(full, "doc_id", "text"), tbl) // untimed
        def serve(): Double = {
          val t = System.nanoTime()
          Search.searchBm25(full.select("doc_id"),
            Search.loadBm25Index(spark, tbl), "doc_id",
            "hash join filter", k = 25).collect()
          (System.nanoTime() - t) / 1e9
        }
        val tServe0 = serve()
        // baseline compaction wall: hygiene rewrite, nothing to reclaim
        val tc0 = System.nanoTime()
        Search.compactBm25Index(spark, tbl)
        val tCompact0 = (System.nanoTime() - tc0) / 1e9
        val dead = full.filter(col("doc_id") % 16 === 0).select(col("doc_id"))
        val t1 = System.nanoTime()
        Search.deleteBm25Docs(spark, tbl, dead)
        val tDelete = (System.nanoTime() - t1) / 1e9
        val tServeMasked = serve()
        val t2 = System.nanoTime()
        Search.compactBm25Index(spark, tbl)
        val tReclaim = (System.nanoTime() - t2) / 1e9
        // row accounting: the reclaimed files carry none of the dead ids
        require(spark.read.parquet(graft.sources.Sources
            .tableDataFiles(spark, tbl): _*)
          .filter(col("doc_id") % 16 === 0).isEmpty,
          s"takedown reclaim left deleted rows at $k×")
        require(!spark.catalog.tableExists(s"${tbl}_deleted"),
          s"takedown reclaim left tombstones at $k×")
        Seq(tbl, s"${tbl}_stats").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        if (timed) println(f"takedown $k%3d×: delete $tDelete%.2fs  " +
          f"serve $tServe0%.2fs→masked $tServeMasked%.2fs  " +
          f"compact $tCompact0%.2fs→reclaim $tReclaim%.2fs (~6%% deleted)")
        (tDelete, tServe0, tServeMasked, tCompact0, tReclaim)
      }
      takedownOnce(ks.head, timed = false) // warmup (codegen/JIT)
      val tdRuns = ks.map(k => k -> takedownOnce(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      println("{\"probe\":\"takedown\",\"sf\":\"" + sfDir + "\"," +
        tdRuns.map { case (k, (d, s0, sm, c0, rc)) =>
          f"""\"delete_t$k\":$d%.3f,\"serve_t$k\":$s0%.3f,""" +
          f"""\"serve_masked_t$k\":$sm%.3f,\"compact_t$k\":$c0%.3f,""" +
          f"""\"reclaim_t$k\":$rc%.3f""" }.mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // Takedown tier, VECTOR + NEAR-DUP families (round 14): the same
    // three costs the BM25 probe prices — delete wall, masked-serve
    // overhead, reclaim-vs-hygiene-compact increment — measured for the
    // families whose deletes are a pure small-table commit (no capture
    // scan, no corpus constants):
    //  - IVF / PQ: reclaim = the retrain cadence with tombstones to
    //    consume (geometry forgets the deleted vectors) vs the SAME
    //    retrain with nothing to reclaim — erasure rides a rewrite
    //    already being paid.
    //  - LSH: reclaim = the per-projection layout rewrite (nothing
    //    trained) vs the hygiene rewrite.
    //  - near-dup shingle index: reclaim = the corpus re-derive
    //    compaction vs the same compaction pre-delete.
    // Row accounting after each reclaim: raw files carry no dead ids
    // and the tombstone sibling is retired.
    // ---------------------------------------------------------------
    if (opSelected("takedown_vec")) {
      import graft.operators.{Contamination, Similarity}
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val maxVid = emb0.agg(max(col("vec_id"))).head().getLong(0) + 1
      val qvec = emb0.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      def embAt(k: Int): DataFrame = {
        val p = s"$scaleDir/td_emb_k=$k"
        if (!new java.io.File(p).exists())
          (0 until k).map(i => emb0.select(
              (col("vec_id") + lit(i.toLong * maxVid)).as("vec_id"),
              col("embedding"))).reduce(_ unionByName _)
            .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      def wall(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      final case class Td(delete: Double, serve0: Double, serveM: Double,
        compact0: Double, reclaim: Double)
      def assertErased(family: String, k: Int, tables: Seq[String],
          prefix: String, rawDead: DataFrame => DataFrame): Unit = {
        tables.foreach { t =>
          require(rawDead(spark.read.parquet(
              graft.sources.Sources.tableDataFiles(spark, t): _*)).isEmpty,
            s"$family takedown reclaim left deleted rows in $t at $k×")
        }
        require(!spark.catalog.tableExists(s"${prefix}_deleted"),
          s"$family takedown reclaim left tombstones at $k×")
      }
      // one family = build (untimed) → serve → hygiene compact → delete
      // → masked serve → reclaim compact → erasure accounting
      def familyOnce(
          build: () => Unit, serve: () => Unit, compact: () => Unit,
          delete: () => Unit, erased: () => Unit): Td = {
        build()
        val s0 = wall(serve())
        val c0 = wall(compact())
        val d = wall(delete())
        val sm = wall(serve())
        val rc = wall(compact())
        erased()
        Td(d, s0, sm, c0, rc)
      }
      def tdOnce(k: Int, timed: Boolean): Map[String, Td] = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val emb = embAt(k)
        val deadVec = emb.filter(col("vec_id") % 16 === 0)
          .select(col("vec_id"))
        def rawDeadVec(df: DataFrame) = df.filter(col("vec_id") % 16 === 0)
        val out = scala.collection.mutable.LinkedHashMap.empty[String, Td]

        val ivfT = s"scale_td_ivf_$k"
        Seq(ivfT, s"${ivfT}_centroids", s"${ivfT}_folded", s"${ivfT}_deleted",
          s"${ivfT}__next", s"${ivfT}__next_centroids", s"${ivfT}__next_basis")
          .foreach(graft.sources.Sources.replaceTable(spark, _))
        out("ivf") = familyOnce(
          build = () => Similarity.saveIvfIndex(Similarity.ivfIndex(emb,
            "vec_id", "embedding", nCentroids = 16, iters = 3), ivfT),
          serve = () => Similarity.ivfTopK(Similarity.loadIvfIndex(spark,
            ivfT), "vec_id", "embedding", qvec, 10, nProbe = 4).collect(),
          compact = () => Similarity.compactIvfIndex(spark, ivfT,
            "vec_id", "embedding", iters = 3),
          delete = () => Similarity.deleteVectors(spark, ivfT, deadVec),
          erased = () => assertErased("ivf", k, Seq(ivfT), ivfT, rawDeadVec))

        val pqT = s"scale_td_pq_$k"
        Seq(pqT, s"${pqT}_codebooks", s"${pqT}_folded", s"${pqT}_deleted",
          s"${pqT}__next", s"${pqT}__next_codebooks", s"${pqT}__next_basis")
          .foreach(graft.sources.Sources.replaceTable(spark, _))
        out("pq") = familyOnce(
          build = () => Similarity.savePqIndex(Similarity.pqIndex(emb,
            "vec_id", "embedding", dims = 64, m = 8, nCodes = 16,
            iters = 3, sampleN = 512), pqT),
          serve = () => Similarity.pqTopK(Similarity.loadPqIndex(spark,
            pqT), "vec_id", "embedding", qvec, 10, candidates = 50)
            .collect(),
          compact = () => Similarity.compactPqIndex(spark, pqT,
            "vec_id", "embedding", iters = 3, sampleN = 512),
          delete = () => Similarity.deleteVectors(spark, pqT, deadVec),
          erased = () => assertErased("pq", k, Seq(pqT), pqT, rawDeadVec))

        val lshT = s"scale_td_lsh_$k"
        (Seq(s"${lshT}_meta", s"${lshT}_folded", s"${lshT}_deleted",
          s"${lshT}__next_basis") ++ (0 until 2).flatMap(t =>
          Seq(s"${lshT}_t$t", s"${lshT}_t${t}__next")))
          .foreach(graft.sources.Sources.replaceTable(spark, _))
        out("lsh") = familyOnce(
          build = () => Similarity.saveLshIndex(emb, "embedding",
            dims = 64, lshT, bits = 6, tables = 2),
          serve = () => Similarity.lshTopKServed(spark, lshT, "vec_id",
            "embedding", qvec, 10, probeDist = 2).collect(),
          compact = () => Similarity.compactLshIndex(spark, lshT),
          delete = () => Similarity.deleteVectors(spark, lshT, deadVec),
          erased = () => assertErased("lsh", k,
            (0 until 2).map(t => s"${lshT}_t$t"), lshT, rawDeadVec))

        val corpus = frames(k)
        val batch = corpus.filter(col("doc_id") % 3 === 0).limit(2000)
          .persist()
        batch.count()
        val deadDoc = corpus.filter(col("doc_id") % 16 === 0)
          .select(col("doc_id"))
        val ndT = s"scale_td_nd_$k"
        Seq(ndT, s"${ndT}_meta", s"${ndT}_deleted", s"${ndT}__next",
          s"${ndT}__next_meta")
          .foreach(graft.sources.Sources.replaceTable(spark, _))
        out("neardup") = familyOnce(
          build = () => Contamination.shingleIndexFor(corpus, "doc_id",
            "text", ndT, n = 3),
          serve = () => forceAll(Contamination.decontaminateFuzzyFromIndex(
            batch, "doc_id", "text",
            Contamination.shingleIndexFor(corpus, "doc_id", "text", ndT,
              n = 3), n = 3, minJaccard = 0.5)),
          compact = () => graft.streaming.Streaming.compactNearDedupIndex(
            corpus, s"$scaleDir/td_nd_nonexistent", "doc_id", "text", ndT,
            n = 3),
          delete = () => Contamination.deleteDocs(spark, ndT, deadDoc),
          erased = () => assertErased("neardup", k, Seq(ndT), ndT,
            df => df.filter(col("id") % 16 === 0)))
        batch.unpersist()
        if (timed) out.foreach { case (fam, t) =>
          println(f"takedown_vec $fam%-7s $k%3d×: delete ${t.delete}%.2fs  " +
            f"serve ${t.serve0}%.2fs→masked ${t.serveM}%.2fs  " +
            f"compact ${t.compact0}%.2fs→reclaim ${t.reclaim}%.2fs " +
            "(~6% deleted)")
        }
        out.toMap
      }
      tdOnce(ks.head, timed = false) // warmup (codegen/JIT)
      val tdvRuns = ks.map(k => k -> tdOnce(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      Seq("ivf", "pq", "lsh", "neardup").foreach { fam =>
        println("{\"probe\":\"takedown_vec\",\"family\":\"" + fam +
          "\",\"sf\":\"" + sfDir + "\"," +
          tdvRuns.map { case (k, m) =>
            val t = m(fam)
            f"""\"delete_t$k\":${t.delete}%.3f,\"serve_t$k\":${t.serve0}%.3f,""" +
            f"""\"serve_masked_t$k\":${t.serveM}%.3f,""" +
            f"""\"compact_t$k\":${t.compact0}%.3f,\"reclaim_t$k\":${t.reclaim}%.3f"""
          }.mkString(",") + "}")
      }
    }

    // ---------------------------------------------------------------
    // Corpus-side takedown (rounds 14-15): erasePartitionedRows' two
    // cost components, separated by a control call:
    //  - discovery: a NO-MATCH erase — the column-pruned (id col,
    //    partition cols) pass aggregated to per-partition (total,
    //    doomed) counts (round-15 shape), then nothing to rewrite.
    //    Grows with corpus COLUMN bytes (two thin columns), the floor
    //    any id-addressed corpus operation pays.
    //  - erase: the real call — discovery + basis listings + the
    //    basis-pinned survivor rewrite of the 2 (of 20) affected
    //    source partitions + catch-up diff + commit + drop.
    //    erase − discovery ≈ the rewrite, which grows with
    //    AFFECTED-partition bytes only.
    // Row accounting asserted in-probe: affected partitions' raw files
    // carry no doomed ids post-erase.
    // ---------------------------------------------------------------
    if (opSelected("takedown_corpus")) {
      import graft.operators.Layout
      def onceAt(k: Int, timed: Boolean): (Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val corpus = frames(k)
        val tbl = s"scale_td_corpus_$k"
        graft.sources.Sources.replaceTable(spark, tbl)
        corpus.write.mode("overwrite").format("parquet")
          .partitionBy("source").saveAsTable(tbl) // untimed build
        val t0 = System.nanoTime()
        require(Layout.erasePartitionedRows(spark, tbl,
          corpus.filter(col("doc_id") === -1L).select(col("doc_id"))) == 0,
          s"no-match erase touched partitions at $k×")
        val tDisc = (System.nanoTime() - t0) / 1e9
        val doomed = corpus
          .filter(col("source").isin("src3", "src7") &&
            col("doc_id") % 7 === 3)
          .select(col("doc_id"))
        val t1 = System.nanoTime()
        require(Layout.erasePartitionedRows(spark, tbl, doomed) == 2,
          s"expected 2 affected partitions at $k×")
        val tErase = (System.nanoTime() - t1) / 1e9
        val loc = Layout.tableLocation(spark, tbl)
        require(spark.read
          .parquet(s"$loc/source=src3", s"$loc/source=src7")
          .join(broadcast(doomed), Seq("doc_id"), "left_semi").isEmpty,
          s"doomed ids survived in the affected partitions' files at $k×")
        graft.sources.Sources.replaceTable(spark, tbl)
        if (timed) println(f"takedown_corpus $k%3d×: discovery $tDisc%.2fs  " +
          f"erase $tErase%.2fs  (2 of 20 partitions affected)")
        (tDisc, tErase)
      }
      onceAt(ks.head, timed = false) // warmup (codegen/JIT)
      val tcRuns = ks.map(k => k -> onceAt(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      println("{\"probe\":\"takedown_corpus\",\"sf\":\"" + sfDir + "\"," +
        tcRuns.map { case (k, (d, e)) =>
          f"""\"discovery_t$k\":$d%.3f,\"erase_t$k\":$e%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // UNPARTITIONED corpus erase ladder (round 16): eraseRowsFullRewrite
    // is documented as "the expensive path by design" — this quantifies
    // exactly how expensive, beside the partitioned erase's ladder,
    // separating its two cost components:
    //  - noop: a NO-MATCH erase — the LIMIT-1 semi probe's worst case
    //    (nothing matches, so the short-circuit never fires and the
    //    probe pays a full pass over the id column alone; nothing is
    //    rewritten). The id-column-scan floor of the no-op gate.
    //  - erase: the real call — the probe short-circuits on the first
    //    doomed row, then the survivor FULL REWRITE runs as one staged
    //    write (erased count riding it as two mid-plan observations)
    //    plus the metadata-only promote. Grows with CORPUS bytes — the
    //    linear wall that is the whole argument for partitioning the
    //    corpus and using the partition-scoped variant.
    // Row accounting asserted in-probe: erased count exact, survivor
    // rows conserved, raw files clean of doomed ids.
    // ---------------------------------------------------------------
    if (opSelected("takedown_flat")) {
      import graft.operators.Layout
      def flatOnce(k: Int, timed: Boolean): (Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val corpus = frames(k)
        val tbl = s"scale_td_flat_$k"
        Seq(tbl, s"${tbl}__next").foreach(
          graft.sources.Sources.replaceTable(spark, _))
        corpus.write.mode("overwrite").format("parquet")
          .options(graft.sources.Sources.stagedWriteOptions(spark, tbl))
          .saveAsTable(tbl) // untimed build
        val total = corpus.count()
        val expectDoomed = corpus.filter(col("doc_id") % 7 === 3).count()
        val t0 = System.nanoTime()
        require(Layout.eraseRowsFullRewrite(spark, tbl,
          corpus.select((col("doc_id") + 900000000L).as("doc_id"))) == 0L,
          s"no-match erase rewrote rows at $k×")
        val tNoop = (System.nanoTime() - t0) / 1e9
        val doomed = corpus.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"))
        val t1 = System.nanoTime()
        val erased = Layout.eraseRowsFullRewrite(spark, tbl, doomed)
        val tErase = (System.nanoTime() - t1) / 1e9
        require(erased == expectDoomed,
          s"erased $erased rows at $k×, expected $expectDoomed")
        require(spark.table(tbl).count() == total - expectDoomed,
          s"survivor count drifted at $k×")
        require(spark.read
          .parquet(graft.sources.Sources.tableDataFiles(spark, tbl): _*)
          .join(broadcast(doomed), Seq("doc_id"), "left_semi").isEmpty,
          s"doomed ids survived in the promoted generation's files at $k×")
        graft.sources.Sources.replaceTable(spark, tbl)
        if (timed) println(f"takedown_flat $k%3d×: noop $tNoop%.2fs  " +
          f"erase $tErase%.2fs  ($expectDoomed of $total rows erased)")
        (tNoop, tErase)
      }
      flatOnce(ks.head, timed = false) // warmup (codegen/JIT)
      val tfRuns = ks.map(k => k -> flatOnce(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      println("{\"probe\":\"takedown_flat\",\"sf\":\"" + sfDir + "\"," +
        tfRuns.map { case (k, (n, e)) =>
          f"""\"noop_t$k\":$n%.3f,\"erase_t$k\":$e%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // Sketch-cube takedown (round 15): the sixth family's maintenance
    // ladder, quantifying the "deletion = cheap rebuild" claim
    // (Sketch.rebuildDistinctExcluding's scaladoc) beside the cube's
    // other two maintenance verbs on the SAME cube:
    //  - upsert: one aggregate over a ~6% delta + an append —
    //    delta-sized, the family's ingest verb.
    //  - takedown (rebuildDistinctExcluding): ONE aggregate over the
    //    reduced corpus, staged + promoted. HLL registers don't
    //    subtract, so this is corpus-scan-sized BY DESIGN — the claim
    //    being quantified is "one linear aggregate", not "flat".
    //  - compact: re-merge of the cube itself — GROUP-COUNT-sized
    //    (320 finest groups at every k), the near-flat curve.
    // Row conservation asserted in-probe after takedown + compact: the
    // served rollup's n_rows total equals the survivor count exactly.
    // ---------------------------------------------------------------
    if (opSelected("takedown_sketch")) {
      import graft.operators.Sketch
      val keys = Seq("source", "shard")
      def cubed(df: DataFrame): DataFrame = df
        .withColumn("shard", col("doc_id") % 16)
        .withColumn("n_chars", length(col("text")))
      def onceAt(k: Int, timed: Boolean): (Double, Double, Double) = {
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val corpus = cubed(frames(k))
        val tbl = s"scale_td_sketch_$k"
        graft.sources.Sources.replaceTable(spark, tbl)
        Sketch.buildDistinctSketches(corpus, keys, "n_chars")
          .write.mode("overwrite").format("parquet")
          .saveAsTable(tbl) // untimed build — the cube exists before the day starts
        val maxId = frames(k).agg(max("doc_id")).head().getLong(0) + 1
        val delta = corpus.filter(col("doc_id") % 16 === 1)
          .withColumn("doc_id", col("doc_id") + maxId)
        val t0 = System.nanoTime()
        Sketch.upsertDistinctSketches(delta, keys, "n_chars", tbl)
        val tUp = (System.nanoTime() - t0) / 1e9
        val full = corpus.unionByName(delta)
        val doomed = corpus.filter(col("doc_id") % 16 === 0)
          .select(col("doc_id"))
        val t1 = System.nanoTime()
        Sketch.rebuildDistinctExcluding(full, keys, "n_chars", doomed, tbl)
        val tTd = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        Sketch.compactDistinctCube(spark, tbl, keys)
        val tC = (System.nanoTime() - t2) / 1e9
        // row conservation: the promoted+compacted cube covers exactly
        // the surviving rows (pins both verbs' content)
        val served = Sketch.rollupDistinct(spark.table(tbl), Seq("source"))
          .agg(sum(col("n_rows"))).head().getLong(0)
        val want = full
          .join(broadcast(doomed), Seq("doc_id"), "left_anti").count()
        require(served == want,
          s"sketch takedown broke row conservation at $k×: " +
            s"served $served, want $want")
        graft.sources.Sources.replaceTable(spark, tbl)
        if (timed) println(f"takedown_sketch $k%3d×: upsert $tUp%.2fs  " +
          f"rebuild_excl $tTd%.2fs  compact $tC%.2fs")
        (tUp, tTd, tC)
      }
      onceAt(ks.head, timed = false) // warmup (codegen/JIT)
      val tsRuns = ks.map(k => k -> onceAt(k, timed = true))
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      println("{\"probe\":\"takedown_sketch\",\"sf\":\"" + sfDir + "\"," +
        tsRuns.map { case (k, (u, d, c)) =>
          f"""\"upsert_t$k\":$u%.3f,\"rebuild_excl_t$k\":$d%.3f,""" +
          f"""\"compact_t$k\":$c%.3f""" }
          .mkString(",") + "}")
    }

    // ---------------------------------------------------------------
    // Relational tiers (round 10): the TPC-H-shaped join path under the
    // SAME cluster-faithful contract (scaled parquet inputs on disk,
    // shuffle partitions growing with the multiplier). The seven
    // document tiers never exercise the fact-fact join path where a
    // 100× TPC-H-style workload actually lives; these two do.
    //  - join3: the q_join3_revenue shape — broadcast filtered dim →
    //    fact-fact equi-join → agg → top-k. Orderkeys are k-shifted per
    //    copy so per-key join multiplicity is CONSTANT (output scales
    //    k×, never k²).
    //  - join_skew: the same fact-fact join with 25% of all lineitem
    //    rows redirected to ONE hot orderkey, run as a plain shuffle
    //    join under AQE with skew thresholds scaled to the probe's
    //    per-partition bytes (a cluster at 100 TB hits the DEFAULT
    //    thresholds; this data is ~100× smaller per partition) — the
    //    probe REQUIRES the AQE skew split to fire, and cross-checks
    //    the manual salted-join alternative for identical results.
    // ---------------------------------------------------------------
    val relSel = Seq("join3", "join_skew").filter(opSelected)
    if (relSel.nonEmpty) {
      import org.apache.spark.sql.functions.broadcast
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord0 = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val dim = spark.read.parquet(s"$sfDir/customer.parquet")
        .select("c_custkey", "c_mktsegment")
        .filter(col("c_mktsegment") === "BUILDING")
      val relFrames = ks.map { k =>
        (0 until k).map(i => li0.select(
            (col("l_orderkey") * k + i).as("l_orderkey"),
            col("l_extendedprice"), col("l_discount")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$scaleDir/li_k=$k")
        (0 until k).map(i => ord0.select(
            (col("o_orderkey") * k + i).as("o_orderkey"),
            col("o_custkey"), col("o_orderdate"), col("o_orderpriority")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$scaleDir/ord_k=$k")
        k -> (spark.read.parquet(s"$scaleDir/li_k=$k"),
          spark.read.parquet(s"$scaleDir/ord_k=$k"))
      }.toMap

      def withConfs[T](kvs: (String, String)*)(f: => T): T = {
        val prev = kvs.map { case (c, _) => c -> spark.conf.get(c) }
        try { kvs.foreach { case (c, v) => spark.conf.set(c, v) }; f }
        finally prev.foreach { case (c, v) => spark.conf.set(c, v) }
      }

      def planHasSkewHandling(df: DataFrame): Boolean = {
        import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
        import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
        var found = false
        graft.operators.Layout.foreachPlanNode(df.queryExecution.executedPlan) {
          case s: SortMergeJoinExec if s.isSkewJoin => found = true
          case s: ShuffledHashJoinExec if s.isSkewJoin => found = true
          case r: AQEShuffleReadExec if r.hasSkewedPartition => found = true
          case _ => ()
        }
        found
      }

      if (relSel.contains("join3")) {
        def join3(k: Int): Long = {
          val (li, ord) = relFrames(k)
          forceAll(ord.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
            .join(li, col("o_orderkey") === col("l_orderkey"))
            .groupBy(col("o_orderkey"), col("o_orderdate"))
            .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("revenue"))
            .orderBy(col("revenue").desc, col("o_orderkey")).limit(10))
        }
        join3(ks.head) // untimed warmup
        val runs = ks.map { k =>
          spark.conf.set("spark.sql.shuffle.partitions",
            shufflePartitionsFor(k).toString)
          val (t, n) = time(join3(k))
          (k, t, n)
        }
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        val line = runs.map { case (k, t, _) => f"${k}x=$t%.2fs" }.mkString(" ")
        val growth = ks.sliding(2).collect { case Seq(a, b) =>
          f"$a→$b: ${runs.find(_._1 == b).get._2 / runs.find(_._1 == a).get._2}%.2f× (data ${b.toDouble / a}%.0f×)"
        }.mkString("  ")
        println(f"join3          $line  growth $growth")
        println("{\"probe\":\"scale_join3\",\"sf\":\"" + sfDir + "\"," +
          runs.map { case (k, t, _) => f"""\"t$k\":$t%.3f""" }.mkString(",") + "}")
      }

      if (relSel.contains("join_skew")) {
        def skewOnce(k: Int): (Int, Double, Double) = {
          val (li, ord) = relFrames(k)
          val hot = ord.agg(min(col("o_orderkey"))).head().getLong(0)
          // 25% of ALL lineitem rows onto one existing orderkey
          val liSkew = li.withColumn("l_orderkey",
            when(col("l_orderkey") % 4 === 0, lit(hot))
              .otherwise(col("l_orderkey")))
          def agged(j: DataFrame): DataFrame = j
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_items"),
              round(sum(col("l_extendedprice")), 2).as("sum_price"))
          spark.conf.set("spark.sql.shuffle.partitions",
            shufflePartitionsFor(k).toString)
          val out = withConfs(
            "spark.sql.autoBroadcastJoinThreshold" -> "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m") {
            val aqeJoin = agged(
              liSkew.join(ord, col("l_orderkey") === col("o_orderkey")))
            val t0 = System.nanoTime()
            val aqeRows = aqeJoin.collect()
            val tAqe = (System.nanoTime() - t0) / 1e9
            require(planHasSkewHandling(aqeJoin),
              s"AQE skew split did not fire at $k× — thresholds vs data out of tune")
            val salted = agged(graft.core.GTable(liSkew, "li")
              .joinSalted(graft.core.GTable(ord, "ord"), 8,
                "l_orderkey" -> "o_orderkey").df)
            val t1 = System.nanoTime()
            val saltRows = salted.collect()
            val tSalt = (System.nanoTime() - t1) / 1e9
            // counts must agree EXACTLY; the double sums only to relative
            // tolerance — tens of millions of additions in different
            // orders (skew-split vs salted partitioning) legitimately
            // differ in the last floating-point digits
            def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
              .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
            val (am, sm) = (keyed(aqeRows), keyed(saltRows))
            require(am.keySet == sm.keySet &&
              am.forall { case (p, (n, sum)) =>
                sm(p)._1 == n &&
                  math.abs(sm(p)._2 - sum) <= 1e-9 * math.abs(sum) },
              s"salted join disagrees with AQE skew join at $k×: $am vs $sm")
            (k, tAqe, tSalt)
          }
          out
        }
        skewOnce(ks.head) // untimed warmup (codegen/JIT)
        val skewRuns = ks.map(skewOnce)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        val line = skewRuns.map { case (k, a, s) =>
          f"${k}x: aqe=$a%.2fs salted=$s%.2fs" }.mkString("  ")
        println(s"join_skew      $line  (skew split fired at every k)")
        println("{\"probe\":\"scale_join_skew\",\"sf\":\"" + sfDir + "\"," +
          skewRuns.map { case (k, a, s) =>
            f"""\"aqe_t$k\":$a%.3f,\"salted_t$k\":$s%.3f""" }.mkString(",") + "}")
      }
      if (selOps.isEmpty && !opSelected("neardedup")) { spark.stop(); return }
    }

    val results = selOps.map { case (name, op) =>
      op(frames(ks.head)) // untimed warmup (codegen/JIT)
      val runs = ks.map { k =>
        spark.conf.set("spark.sql.shuffle.partitions",
          shufflePartitionsFor(k).toString)
        val (t, n) = time(op(frames(k)))
        if (name == "cc_cluster") {
          // per-stage walls, published by connectedComponents: the next
          // wall-time regression is attributable from the log alone
          // (round 10 spent a session locating a 1.33× spread in the
          // edge stage). The propagation loop's share is ASSERTED
          // bounded — the r10 attribution ("variance lives in candidate
          // generation + edge checkpoint, not the CC loop") stays pinned.
          val st = graft.operators.Dedup.lastCcStages
            .getOrElse(sys.error("cc_cluster ran but recorded no stage walls"))
          println(f"""{"probe":"cc_stages","k":$k,""" +
            f""""edge_pin":${st.edgePinSec}%.3f,"init":${st.initSec}%.3f,""" +
            f""""rounds":${st.roundsSec}%.3f,"n_rounds":${st.nRounds},""" +
            f""""rounds_share":${st.roundsSec / st.totalSec}%.3f,""" +
            f""""op_wall":$t%.3f}""")
          require(st.roundsSec <= 0.7 * st.totalSec,
            f"CC propagation-loop share ${st.roundsSec / st.totalSec}%.2f " +
              f"exceeds 0.70 at $k× — the loop, not candidate generation, " +
              "is where the wall went; the r10 attribution no longer holds")
        }
        (k, t, n)
      }
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val byK = runs.map { case (k, t, _) => k -> t }.toMap
      val line = runs.map { case (k, t, n) => f"${k}x=$t%.2fs(n=$n)" }
        .mkString(" ")
      // growth per step vs the DATA growth of that step: g < dataRatio
      // is sub-linear
      // collect only FULL windows: sliding(2) over a single-multiplier
      // run yields one partial Seq(k), which must not crash the report
      val growth = ks.sliding(2).collect { case Seq(a, b) =>
        (a, b, byK(b) / byK(a), b.toDouble / a)
      }.toSeq
      val gStr = growth.map { case (a, b, g, d) =>
        f"$a→$b: $g%.2f× (data $d%.0f×)"
      }.mkString("  ")
      println(f"$name%-14s $line  growth $gStr")
      (name, runs, growth)
    }
    println("{\"probe\":\"scale_smoke\",\"sf\":\"" + sfDir + "\",\"ops\":{" +
      results.map { case (n, runs, growth) =>
        val ts = runs.map { case (k, t, _) => f"""\"t$k\":$t%.3f""" }
          .mkString(",")
        val gs = growth.map { case (a, b, g, _) =>
          f"""\"g${a}_$b\":$g%.2f""" }.mkString(",")
        s""""$n":{$ts,$gs}"""
      }.mkString(",") + "}}")

    // ---------------------------------------------------------------
    // Streaming near-dup build-vs-serve: per-MICRO-BATCH cost against a
    // corpus scaled k×. The batch is FIXED (the 1× doc_id%3==0 slice,
    // copy-0 suffixed so it near-matches the corpus's copy 0 and the
    // Jaccard verify does real work); only the corpus side grows. The
    // in-plan tier re-explodes the corpus inside every batch's plan
    // (explode + shuffle + sort of k× data per trigger); the serve tier
    // joins the persisted shingle-bucketed index (built UNTIMED, once
    // per corpus generation) with no index-side exchange. Both scans
    // are O(corpus), so both grow with k — the claim under test is the
    // serve tier's smaller slope (no per-trigger explode/shuffle/sort).
    // ---------------------------------------------------------------
    import graft.operators.Contamination
    if (!opSelected("neardedup")) { spark.stop(); return }
    val batch = scaled(docs, 1).filter(col("doc_id") % 3 === 0).persist()
    batch.count()
    def ndOnce(k: Int, timed: Boolean): Seq[(String, Double, Long)] = {
      val corpus = frames(k)
      val tbl = s"scale_shingle_idx_$k"
      val idx = Contamination.shingleIndexFor(corpus, "doc_id", "text",
        tbl, n = 3) // build is untimed: once per corpus generation
      val (tIn, nIn) = time(forceAll(Contamination.decontaminateFuzzy(
        batch, "doc_id", "text", corpus, "doc_id", "text",
        n = 3, minJaccard = 0.5, broadcastBench = false)))
      val (tIdx, nIdx) = time(forceAll(
        Contamination.decontaminateFuzzyFromIndex(
          batch, "doc_id", "text", idx, n = 3, minJaccard = 0.5)))
      require(nIn == nIdx, s"serve/in-plan survivor mismatch at $k×")
      if (timed)
        println(f"neardedup $k%3d×: in-plan $tIn%.2fs  serve $tIdx%.2fs  " +
          f"(survivors $nIdx)")
      Seq(("inplan", tIn, nIn), ("serve", tIdx, nIdx))
    }
    ndOnce(ks.head, timed = false) // warmup (codegen/JIT)
    val ndRuns = ks.map(k => k -> ndOnce(k, timed = true))
    ks.foreach { k =>
      graft.sources.Sources.replaceTable(spark, s"scale_shingle_idx_$k")
      graft.sources.Sources.replaceTable(spark, s"scale_shingle_idx_${k}_meta")
    }
    println("{\"probe\":\"neardedup_serve\",\"sf\":\"" + sfDir + "\"," +
      ndRuns.map { case (k, rs) =>
        rs.map { case (n, t, _) => f"""\"${n}_t$k\":$t%.3f""" }.mkString(",")
      }.mkString(",") + "}")
    spark.stop()
  }
}
