package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.functions.BitUtil
import graft.functions.LayoutExpressions.interleave_bits
import graft.operators.Layout

/** Z-order layout: Morton kernel values, content-preserving rewrite, and
  * the actual skip-stat win over a one-dimensional sort. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("BitUtil.interleave: classic Morton values (interpreted kernel)") {
    def z(vals: Int*): Long =
      BitUtil.interleave(new GenericArrayData(vals.toArray), 16)
    assert(z(1, 0) == 1L)   // dim 0 owns bit lane 0
    assert(z(0, 1) == 2L)   // dim 1 owns bit lane 1
    assert(z(3, 3) == 15L)  // (11, 11) -> 1111
    assert(z(0, 0) == 0L)
    assert(z(65535, 65535) == (1L << 32) - 1) // full 16-bit frame
    // 3 dims: (1,1,1) -> bits 0,1,2
    assert(BitUtil.interleave(new GenericArrayData(Array(1, 1, 1)), 8) == 7L)
  }

  test("interleave_bits matches the kernel through codegen") {
    val got = Seq((1, 0), (0, 1), (3, 3), (7, 2))
      .toDF("x", "y")
      .select(interleave_bits(Seq(col("x"), col("y")), 16).as("z"))
      .orderBy("z").collect().map(_.getLong(0)).toSeq
    def ref(x: Int, y: Int): Long =
      BitUtil.interleave(new GenericArrayData(Array(x, y)), 16)
    assert(got == Seq((1, 0), (0, 1), (3, 3), (7, 2)).map((ref _).tupled).sorted)
  }

  test("writeZOrdered preserves content exactly and bounds file count") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val out = "/tmp/graft-test/zorder_roundtrip"
    Layout.writeZOrdered(li, out, Seq("l_orderkey", "l_partkey"), nFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.inputFiles.length <= 8)
    // bag equality: layout rewrite must not add/drop/alter any row
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("z-order layout skips on BOTH dims where a linear sort skips on one") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zDir = "/tmp/graft-test/zorder_skip"
    val linDir = "/tmp/graft-test/linear_skip"
    Layout.writeZOrdered(li, zDir, Seq("l_orderkey", "l_partkey"), nFiles = 32)
    li.repartitionByRange(32, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(linDir)
    val r = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    def band(mn: Long, mx: Long): (Double, Double) =
      (mn + math.floor((mx - mn) * 0.45), mn + math.floor((mx - mn) * 0.50))
    val (okLo, okHi) = band(r.getLong(0), r.getLong(1))
    val (pkLo, pkHi) = band(r.getLong(2), r.getLong(3))
    val zStats = Layout.fileRangeStats(spark, zDir, Seq("l_orderkey", "l_partkey"))
      .localCheckpoint(true)
    val linStats = Layout.fileRangeStats(spark, linDir, Seq("l_orderkey", "l_partkey"))
      .localCheckpoint(true)
    // z-order: a 5% band on EITHER dim reads under half the files
    // (measured 0.38 / 0.25 at this SF; gate bound 0.6 leaves margin)
    assert(Layout.overlapFraction(zStats, "l_orderkey", okLo, okHi) <= 0.5)
    assert(Layout.overlapFraction(zStats, "l_partkey", pkLo, pkHi) <= 0.5)
    // one-dimensional sort: perfect on its key, useless on the other —
    // the asymmetry z-order exists to remove
    assert(Layout.overlapFraction(linStats, "l_orderkey", okLo, okHi) <= 0.2)
    assert(Layout.overlapFraction(linStats, "l_partkey", pkLo, pkHi) >= 0.9)
  }

  test("z-order over a STRING x numeric pair: both dims skip (documents source x n_chars)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("source", "n_chars", "doc_id")
    val dir = "/tmp/graft-test/zorder_string"
    Layout.writeZOrdered(docs, dir, Seq("source", "n_chars"), nFiles = 16)
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    val stats = Layout.fileRangeStats(spark, dir, Seq("n_chars"))
      .localCheckpoint(true)
    // a single-source point query: files whose [min,max] SOURCE range
    // contains it (string stats need their own comparison)
    val one = spark.read.parquet(dir).groupBy(input_file_name().as("file"))
      .agg(min(col("source")).as("smin"), max(col("source")).as("smax"))
      .filter(col("smin") <= lit("src12") && col("smax") >= lit("src12"))
      .count()
    val total = back.inputFiles.length
    assert(one.toDouble / total <= 0.5,
      s"string-dim point query touched $one/$total files")
    // and the numeric dim still skips on a band
    val r = docs.agg(min("n_chars"), max("n_chars")).head()
    val lo = r.getLong(0) + math.floor((r.getLong(1) - r.getLong(0)) * 0.45)
    val hi = r.getLong(0) + math.floor((r.getLong(1) - r.getLong(0)) * 0.50)
    assert(Layout.overlapFraction(stats, "n_chars", lo, hi) <= 0.6)
  }

  test("compact: content-preserving file-count rewrite that can keep a sort") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val scattered = "/tmp/graft-test/compact_in"
    val compacted = "/tmp/graft-test/compact_out"
    li.repartition(64).write.mode("overwrite").parquet(scattered) // small-files state
    val n = li.count()
    Layout.compact(spark, scattered, compacted, targetRowsPerFile = n / 4,
      sortCols = Seq("l_orderkey"))
    val back = spark.read.parquet(compacted)
    assert(back.inputFiles.length <= 5, s"got ${back.inputFiles.length} files")
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    // the kept sort gives the key a tight per-file layout
    val stats = Layout.fileRangeStats(spark, compacted, Seq("l_orderkey"))
      .localCheckpoint(true)
    val r = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val lo = r.getLong(0) + math.floor((r.getLong(1) - r.getLong(0)) * 0.45)
    val hi = r.getLong(0) + math.floor((r.getLong(1) - r.getLong(0)) * 0.50)
    assert(Layout.overlapFraction(stats, "l_orderkey", lo, hi) <= 0.5)
    intercept[IllegalArgumentException] {
      Layout.compact(spark, scattered, scattered, targetRowsPerFile = 10)
    }
    // nested output would double rows on the next recursive read
    intercept[IllegalArgumentException] {
      Layout.compact(spark, scattered, s"$scattered/nested", targetRowsPerFile = 10)
    }
  }

  test("compact with zOrderCols keeps BOTH dims tight through the rewrite") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zDir = "/tmp/graft-test/zcompact_in"
    val outDir = "/tmp/graft-test/zcompact_out"
    Layout.writeZOrdered(li, zDir, Seq("l_orderkey", "l_partkey"), nFiles = 64)
    Layout.compact(spark, zDir, outDir, targetRowsPerFile = li.count() / 16,
      zOrderCols = Seq("l_orderkey", "l_partkey"))
    val back = spark.read.parquet(outDir)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    val r = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    def band(mn: Long, mx: Long): (Double, Double) =
      (mn + math.floor((mx - mn) * 0.45), mn + math.floor((mx - mn) * 0.50))
    val (okLo, okHi) = band(r.getLong(0), r.getLong(1))
    val (pkLo, pkHi) = band(r.getLong(2), r.getLong(3))
    val stats = Layout.fileRangeStats(spark, outDir, Seq("l_orderkey", "l_partkey"))
      .localCheckpoint(true)
    // a sortCols=zCols compaction would leave l_partkey near 1.0 here
    assert(Layout.overlapFraction(stats, "l_orderkey", okLo, okHi) <= 0.6)
    assert(Layout.overlapFraction(stats, "l_partkey", pkLo, pkHi) <= 0.6)
  }

  test("partitionedTableFor: static prune selects exactly the named " +
      "directories; scheme drift rebuilds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val part = Layout.partitionedTableFor(docs, "layout_spec_part", "source")
    // the build records the table's size: without statistics the planner
    // takes spark.sql.defaultSizeInBytes (Long.MaxValue) for it
    val size = part.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size < BigInt(1L << 30), s"no size estimate for the partitioned table: $size")
    val total = Layout.scanPruneStats(part)
    assert(total == Seq(Layout.PruneStat(20, false, false)), s"got $total")
    val pruned = part.filter(col("source").isin("src3", "src7"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val st = Layout.scanPruneStats(pruned)
    assert(st == Seq(Layout.PruneStat(2, true, false)), s"got $st")
    // values survive the layout: pruned scan == plain filtered parquet
    val want = docs.filter(col("source").isin("src3", "src7"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty)
    // a same-named UNPARTITIONED table is scheme drift → rebuild
    // (replaceTable first: the in-memory catalog forgets tables across
    // JVMs but the warehouse directory survives)
    graft.sources.Sources.replaceTable(spark, "layout_spec_drift")
    docs.limit(5).write.mode("overwrite").format("parquet")
      .saveAsTable("layout_spec_drift")
    val rebuilt = Layout.partitionedTableFor(docs, "layout_spec_drift", "source")
    assert(Layout.scanPruneStats(rebuilt).nonEmpty, "must be partitioned")
    assert(rebuilt.count() == docs.count(), "rebuild must carry full data")
  }

  test("two-level partitioning: a prefix filter prunes whole subtrees; " +
      "a full filter selects the exact cell set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("bucket", (col("doc_id") % 3).cast("string"))
    val part = Layout.partitionedTableFor(docs, "layout_spec_part2",
      Seq("source", "bucket")) // 20 × 3 = 60 directories
    assert(Layout.scanPruneStats(part) ==
      Seq(Layout.PruneStat(60, false, false)))
    // prefix (source only): 2 sources × all 3 buckets = 6 cells
    val pfx = Layout.scanPruneStats(
      part.filter(col("source").isin("src3", "src7")))
    assert(pfx == Seq(Layout.PruneStat(6, true, false)), s"got $pfx")
    // full hierarchy: 2 sources × 1 bucket = 2 cells
    val full = Layout.scanPruneStats(
      part.filter(col("source").isin("src3", "src7") &&
        col("bucket") === "1"))
    assert(full == Seq(Layout.PruneStat(2, true, false)), s"got $full")
    // content preserved through the two-level rewrite
    val want = docs.filter(col("source").isin("src3", "src7") &&
      col("bucket") === "1")
    val got = part.filter(col("source").isin("src3", "src7") &&
      col("bucket") === "1")
    assert(got.select(docs.columns.map(col): _*)
      .exceptAll(want).isEmpty &&
      want.exceptAll(got.select(docs.columns.map(col): _*)).isEmpty)
  }

  test("partitioned layout: NULL partition values round-trip (Hive " +
      "default partition) and stay out of value-filtered scans") {
    val df = Seq((1L, "a", Some("s1")), (2L, "b", None), (3L, "c", Some("s2")))
      .toDF("id", "v", "src")
    val part = Layout.partitionedTableFor(df, "layout_spec_nulls", "src")
    // content round-trips, including the NULL-source row
    assert(part.count() == 3)
    assert(part.filter(col("src").isNull).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a value filter selects only its directory — the NULL
    // (__HIVE_DEFAULT_PARTITION__) directory is pruned, not read
    val st = Layout.scanPruneStats(part.filter(col("src") === "s1"))
    assert(st == Seq(Layout.PruneStat(1, true, false)), s"got $st")
  }

  test("dynamic partition pruning: the runtime filter skips directories " +
      "the planner could not") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val part = Layout.partitionedTableFor(docs, "layout_spec_part", "source")
    val perSrc = docs.groupBy(col("source")).agg(sum(col("n_chars")).as("t"))
    val thr = perSrc.agg(avg(col("t"))).head().getDouble(0)
    val nAbove = perSrc.filter(col("t") > lit(thr)).count().toInt
    assert(nAbove > 0 && nAbove < 20, s"fixture degenerate: $nAbove")
    val dim = perSrc.filter(col("t") > lit(thr)).select(col("source"))
    val q = part.join(broadcast(dim), "source")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    Layout.requireDynamicPrune(q)
    q.collect() // evaluate, then read the runtime-pruned listing
    val dyn = Layout.dynamicPruneCounts(q)
    assert(dyn == Seq(nAbove),
      s"runtime prune read $dyn partitions, wanted Seq($nAbove) of 20")
  }

  test("zValue edge cases: constant column and nulls bucket low") {
    val df = Seq((Some(1L), 5L), (None, 5L), (Some(3L), 5L))
      .toDF("a", "b")
    // constant b collapses to one bucket; null a maps to the min bucket
    val z = df.select(Layout.zValue(df, Seq("a", "b"), bits = 8).as("z"))
      .collect().map(_.getLong(0))
    assert(z.length == 3)
    assert(z(1) == z.min) // the null row sorts with the minimum
  }

  test("erasePartitionedRows: rewrites ONLY affected partitions (untouched " +
      "files byte-identical), drops fully-doomed ones, erases physically") {
    import graft.sources.Sources
    val table = "layout_erase"
    Sources.replaceTable(spark, table)
    val rows = Seq(
      (1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "b", 40),
      (5L, "c", 50), (6L, "c", 60)).toDF("id", "part", "v")
    rows.write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    val before = Sources.tableDataFiles(spark, table)
    // doom one row of 'b', ALL rows of 'c'; 'a' untouched
    val n = Layout.erasePartitionedRows(spark, table,
      Seq(3L, 5L, 6L).toDF("id"))
    assert(n == 2, s"expected 2 affected partitions, got $n")
    val after = Sources.tableDataFiles(spark, table)
    assert(after.filter(_.contains("part=a")).toSet ==
      before.filter(_.contains("part=a")).toSet,
      "untouched partition's files changed — the rewrite was not " +
        "partition-pruned")
    assert(after.forall(!_.contains("part=c")),
      "fully-doomed partition's files survived the drop")
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L),
      "served content differs from the reduced corpus")
    // physical: the rewritten partition's raw files carry no doomed id
    assert(spark.read.parquet(after.filter(_.contains("part=b")): _*)
      .filter(col("id") === 3L).isEmpty,
      "doomed row still present in the rewritten partition's files")
    // erasing ids that match nothing touches nothing
    val before2 = Sources.tableDataFiles(spark, table)
    assert(Layout.erasePartitionedRows(spark, table, Seq(99L).toDF("id")) == 0)
    assert(Sources.tableDataFiles(spark, table).toSet == before2.toSet,
      "a no-match erase rewrote files")
  }

  test("erasePartitionedRows: multi-level partitioning — only the exact " +
      "(outer, inner) leaves touch; a fully-doomed leaf drops while its " +
      "siblings under the same outer value survive") {
    import graft.sources.Sources
    val table = "layout_erase_ml"
    Sources.replaceTable(spark, table)
    Seq(
      (1L, "a", 1, 10), (2L, "a", 2, 20),
      (3L, "b", 1, 30), (4L, "b", 1, 40), (5L, "b", 2, 50))
      .toDF("id", "part", "day", "v")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part", "day").saveAsTable(table)
    val before = Sources.tableDataFiles(spark, table)
    // doom: ALL of (b, day=1); (a, *) and (b, day=2) untouched
    val n = Layout.erasePartitionedRows(spark, table,
      Seq(3L, 4L).toDF("id"))
    assert(n == 1, s"expected 1 affected leaf, got $n")
    val after = Sources.tableDataFiles(spark, table)
    val untouched = (f: String) => !f.contains("part=b/day=1")
    assert(after.filter(untouched).toSet == before.filter(untouched).toSet,
      "sibling leaves' files changed — the rewrite was not leaf-pruned")
    assert(after.forall(!_.contains("part=b/day=1")),
      "fully-doomed leaf's files survived the drop")
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
  }

  test("erasePartitionedRows catch-up: rows appended into affected " +
      "partitions between discovery and commit survive the erase (minus " +
      "doomed ids); a fully-doomed partition that a mid-erase append " +
      "re-populates is NOT dropped") {
    import graft.sources.Sources
    val table = "layout_erase_catchup"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "a"), (3L, 30, "b"), (4L, 40, "b"),
      (5L, 50, "c"), (6L, 60, "c"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    // doom one row of 'b', ALL rows of 'c'; mid-erase, a live ingest
    // appends: a survivor into 'b', a survivor into fully-doomed 'c',
    // and a doomed id into 'b' (the catch-up must filter it)
    val n = Layout.erasePartitionedRows(spark, table,
      Seq(3L, 5L, 6L, 9L).toDF("id"),
      beforeCommit = () =>
        Seq((7L, 70, "b"), (8L, 80, "c"), (9L, 90, "b"))
          .toDF("id", "v", "part")
          .write.mode("append").insertInto(table),
      afterCommit = () => ())
    assert(n == 2, s"expected 2 affected partitions, got $n")
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 7L, 8L),
      "mid-erase appends were lost (or a doomed append survived)")
    // 'c' re-emitted via the catch-up: still a live partition
    assert(Sources.tableDataFiles(spark, table)
      .exists(_.contains("part=c")),
      "fully-doomed partition re-populated by the catch-up was dropped")
    // physical: no raw file carries a doomed id
    assert(spark.read.parquet(Sources.tableDataFiles(spark, table): _*)
      .filter(col("id").isin(3L, 5L, 6L, 9L)).isEmpty,
      "doomed ids present in raw files after the catch-up erase")
  }

  test("erasePartitionedRows: a mid-erase append of ONLY already-doomed " +
      "ids into a fully-doomed partition cannot veto the drop — the " +
      "erase still completes physically (the silent-failure regression)") {
    import graft.sources.Sources
    val table = "layout_erase_doomed_delta"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "a"), (3L, 30, "b"), (4L, 40, "b"),
      (5L, 50, "c"), (6L, 60, "c"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    // doom one row of 'b' and ALL of 'c'; a raw (marker-bypassing)
    // writer appends a row whose id is ITSELF doomed into 'c' mid-erase
    // — the catch-up filters it to zero survivors, so the overwrite
    // never touches 'c'; the consumed-file drop gate must still drop it
    val n = Layout.erasePartitionedRows(spark, table,
      Seq(3L, 5L, 6L, 9L).toDF("id"),
      beforeCommit = () =>
        Seq((9L, 90, "c")).toDF("id", "v", "part")
          .write.mode("append").insertInto(table),
      afterCommit = () => ())
    assert(n == 2, s"expected 2 affected partitions, got $n")
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L),
      "doomed rows still served after a doomed-only mid-erase append")
    assert(Sources.tableDataFiles(spark, table).forall(!_.contains("part=c")),
      "fully-doomed partition re-populated ONLY by doomed ids was not " +
        "dropped — the erase silently failed")
    assert(spark.read.parquet(Sources.tableDataFiles(spark, table): _*)
      .filter(col("id").isin(3L, 5L, 6L, 9L)).isEmpty,
      "doomed ids present in raw files")
    assert(!Layout.eraseInFlight(spark, table),
      "completed erase left its _erasing marker behind")
  }

  test("erasePartitionedRows residue check: a writer racing the " +
      "overwrite JOB itself with doomed bytes makes the erase fail " +
      "LOUDLY (never silent success); a re-run with the same ids heals") {
    import graft.sources.Sources
    val table = "layout_erase_residue"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "a"), (3L, 30, "b"), (4L, 40, "b"),
      (5L, 50, "c"), (6L, 60, "c"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    val doomed = Seq(3L, 5L, 6L, 9L).toDF("id")
    // the afterCommit hook lands INSIDE the job window (after the
    // catch-up listing consumed its delta): a marker-bypassing writer
    // commits a doomed id into fully-doomed 'c' — unconsumed by the
    // rewrite, so the drop is vetoed and the residue check must throw
    val e = intercept[IllegalStateException] {
      Layout.erasePartitionedRows(spark, table, doomed,
        beforeCommit = () => (),
        afterCommit = () =>
          Seq((9L, 90, "c")).toDF("id", "v", "part")
            .write.mode("append").insertInto(table))
    }
    assert(e.getMessage.contains("INCOMPLETE"),
      s"wrong failure shape: ${e.getMessage}")
    // consistent (never torn): survivors serve, the raced partition
    // keeps serving everything it held
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 5L, 6L, 9L))
    assert(Layout.eraseInFlight(spark, table),
      "an incomplete erase must keep its marker so appends stay refused")
    // re-run with the same ids converges and completes the erase
    assert(Layout.erasePartitionedRows(spark, table, doomed) == 1)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    assert(Sources.tableDataFiles(spark, table).forall(!_.contains("part=c")))
    assert(!Layout.eraseInFlight(spark, table))
  }

  test("_erasing marker contract: the library append verb refuses " +
      "partitions under erase (loudly, retry-able), admits unaffected " +
      "ones mid-erase, and resumes after the marker retires") {
    import graft.sources.Sources
    val table = "layout_erase_marker"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "a"), (3L, 30, "b"), (4L, 40, "b"),
      (5L, 50, "c"), (6L, 60, "c"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    var refusedMsg = ""
    val n = Layout.erasePartitionedRows(spark, table,
      Seq(3L, 5L, 6L).toDF("id"),
      beforeCommit = () => {
        assert(Layout.eraseInFlight(spark, table))
        // an append into an affected partition is REFUSED, not raced
        refusedMsg = intercept[IllegalStateException] {
          Layout.appendPartitionedRows(spark, table,
            Seq((7L, 70, "b")).toDF("id", "v", "part"))
        }.getMessage
        // a segment sink targeting the affected partition's subtree is
        // refused by the same commit-time guard; elsewhere is fine
        val bLoc = spark.sessionState.catalog
          .listPartitions(org.apache.spark.sql.catalyst.TableIdentifier(table))
          .find(_.spec("part") == "b").get.location.toString
        intercept[IllegalStateException] {
          Layout.requireNotUnderErase(spark, s"$bLoc/ingest_segments")
        }
        Layout.requireNotUnderErase(spark, "/tmp/graft-test/elsewhere")
        // an append into an UNaffected partition proceeds mid-erase
        Layout.appendPartitionedRows(spark, table,
          Seq((8L, 80, "a")).toDF("id", "v", "part"))
      },
      afterCommit = () => ())
    assert(n == 2)
    assert(refusedMsg.contains("under a live erase"),
      s"refusal must name the erase: $refusedMsg")
    // marker retired on completion; the refused append now succeeds
    assert(!Layout.eraseInFlight(spark, table))
    Layout.appendPartitionedRows(spark, table,
      Seq((7L, 70, "b")).toDF("id", "v", "part"))
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 7L, 8L),
      "mid-erase unaffected append or post-erase retry lost")
    // a CRASHED erase keeps refusing until the re-run heals
    intercept[RuntimeException] {
      Layout.erasePartitionedRows(spark, table, Seq(4L).toDF("id"),
        beforeCommit = () => throw new RuntimeException("kill"),
        afterCommit = () => ())
    }
    assert(Layout.eraseInFlight(spark, table),
      "a crashed erase must leave the marker up")
    intercept[IllegalStateException] {
      Layout.appendPartitionedRows(spark, table,
        Seq((10L, 100, "b")).toDF("id", "v", "part"))
    }
    assert(Layout.erasePartitionedRows(spark, table, Seq(4L).toDF("id")) == 1)
    assert(!Layout.eraseInFlight(spark, table))
    Layout.appendPartitionedRows(spark, table,
      Seq((10L, 100, "b")).toDF("id", "v", "part"))
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 7L, 8L, 10L))
  }

  test("erasePartitionedRows: a partition relocated to a SIBLING " +
      "directory sharing the location as a string prefix refuses (the " +
      "path-component guard)") {
    import graft.sources.Sources
    val table = "layout_erase_reloc"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "b"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    val loc = new org.apache.hadoop.fs.Path(Layout.tableLocation(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // relocate part=b to <loc>_ext/part=b — OUTSIDE the table location
    // but sharing it as a raw string prefix (the guard's blind spot
    // before the path-component fix)
    val ext = new org.apache.hadoop.fs.Path(loc.toString + "_ext/part=b")
    fs.mkdirs(ext.getParent)
    assert(fs.rename(new org.apache.hadoop.fs.Path(loc, "part=b"), ext))
    spark.sql(s"ALTER TABLE `$table` PARTITION (part='b') " +
      s"SET LOCATION '${ext.toString}'")
    spark.catalog.refreshTable(table)
    assert(spark.table(table).count() == 2, "relocated partition unreadable")
    val e = intercept[IllegalArgumentException] {
      Layout.erasePartitionedRows(spark, table, Seq(2L).toDF("id"))
    }
    assert(e.getMessage.contains("outside the table location"),
      s"wrong refusal: ${e.getMessage}")
    fs.delete(new org.apache.hadoop.fs.Path(loc.toString + "_ext"), true)
  }

  test("erasePartitionedRows kill windows: a crash before the commit " +
      "leaves the table byte-identical; a crash between commit and drop " +
      "serves consistently and a re-run converges") {
    import graft.sources.Sources
    val table = "layout_erase_kill"
    def build(): Unit = {
      Sources.replaceTable(spark, table)
      Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "b"), (4L, 40, "c"))
        .toDF("id", "v", "part")
        .write.mode("overwrite").format("parquet")
        .partitionBy("part").saveAsTable(table)
    }
    val doomed = Seq(3L, 4L).toDF("id") // partial 'b', all of 'c'
    // window 1: crash BEFORE the overwrite commit — nothing changed
    build()
    val before = Sources.tableDataFiles(spark, table).toSet
    intercept[RuntimeException] {
      Layout.erasePartitionedRows(spark, table, doomed,
        beforeCommit = () => throw new RuntimeException("kill"),
        afterCommit = () => ())
    }
    assert(Sources.tableDataFiles(spark, table).toSet == before,
      "a pre-commit crash mutated the table's files")
    assert(spark.table(table).count() == 4, "pre-commit crash lost rows")
    // window 2: crash AFTER the commit, BEFORE the drop loop — the
    // partially-doomed partition already serves survivors, the
    // fully-doomed one still serves its old (consistent) rows
    intercept[RuntimeException] {
      Layout.erasePartitionedRows(spark, table, doomed,
        beforeCommit = () => (),
        afterCommit = () => throw new RuntimeException("kill"))
    }
    val mid = spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(mid == Seq(1L, 2L, 4L),
      s"post-commit window serves inconsistently: $mid")
    // re-run with the same ids heals: discovery finds the fully-doomed
    // partition's rows again and the drop completes
    assert(Layout.erasePartitionedRows(spark, table, doomed) == 1)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(Sources.tableDataFiles(spark, table).forall(!_.contains("part=c")),
      "re-run did not drop the fully-doomed partition")
  }

  test("erasePartitionedRows: partition values carrying backslashes and " +
      "quotes drop cleanly, and a dropped leaf directory is physically " +
      "deleted from disk") {
    import graft.sources.Sources
    val table = "layout_erase_esc"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "plain"), (2L, 20, "tail\\"), (3L, 30, "it's"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    // both exotic partitions are FULLY doomed — the drop must build a
    // valid partition spec for each (backslash first, then quote)
    assert(Layout.erasePartitionedRows(spark, table,
      Seq(2L, 3L).toDF("id")) == 2)
    assert(spark.table(table).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    val loc = new org.apache.hadoop.fs.Path(Layout.tableLocation(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = fs.listStatus(loc).map(_.getPath.getName)
      .filter(_.startsWith("part=")).toSeq
    assert(leaves == Seq("part=plain"),
      s"dropped partitions' leaf directories survive on disk: $leaves")
  }

  test("eraseRowsFullRewrite: staged survivor rewrite + metadata promote " +
      "for an unpartitioned corpus; physical erasure; no-match no-op") {
    import graft.sources.Sources
    val table = "layout_erase_flat"
    Seq(table, s"${table}__next").foreach(Sources.replaceTable(spark, _))
    Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
      .toDF("id", "t", "v")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    val before = Sources.tableDataFiles(spark, table)
    assert(Layout.eraseRowsFullRewrite(spark, table, Seq(99L).toDF("id")) == 0)
    assert(Sources.tableDataFiles(spark, table).toSet == before.toSet,
      "a no-match erase rewrote the table")
    assert(Layout.eraseRowsFullRewrite(spark, table,
      Seq(2L, 99L).toDF("id")) == 1)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(spark.read.parquet(Sources.tableDataFiles(spark, table): _*)
      .filter(col("id") === 2L).isEmpty,
      "doomed row still present in the promoted generation's files")
    assert(!spark.catalog.tableExists(s"${table}__next"),
      "staged generation left behind after the promote")
  }

  test("eraseRowsFullRewrite catch-up: an append committing between the " +
      "basis rewrite and the promote is re-admitted (minus doomed ids), " +
      "never replaced by the swap; the fence refuses library writes") {
    import graft.sources.Sources
    val table = "layout_erase_flat_catchup"
    Seq(table, s"${table}__next").foreach(Sources.replaceTable(spark, _))
    Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
      .toDF("id", "t", "v")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    val loc = graft.operators.Layout.tableLocation(spark, table)
    var fenceMsg = ""
    val n = Layout.eraseRowsFullRewrite(spark, table, Seq(2L).toDF("id"),
      afterStagedWrite = () => {
        // the fence is up: a library writer targeting the table refuses
        fenceMsg = intercept[IllegalStateException] {
          Layout.requireNotUnderErase(spark, s"$loc/somefile")
        }.getMessage
        // a raw (fence-bypassing) writer lands a survivor AND a doomed
        // row — the catch-up must admit the first and erase the second
        Seq((4L, "w", 40), (2L, "d", 25)).toDF("id", "t", "v")
          .write.mode("append").insertInto(table)
      },
      beforePromote = () => ())
    assert(n == 2, s"expected basis + delta doomed = 2 erased, got $n")
    assert(fenceMsg.contains("under a live erase"),
      s"fence refusal must name the erase: $fenceMsg")
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L),
      "mid-erase append lost at the swap or doomed delta row admitted")
    assert(spark.read.parquet(Sources.tableDataFiles(spark, table): _*)
      .filter(col("id") === 2L).isEmpty,
      "doomed id present in the promoted generation's files")
    assert(!Layout.eraseInFlight(spark, table),
      "completed erase left its _erasing marker behind")
  }

  test("eraseRowsFullRewrite race abort: a file appearing after even " +
      "the catch-up aborts the promote LOUDLY (live unchanged, fence " +
      "kept); re-running with the same ids heals") {
    import graft.sources.Sources
    val table = "layout_erase_flat_race"
    Seq(table, s"${table}__next").foreach(Sources.replaceTable(spark, _))
    Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
      .toDF("id", "t", "v")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    val e = intercept[IllegalStateException] {
      Layout.eraseRowsFullRewrite(spark, table, Seq(2L).toDF("id"),
        afterStagedWrite = () => (),
        beforePromote = () =>
          Seq((5L, "r", 50)).toDF("id", "t", "v")
            .write.mode("append").insertInto(table))
    }
    assert(e.getMessage.contains("ABORTED"),
      s"wrong failure shape: ${e.getMessage}")
    // never torn: the live generation serves everything it held,
    // including the raced commit
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L))
    assert(Layout.eraseInFlight(spark, table),
      "an aborted erase must keep its fence up")
    // the healing re-run consumes the raced file in its basis
    assert(Layout.eraseRowsFullRewrite(spark, table,
      Seq(2L).toDF("id")) == 1)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    assert(!Layout.eraseInFlight(spark, table))
  }

  test("erase-vs-erase: a second erase with DIFFERENT ids launched " +
      "while the first runs is REFUSED (fence kept, first completes); " +
      "a no-match erase under the foreign fence returns 0 WITHOUT " +
      "retiring it") {
    import graft.sources.Sources
    val table = "layout_erase_vs_erase"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "a"), (3L, 30, "b"), (4L, 40, "b"),
      (5L, 50, "c"), (6L, 60, "c"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    var refusedMsg = ""
    val n = Layout.erasePartitionedRows(spark, table,
      Seq(3L, 5L, 6L).toDF("id"),
      beforeCommit = () => {
        // an orchestrator retry with a CHANGED id set must not clobber
        // this run's fence (pre-nonce, writeErasingMarker overwrote it
        // and whichever finished first retired the other's marker)
        refusedMsg = intercept[IllegalStateException] {
          Layout.erasePartitionedRows(spark, table, Seq(4L).toDF("id"))
        }.getMessage
        assert(Layout.eraseInFlight(spark, table),
          "refused erase must leave the running erase's fence up")
        // the ADVICE case: a no-match erase (ids hit nothing) while
        // this erase is live must NOT retire the live fence — it
        // refuses at entry like any foreign-ids erase (pre-nonce, its
        // no-match heal silently dropped the live fence mid-rewrite)
        intercept[IllegalStateException] {
          Layout.erasePartitionedRows(spark, table, Seq(999L).toDF("id"))
        }
        assert(Layout.eraseInFlight(spark, table),
          "no-match erase retired a FOREIGN live fence")
      },
      afterCommit = () => ())
    assert(n == 2)
    assert(refusedMsg.contains("another erase holds"),
      s"refusal must name the live fence: $refusedMsg")
    assert(!Layout.eraseInFlight(spark, table),
      "the first erase must complete and retire its own fence")
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // with the fence retired, the previously-refused erase proceeds
    assert(Layout.erasePartitionedRows(spark, table, Seq(4L).toDF("id")) == 1)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("erase crash debris: a different-ids erase REFUSES on the dead " +
      "run's fence; healErase retires it explicitly and the erase then " +
      "proceeds (same-ids re-run heal still works)") {
    import graft.sources.Sources
    val table = "layout_erase_debris"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (2L, 20, "a"), (3L, 30, "b"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    // crash erase #1 (ids=[3]) inside its window — fence left up
    intercept[RuntimeException] {
      Layout.erasePartitionedRows(spark, table, Seq(3L).toDF("id"),
        beforeCommit = () => throw new RuntimeException("kill"),
        afterCommit = () => ())
    }
    assert(Layout.eraseInFlight(spark, table))
    // a DIFFERENT erase cannot tell crash debris from a live run —
    // it must refuse, not take over
    val e = intercept[IllegalStateException] {
      Layout.erasePartitionedRows(spark, table, Seq(1L).toDF("id"))
    }
    assert(e.getMessage.contains("healErase"),
      s"refusal must name the explicit heal verb: ${e.getMessage}")
    // the operator, having verified no erase job is live, force-heals
    assert(Layout.healErase(spark, table))
    assert(!Layout.eraseInFlight(spark, table))
    assert(Layout.erasePartitionedRows(spark, table, Seq(1L).toDF("id")) == 1)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // and the documented same-ids re-run heal still works end-to-end
    intercept[RuntimeException] {
      Layout.erasePartitionedRows(spark, table, Seq(3L).toDF("id"),
        beforeCommit = () => throw new RuntimeException("kill"),
        afterCommit = () => ())
    }
    assert(Layout.eraseInFlight(spark, table))
    assert(Layout.erasePartitionedRows(spark, table, Seq(3L).toDF("id")) == 1)
    assert(!Layout.eraseInFlight(spark, table))
    assert(Layout.healErase(spark, table) == false,
      "healErase on a clean table reports no fence")
  }

  test("fence identity is the ID SET, not the frame: a crashed erase " +
      "heals under a re-run presenting the same ids reordered and " +
      "duplicated (digest is dedup + order-independent)") {
    import graft.sources.Sources
    val table = "layout_erase_digest_set"
    Sources.replaceTable(spark, table)
    Seq((1L, 10, "a"), (3L, 30, "b"), (5L, 50, "c"))
      .toDF("id", "v", "part")
      .write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable(table)
    intercept[RuntimeException] {
      Layout.erasePartitionedRows(spark, table, Seq(3L, 5L).toDF("id"),
        beforeCommit = () => throw new RuntimeException("kill"),
        afterCommit = () => ())
    }
    assert(Layout.eraseInFlight(spark, table))
    // same SET of ids, different order and with duplicates — the
    // documented same-ids heal must accept it (an orchestrator retry
    // rarely replays the exact frame)
    assert(Layout.erasePartitionedRows(spark, table,
      Seq(5L, 3L, 3L, 5L).toDF("id")) == 2)
    assert(!Layout.eraseInFlight(spark, table))
    assert(spark.table(table).select("id").collect().map(_.getLong(0))
      .toSeq == Seq(1L))
  }

  test("eraseRowsFullRewrite erase-vs-erase: a different-ids erase " +
      "refuses while the flat rewrite runs") {
    import graft.sources.Sources
    val table = "layout_erase_flat_vs"
    Seq(table, s"${table}__next").foreach(Sources.replaceTable(spark, _))
    Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
      .toDF("id", "t", "v")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    var refused = ""
    assert(Layout.eraseRowsFullRewrite(spark, table, Seq(2L).toDF("id"),
      afterStagedWrite = () => {
        refused = intercept[IllegalStateException] {
          Layout.eraseRowsFullRewrite(spark, table, Seq(3L).toDF("id"))
        }.getMessage
        assert(Layout.eraseInFlight(spark, table))
      },
      beforePromote = () => ()) == 1L)
    assert(refused.contains("another erase holds"), refused)
    assert(!Layout.eraseInFlight(spark, table))
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("eraseRowsFullRewrite retire verification: a commit landing " +
      "between the final listing and the swap fails LOUDLY with the " +
      "raced bytes PRESERVED (never deleted with the retired " +
      "generation) and the fence re-armed on the new live location") {
    import graft.sources.Sources
    val table = "layout_erase_flat_retire"
    Seq(table, s"${table}__next").foreach(Sources.replaceTable(spark, _))
    Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
      .toDF("id", "t", "v")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    val e = intercept[IllegalStateException] {
      Layout.eraseRowsFullRewrite(spark, table, Seq(2L).toDF("id"),
        afterStagedWrite = () => (),
        beforePromote = () => (),
        afterRacedCheck = () =>
          // a fence-bypassing commit in the blind window between the
          // raced listing and the swap — the pre-swap abort cannot see
          // it; before this round it was silently deleted with the
          // retired generation while the scaladoc claimed otherwise
          Seq((7L, "r", 70)).toDF("id", "t", "v")
            .write.mode("append").insertInto(table))
    }
    assert(e.getMessage.contains("INCOMPLETE"), e.getMessage)
    // the swap stands: live serves the erased generation (no raced row)
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the raced bytes are preserved on disk, named by the error
    val preserved = e.getMessage.split("\\(|\\)").toSeq
      .filter(_.contains(".parquet")).flatMap(_.split(",\\s*"))
    assert(preserved.nonEmpty, s"error must name the files: ${e.getMessage}")
    val fs = new org.apache.hadoop.fs.Path(preserved.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    preserved.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(f)), s"raced file deleted: $f"))
    // fence re-armed at the NEW live location: ingest stays closed
    assert(Layout.eraseInFlight(spark, table),
      "retire-abort must keep the fence up on the new live location")
    // documented recovery: re-append the preserved files minus the
    // doomed ids, then healErase
    val recovered = spark.read
      .schema(spark.table(table).schema)
      .parquet(preserved: _*)
      .join(Seq(2L).toDF("id"), Seq("id"), "left_anti")
    recovered.select(spark.table(table).columns.map(col): _*)
      .write.mode("append").insertInto(table)
    assert(Layout.healErase(spark, table))
    assert(spark.table(table).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 7L))
  }

  test("eraseRowsFullRewrite no-match heal: marker debris of an erase " +
      "that crashed between its promote and the retire is cleared by " +
      "the next no-match run, re-opening ingest") {
    import graft.sources.Sources
    val table = "layout_erase_flat_heal"
    Sources.replaceTable(spark, table)
    Seq((1L, "x", 10)).toDF("id", "t", "v")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table)).saveAsTable(table)
    val loc = graft.operators.Layout.tableLocation(spark, table)
    // simulate the post-promote crash window: the marker file exists
    // but its erase completed (no doomed rows remain)
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), "_erasing")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(s"graft-erasing-v1\n${fs.makeQualified(
      new org.apache.hadoop.fs.Path(loc))}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(Layout.eraseInFlight(spark, table))
    intercept[IllegalStateException] {
      Layout.requireNotUnderErase(spark, s"$loc/somefile")
    }
    // the healing re-run (same ids, now gone) retires the debris
    assert(Layout.eraseRowsFullRewrite(spark, table,
      Seq(99L).toDF("id")) == 0)
    assert(!Layout.eraseInFlight(spark, table),
      "no-match erase must retire stale marker debris")
    Layout.requireNotUnderErase(spark, s"$loc/somefile") // no throw
  }
}
