package graft.gates

import org.apache.spark.sql.functions._

import graft.streaming.Streaming

import Fixtures._

/** Data layout gates: z-ordered files and partition pruning (static,
  * dynamic, multi-level and streamed). */
object LayoutGates extends Family {

  /** Z-ORDER LAYOUT GATE: rewrite lineitem's key columns as a z-ordered
    * parquet layout ([[graft.operators.Layout.writeZOrdered]], 16-bit
    * Morton interleave of l_orderkey × l_partkey, 32 files), then prove
    * BOTH properties in one output:
    *  - layout: a ~5% band filter on EACH interleaved dimension must
    *    touch ≤ 60% of the files (per-file min/max ranges — what a
    *    parquet scan's file pruning sees; a one-dimensional sort would
    *    put the SECOND dimension at 100%). If either bound fails, the
    *    in-plan gate empties the output and the row count breaks.
    *  - content: the rows inside the l_partkey band, read BACK from the
    *    rewritten layout, must hash-match the DuckDB oracle over the
    *    ORIGINAL table — the rewrite is a layout change, not a data
    *    change. Band bounds use integer min/max + floor arithmetic so
    *    both engines compute identical cutoffs. */
  // the oracle reads the ORIGINAL lineitem; the query reads the rows
  // back from the z-ordered rewrite — hash-match proves the layout
  // rewrite preserved content, and the in-plan skip-bound gate proves
  // it actually clusters both dimensions
  gate("q_zorder_layout",
    // zorder 3 → 2: the per-file stats aggregate (grouped by input file)
    // runs once into a localCheckpoint-pinned frame that serves both the
    // band cutoff and the skip gate, so its exchange is no longer in the
    // audited plan; left: the gate row's single-partition aggregate + the
    // output ORDER BY (plans/r18/q_zorder_layout_*)
    Budget(2,
      bnlj = Some("skip-bound gate join: build side is exactly ONE broadcast row (the per-file stats aggregate)")),
    """WITH b AS (
      |  SELECT min(l_partkey) + CAST(FLOOR((max(l_partkey) - min(l_partkey)) * 0.45) AS BIGINT) AS lo,
      |         min(l_partkey) + CAST(FLOOR((max(l_partkey) - min(l_partkey)) * 0.50) AS BIGINT) AS hi
      |  FROM lineitem)
      |SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
      |FROM lineitem, b
      |WHERE l_partkey BETWEEN b.lo AND b.hi
      |ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val li = t(s, dir, "lineitem").df
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val out = s"${ioDir(dir)}/lineitem_zorder"
    Layout.writeZOrdered(li, out, Seq("l_orderkey", "l_partkey"), nFiles = 32)
    val back = s.read.parquet(out)
    // ONE verification scan of the rewritten data: the per-file min/max
    // stats frame (32 rows) is pinned once and serves BOTH the band
    // cutoffs (global min/max = min-of-file-mins / max-of-file-maxes,
    // exactly the former whole-table agg's longs) and the in-plan skip
    // gate — previously the cutoff agg and the gate's fileRangeStats
    // each re-scanned the full rewrite (guide §1.2: fewer passes).
    val stats = Layout.fileRangeStats(s, out, Seq("l_orderkey", "l_partkey"))
      .localCheckpoint(true)
    val r = stats.agg(min(col("l_orderkey_min")), max(col("l_orderkey_max")),
      min(col("l_partkey_min")), max(col("l_partkey_max"))).head()
    def band(mn: Long, mx: Long): (Long, Long) =
      (mn + math.floor((mx - mn) * 0.45).toLong, mn + math.floor((mx - mn) * 0.50).toLong)
    val (okLo, okHi) = band(r.getLong(0), r.getLong(1))
    val (pkLo, pkHi) = band(r.getLong(2), r.getLong(3))
    // the skip-bound gate stays IN-PLAN (one broadcast gate row, the
    // q_dedup_semantic idiom): re-executing the returned frame
    // re-validates the layout, and the audited plan shows the gate
    def overlaps(c: String, lo: Long, hi: Long) =
      col(s"${c}_min") <= hi && col(s"${c}_max") >= lo
    val gate = stats
      .agg(
        ((sum(when(overlaps("l_orderkey", okLo, okHi), 1L).otherwise(0L))
          <= count(lit(1)) * 0.6) &&
          (sum(when(overlaps("l_partkey", pkLo, pkHi), 1L).otherwise(0L))
            <= count(lit(1)) * 0.6)).as("__ok"))
    back.filter(col("l_partkey").between(pkLo, pkHi))
      .crossJoin(broadcast(gate)).filter(col("__ok"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
  }

  /** STATIC partition pruning over the Hive-partitioned corpus layout
    * (build-once artifact, `source` directory per value): the `isin`
    * filter on the partition column must reach the scan as a partition
    * filter and select exactly the 2 named directories of 20 — the
    * planner never lists the other 18 at any corpus size. The prune is
    * asserted fail-fast at plan time ([[Layout.requireStaticPrune]]);
    * values are oracle-checked against the unpartitioned parquet. */
  // both prune gates read the PARTITIONED rewrite; the oracle reads
  // the original parquet — hash-match proves the layout preserved
  // content, and the in-plan requireStaticPrune/requireDynamicPrune
  // asserts prove the directories were actually skipped
  gate("q_partition_prune",
    // prune gates: fact-side groupBy agg + final sort; the dim/threshold
    // sides are broadcast (dynamic) or literal (static)
    Budget(2),
    """SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE source IN ('src3', 'src7')
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val table = artifactTable(s, "docs_part", dir, "documents")
    val part = Layout.partitionedTableFor(
      t(s, dir, "documents").df, table, "source")
    val picked = Seq("src3", "src7")
    Layout.requireStaticPrune(
      part.filter(col("source").isin(picked: _*))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"), col("lang")),
      maxPartitions = picked.size)
  }

  /** DYNAMIC partition pruning (DPP) — the 100 TB star-join access
    * pattern: the partitioned corpus joins a dimension whose filter is
    * NOT statically inferable onto the fact side (it sits on an
    * AGGREGATE of the dim — "sources with above-average total volume"),
    * so pruning must happen at RUNTIME via the DPP subquery reusing the
    * dim's broadcast. [[Layout.requireDynamicPrune]] asserts the
    * DynamicPruningExpression actually reached the scan's partition
    * filters; the runtime partition count is pinned in LayoutSpec. */
  gate("q_partition_prune_dynamic",
    // shuffle budget: see q_partition_prune
    Budget(2),
    """SELECT d.lang, count(*) AS n_docs
      |FROM documents d
      |JOIN (SELECT source FROM documents GROUP BY source
      |      HAVING CAST(sum(n_chars) AS DOUBLE) >
      |        (SELECT avg(tot) FROM (SELECT CAST(sum(n_chars) AS DOUBLE) AS tot
      |                               FROM documents GROUP BY source))) s
      |  ON d.source = s.source
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val table = artifactTable(s, "docs_part", dir, "documents")
    val docs = t(s, dir, "documents").df
    val part = Layout.partitionedTableFor(docs, table, "source")
    val perSrc = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("__tot"))
    // threshold as a LITERAL from one tiny aggregate (driver-side KBs,
    // the zorder-gate idiom) — deliberately: DPP's isLikelySelective
    // only recognizes literal comparisons, so an in-plan attribute
    // threshold (crossJoin with the avg row) would never trigger the
    // runtime prune this gate exists to demonstrate
    val avgTot = perSrc.agg(avg(col("__tot"))).head().getDouble(0)
    val dim = perSrc.filter(col("__tot") > lit(avgTot)).select(col("source"))
    // broadcast(dim) pins the BUILD side: size estimation would happily
    // broadcast the column-pruned FACT instead (it read fewer columns),
    // and DPP can only prune the PROBE side — the hint is what makes
    // the scan eligible for the runtime filter at every SF
    Layout.requireDynamicPrune(
      part.join(broadcast(dim), "source")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang")))
  }

  /** TWO-LEVEL static pruning over the canonical date+type layout
    * (`event_type=.../day=...`, 150 directories): a filter on both
    * levels must select exactly types × days directories — the daily
    * incremental-processing access pattern ("this week's clicks") that
    * reads 14 directories of a 100 TB corpus without listing the rest.
    * Day bounds derive from one tiny min aggregate and enter the plan
    * as LITERALS (the DPP-gate idiom), so the gate survives a
    * regenerated corpus with different dates. */
  gate("q_partition_prune_multi",
    // shuffle budget: see q_partition_prune
    Budget(2),
    """WITH b AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events)
      |SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  count(*) AS n, round(sum("value"), 2) AS sum_value
      |FROM events, b
      |WHERE event_type IN ('click', 'purchase')
      |  AND date_trunc('day', ts) BETWEEN b.d0 + INTERVAL 7 DAY
      |                               AND b.d0 + INTERVAL 13 DAY
      |GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val table = artifactTable(s, "events_part", dir, "events")
    val ev = events(s, dir).df.withColumn("day",
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
    val part = Layout.partitionedTableFor(ev, table, Seq("event_type", "day"))
    val d0 = ev.agg(min(to_date(col("day")))).head().getDate(0).toLocalDate
    val (lo, hi) = (d0.plusDays(7).toString, d0.plusDays(13).toString)
    Layout.requireStaticPrune(
      part.filter(col("event_type").isin("click", "purchase") &&
          col("day").between(lo, hi))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"), col("day")),
      maxPartitions = 14)
  }

  /** PARTITION-PRUNED STREAMING SOURCE — the incremental-ingest analogue
    * of [[q_partition_prune_multi]]: subscribe a file stream to ONE
    * subtree (`event_type=click`) of the two-level Hive layout, so the
    * per-trigger directory LISTING never touches the other four types'
    * 120 directories, and filter the week's days in-stream (the `day=`
    * partition column is directory-inferred below the subtree, so the
    * filter prunes file scans within it). Week bounds enter as literals
    * from one tiny min aggregate (the [[q_partition_prune_multi]]
    * idiom). The listing-containment assertion (every file the source
    * processed lives under the subtree) is pinned in StreamingSpec,
    * where the checkpoint's source log is inspectable. */
  gate("q_stream_partition_prune",
    // the gate RETURNS a batch read of the memory sink (the streaming
    // subtree run happens before the audited plan): sink scan → groupBy
    // came pre-aggregated in the sink → the one range exchange is the
    // output ORDER BY
    Budget(1),
    """WITH b AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events)
      |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  count(*) AS n, round(sum("value"), 2) AS sum_value
      |FROM events, b
      |WHERE event_type = 'click'
      |  AND date_trunc('day', ts) BETWEEN b.d0 + INTERVAL 7 DAY
      |                               AND b.d0 + INTERVAL 13 DAY
      |GROUP BY day
      |ORDER BY day""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    import graft.streaming.Streaming
    val table = artifactTable(s, "events_part", dir, "events")
    val ev = events(s, dir).df.withColumn("day",
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
    Layout.partitionedTableFor(ev, table, Seq("event_type", "day"))
    val d0 = ev.agg(min(to_date(col("day")))).head().getDate(0).toLocalDate
    val (lo, hi) = (d0.plusDays(7).toString, d0.plusDays(13).toString)
    val stream = Streaming.partitionSubtreeStream(
      s, Layout.tableLocation(s, table), "event_type=click")
    // directory inference types the day= partition column as DATE —
    // normalize to the yyyy-MM-dd string the layout (and oracle) uses
    val agg = stream.filter(col("day").between(lo, hi))
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    Streaming.runToBatch(agg, "stream_week_clicks")
      .orderBy(col("day"))
  }
}
