package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.LayoutExpressions.interleave_bits

/** Multi-dimensional data layout for write-time clustering — the piece of
  * a 100 TB pipeline that makes SUBSEQUENT reads cheap. Sorting a table
  * by one key gives perfect parquet min/max skipping on that key and
  * none on any other; interleaving the bits of several keys (the Morton /
  * Z-order curve, the layout behind `OPTIMIZE ZORDER BY` in open
  * lakehouse formats) gives every interleaved dimension partial locality,
  * so a filter on ANY of them prunes most files at the scan.
  *
  * Scale shape: one tiny min/max aggregate (driver-side, KBs) to fix the
  * coordinate frame, one codegen'd map pass computing the z-key
  * ([[graft.functions.InterleaveBits]]), one range-repartition on the
  * key (a single shuffle — the sort you were already paying for a
  * one-dimensional layout), and a plain parquet write. Nothing here is
  * per-row driver work, and file count is explicit so 100 TB lands as
  * bounded-size files, not a small-files incident.
  *
  * Honest pruning granularity: with plain parquet, Spark's scan prunes
  * ROW GROUPS per file from the same footer min/max this layout
  * tightens (file-LEVEL pruning needs a stats-aware table format's
  * catalog). [[fileRangeStats]]/[[overlapFraction]] measure the stat
  * tightness itself, which is what either pruning level consumes.
  *
  * The reference engine has no layout story (littletable is an in-memory
  * list, littletable.py:568-604 just appends); this is beyond-reference
  * infrastructure for the training-data pipeline tier. */
object Layout {

  /** Z-order key over `zCols`: each column is affinely bucketized to
    * [0, 2^bits) against its OWN min/max (ONE tiny aggregate for all
    * columns — the driver-side-stats idiom of `Ordinals.keyedRunningTotal`),
    * then the buckets are bit-interleaved into one long. Nulls sort
    * first (bucket 0). Numeric/date/timestamp columns map directly.
    * STRING columns get RANK-BASED coordinates: up to `dictMax` distinct
    * values are collected once (the literal-map idiom of
    * `Ordinals.keyedRunningTotal`) and spread UNIFORMLY over the bucket
    * space — an affine byte proxy wastes nearly all its resolution on
    * lexicographic clumps ("src1","src10".."src19" span 2.5% of the key
    * space; measured 13/16 files touched by a point query vs 4/16 with
    * ranks). Above `dictMax` the order-preserving 7-bytes-after-common-
    * prefix proxy of core/Ordinals.scala:98-121 is the fallback: weakly
    * monotone, proxy ties share a bucket — costs locality, never
    * correctness. */
  def zValue(df: DataFrame, zCols: Seq[String], bits: Int = 16,
      dictMax: Int = 4096): Column = {
    require(zCols.nonEmpty, "zValue needs at least one column")
    require(zCols.size * bits <= 63,
      s"${zCols.size} dims x $bits bits overflows a long")
    import org.apache.spark.sql.types._
    // one monotone double proxy per non-string column (shared KeyProxy
    // dispatch), built ONCE and used for both the stats aggregate and
    // the coordinate — two copies would let the frame and scaling drift
    def numProxy(c: String): Option[Column] =
      graft.core.KeyProxy.numeric(col(c), df.schema(c).dataType, s"zValue($c)")
    // pass 0 (driver-side, KBs): min/max per column — strings aggregate
    // their raw bounds (the proxy needs the common prefix first)
    val rawAggs = zCols.flatMap { c =>
      numProxy(c) match {
        case Some(p) => Seq(min(p), max(p))
        case None => Seq(min(col(c)), max(col(c)))
      }
    }
    val stats = df.agg(rawAggs.head, rawAggs.tail: _*).head()
    val hi = (1 << bits) - 1
    def affine(p: Column, mn: Double, mx: Double): Column = {
      val range = if (mx > mn) mx - mn else 1.0
      val scaled = ((coalesce(p, lit(mn)) - mn) / range * hi)
      least(greatest(scaled.cast(IntegerType), lit(0)), lit(hi))
    }
    val coords = zCols.zipWithIndex.map { case (c, i) =>
      if (stats.isNullAt(2 * i)) lit(0) // all-null/empty column: one bucket
      else numProxy(c) match {
        case Some(p) =>
          affine(p, stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
        case None =>
          val top = df.select(col(c)).na.drop().distinct()
            .orderBy(col(c)).limit(dictMax + 1)
            .collect().map(_.getString(0))
          if (top.length <= dictMax) {
            // O(1) hash lookup per row (codegen'd StringDictCoord) —
            // a typedlit map would linear-scan up to dictMax keys per
            // row of the full-table pass. Strings outside the dict
            // (data newer than the stats) take bucket 0.
            val step = hi.toDouble / math.max(1, top.length - 1)
            val dict = new java.util.HashMap[String, Integer]()
            top.zipWithIndex.foreach { case (v, r) =>
              dict.put(v, Int.box(math.round(r * step).toInt))
            }
            coalesce(graft.functions.LayoutExpressions.string_dict_coord(col(c), dict),
              lit(0))
          } else {
            // above-dict cardinality: the shared order-preserving
            // 7-bytes-after-common-prefix proxy (core/KeyProxy.scala,
            // same construction Ordinals buckets on)
            val sp = graft.core.KeyProxy.string(col(c),
              stats.getString(2 * i), stats.getString(2 * i + 1))
            affine(sp.expr, sp.mn, sp.mx)
          }
      }
    }
    interleave_bits(coords, bits)
  }

  /** Write `df` as `nFiles` parquet files clustered along the z-curve of
    * `zCols`: range-repartition on the z-key (one shuffle), sort within
    * each partition, drop the key, write. Every zCol then has tight
    * per-file min/max ranges, so point/band filters on any of them prune
    * files at the scan. */
  def writeZOrdered(df: DataFrame, dir: String, zCols: Seq[String],
      nFiles: Int = 32, bits: Int = 16, dictMax: Int = 4096): Unit = {
    require(nFiles >= 1, "nFiles must be positive")
    df.withColumn("__z", zValue(df, zCols, bits, dictMax))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Per-file [min, max] ranges of `cols` for a parquet directory — the
    * skip-stat view a scan's file pruning sees. One aggregate over the
    * data grouped by file name (test/diagnostic scale; a real catalog
    * reads footers, but the ranges are identical). */
  def fileRangeStats(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    val aggExprs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** Fraction of files whose [min, max] range on `c` overlaps [lo, hi] —
    * i.e. the fraction of the table a band filter must actually read.
    * 1.0 means the layout skips nothing for this predicate. Rejects
    * string stat columns loudly: casting them to double yields null,
    * which would SILENTLY report perfect pruning — compare string
    * bounds against the stats columns directly instead. */
  def overlapFraction(stats: DataFrame, c: String, lo: Double, hi: Double): Double = {
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    // the bounds live in the SAME double frame zValue scales each type
    // into: epoch days for dates, epoch seconds for timestamps
    def proxy(side: String): Column = stats.schema(s"${c}_$side").dataType match {
      case DateType => unix_date(col(s"${c}_$side")).cast("double")
      case TimestampType => col(s"${c}_$side").cast("double")
      case _: NumericType => col(s"${c}_$side").cast("double")
      case other => throw new IllegalArgumentException(
        s"overlapFraction($c): stats are $other — its double cast is " +
          "null (string stats would read as 0.0 overlap); compare " +
          "against the stats frame directly")
    }
    val r = stats.agg(
      sum(when(proxy("min") <= hi && proxy("max") >= lo, 1L).otherwise(0L)),
      count(lit(1))).head()
    if (r.getLong(1) == 0L) 1.0 else r.getLong(0).toDouble / r.getLong(1)
  }

  /** Compact a parquet directory to ~`targetRowsPerFile` rows per file —
    * the small-files remedy (a 100 TB table accreted by thousands of
    * micro-batch/task writes reads at metadata speed, not data speed).
    * One count (metadata-cheap on parquet), one repartition, one write.
    * Layout through the rewrite: `sortCols` keeps a ONE-dimensional
    * sorted layout; `zOrderCols` RECOMPUTES the z-key and keeps a
    * multi-dimensional one (a lexicographic range-sort on the original
    * z columns would silently degrade the second dimension back to
    * ~100% overlap — compaction that destroys clustering trades one
    * read problem for another). The two are mutually exclusive. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetRowsPerFile: Long, sortCols: Seq[String] = Nil,
      zOrderCols: Seq[String] = Nil, bits: Int = 16,
      dictMax: Int = 4096): Unit = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    require(sortCols.isEmpty || zOrderCols.isEmpty,
      "pass sortCols OR zOrderCols, not both")
    // qualified-path guard: scheme/relative aliases and nested outputs
    // both end in doubled rows on the next recursive read
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(d: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p)
    }
    val (inQ, outQ) = (qualified(inDir), qualified(outDir))
    def contains(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Boolean = {
      var cur: org.apache.hadoop.fs.Path = b
      while (cur != null) {
        if (cur == a) return true
        cur = cur.getParent
      }
      false
    }
    require(!contains(inQ, outQ) && !contains(outQ, inQ),
      s"compact: input $inQ and output $outQ must be disjoint " +
        "(same or nested paths double rows on the next recursive read)")
    val df = spark.read.parquet(inDir)
    val nFilesLong = math.max(1L, math.ceil(
      df.count().toDouble / targetRowsPerFile).toLong)
    require(nFilesLong <= Int.MaxValue,
      s"compact: $nFilesLong target files overflow repartition's Int range")
    val nFiles = nFilesLong.toInt
    if (zOrderCols.nonEmpty)
      // one write path: a second copy of the z pipeline would let the
      // two drift (and WOULD have defaulted dictMax on compaction)
      writeZOrdered(df, outDir, zOrderCols, nFiles, bits, dictMax)
    else {
      val laid =
        if (sortCols.nonEmpty)
          df.repartitionByRange(nFiles, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else df.repartition(nFiles)
      laid.write.mode("overwrite").parquet(outDir)
    }
  }

  // ------------------------------------------------------------------
  // Hive-style partitioned layout + partition-pruning assertions
  // ------------------------------------------------------------------

  /** Build-once HIVE-PARTITIONED copy of `df` (directory per
    * `partitionCol` value) — the coarsest and most common 100 TB layout
    * tier: a date/source-partitioned corpus where a filter on the
    * partition column prunes whole DIRECTORIES at planning time (static)
    * or at runtime from a joined dimension's filter (dynamic partition
    * pruning), before file footers are even listed. Z-order
    * ([[writeZOrdered]]) covers intra-file skipping; this covers the
    * level above it. An existing table with the same single-column
    * partition scheme is served as-is (callers key `table` by corpus
    * generation — the `artifactTable` mtime idiom); scheme drift
    * rebuilds. Keep `partitionCol` low-cardinality: one directory (and
    * ≥1 file) per value is exactly the small-files incident this
    * module's compaction half exists to prevent. */
  def partitionedTableFor(df: DataFrame, table: String,
      partitionCol: String): DataFrame =
    partitionedTableFor(df, table, Seq(partitionCol))

  /** Multi-level variant — nested directories in `partitionCols` order
    * (e.g. `source=.../day=...`, the canonical date+source corpus
    * layout): a filter on any PREFIX of the hierarchy prunes whole
    * subtrees; deeper columns prune within them. Directory count is the
    * PRODUCT of the levels' cardinalities — keep it bounded. */
  def partitionedTableFor(df: DataFrame, table: String,
      partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val spark = df.sparkSession
    val matches = spark.catalog.tableExists(table) && {
      // resolver-based comparison: the catalog stores partition column
      // names as the ANALYZER normalized them, so a verbatim == against
      // the caller's casing never matches mixed-case columns and would
      // silently rebuild the full table on every call
      val resolver = spark.sessionState.analyzer.resolver
      try {
        val catalogCols = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
          .partitionColumnNames
        catalogCols.length == partitionCols.length &&
          catalogCols.zip(partitionCols).forall { case (a, b) => resolver(a, b) }
      } catch {
        // ONLY the tableExists/getTableMetadata race (table dropped in
        // between) falls through to the rebuild path. A broader catch
        // would turn any transient catalog/filesystem error into a
        // silent drop-and-full-rewrite of the table — at the 100 TB
        // tier a destructive rebuild triggered by a hiccup, with
        // concurrent readers losing the old table mid-query.
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => false
      }
    }
    if (!matches) {
      graft.sources.Sources.replaceTable(spark, table)
      df.write.mode("overwrite").format("parquet")
        .partitionBy(partitionCols: _*).saveAsTable(table)
      // a partitioned catalog table carries no size estimate until it
      // is analyzed, and the planner then takes spark.sql
      // .defaultSizeInBytes (huge) in every size-based choice
      // (broadcast, one-split fetch); NOSCAN records the file sizes only
      spark.sql("ANALYZE TABLE " + spark.sessionState.sqlParser
        .parseTableIdentifier(table).quotedString + " COMPUTE STATISTICS NOSCAN")
    }
    spark.table(table)
  }

  /** CORPUS-side takedown: physically erase the rows whose id is in
    * `ids` from a PARTITIONED corpus table, rewriting ONLY the
    * partitions that contain them — the compliance path for the corpus
    * itself, complementing the serving-artifact tier
    * ([[graft.operators.Tombstones]]): a serving artifact can mask and
    * reclaim on its cadence, but the source-of-truth table the
    * pipeline re-derives everything from must ALSO stop containing the
    * bytes, and at 100 TB "rewrite the corpus" is not an answer —
    * "rewrite the 2 of 400 date×source partitions the request touches"
    * is.
    *
    * Steps, each partition-scoped:
    *  1. DISCOVERY — ONE column-pruned pass over (id col, partition
    *     cols) with the id set broadcast map-side, aggregated to
    *     per-partition (total, doomed) row counts: the same pass yields
    *     both the affected-partition set AND which of them are FULLY
    *     doomed, so nothing downstream re-executes a corpus-sized plan
    *     to learn what re-emits. Collected values are bounded by the
    *     table's partition cardinality (low by [[partitionedTableFor]]
    *     design).
    *  2. BASIS — the affected partitions' current data-file set is
    *     pinned (metadata-only listings of exactly those directories,
    *     resolved through the catalog's per-partition locations).
    *  3. REWRITE — survivors are read from EXACTLY the basis files
    *     (untouched subtrees are never listed, read, or written — the
    *     pinned file list is stronger than a static partition filter)
    *     and written back under dynamic partition overwrite as a
    *     PER-WRITE option, so only the affected directories swap,
    *     every other partition's files stay byte-identical (pinned in
    *     LayoutSpec), and no session-level overwrite mode leaks to
    *     concurrent same-session writes.
    *  4. CATCH-UP — immediately before the commit, the affected
    *     directories are re-listed and files admitted since the basis
    *     (a live-ingest append landing mid-erase) are re-admitted into
    *     the overwrite minus the doomed ids — the same basis/diff
    *     discipline every staged artifact promote carries
    *     ([[graft.operators.Generations]]). The remaining
    *     race — an append committing into an affected partition while
    *     the overwrite JOB itself is running, which dynamic overwrite
    *     would silently replace — is ENFORCED away for the library's
    *     own writers by the `_erasing` in-flight marker (written before
    *     the basis snapshot, retired on completion): the append verb
    *     ([[appendPartitionedRows]]) and the streaming segment sinks
    *     refuse loudly at commit time instead of racing. A foreign
    *     writer that bypasses the marker is only PARTLY caught: in a
    *     FULLY-DOOMED partition the drop gate's consumed-file
    *     containment retains the partition and the post-drop residue
    *     check turns left-behind doomed bytes into a loud
    *     incomplete-erase error; in a partition that emits SURVIVORS,
    *     a bypassing commit landing during the overwrite job is
    *     silently replaced at the overwrite's commit — undetectable
    *     after the fact. The in-contract answer is the marker itself:
    *     every library writer consults it, and only a writer outside
    *     this library can bypass it.
    *  5. DROP — a partition whose every row was doomed emits no
    *     survivor rows, which dynamic overwrite would silently leave
    *     serving its old files; such partitions (unless the catch-up
    *     re-admitted rows into them) are dropped explicitly, and their
    *     leaf directories deleted — `DROP PARTITION` retains data
    *     files for EXTERNAL tables (the object-store promote regime
    *     makes tables external), so the delete is what makes the
    *     erasure physical there.
    *
    * CRASH SEMANTICS — re-run to heal: the rewrite uses Spark's
    * dynamic-overwrite commit protocol (staged per-partition
    * directories swapped at commit), so every intermediate state
    * serves consistently and a re-run with the same ids converges:
    *  - before the commit: nothing changed; re-run does the full erase.
    *  - after the commit, before (or part-way through) the drop loop:
    *    partially-doomed partitions already serve their survivors;
    *    fully-doomed partitions still serve their old files — the
    *    re-run's discovery finds those doomed rows again, the overwrite
    *    emits nothing for them, and the drop loop removes them.
    * A crashed erase is therefore incomplete, never torn — re-run it to
    * completion before relying on the compliance guarantee (pinned by
    * the kill-window LayoutSpec cases).
    *
    * Erasure is immediate and physical — no tombstone phase: the
    * corpus is the source of truth, and masking it would make every
    * downstream re-derivation re-admit the bytes. Partition values
    * must be non-null (enforced). `ids` is a one-column frame named
    * with the table's id column. Returns the number of affected
    * partitions (0 = no row matched, nothing touched). */
  def erasePartitionedRows(spark: SparkSession, table: String,
      ids: DataFrame): Int =
    erasePartitionedRows(spark, table, ids, () => (), () => ())

  /** [[erasePartitionedRows]] with kill-window hooks for the crash
    * specs: `beforeCommit` runs after discovery/basis (before the
    * catch-up diff and the overwrite — a concurrent-append test injects
    * here), `afterCommit` between the overwrite commit and the drop
    * loop (a crash test throws here). */
  private[graft] def erasePartitionedRows(spark: SparkSession,
      table: String, ids: DataFrame, beforeCommit: () => Unit,
      afterCommit: () => Unit): Int = {
    val idCol = ids.columns.head
    val catalog = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val pcols = catalog.getTableMetadata(ident).partitionColumnNames
    require(pcols.nonEmpty,
      s"erasePartitionedRows: '$table' is unpartitioned — a corpus-wide " +
        "rewrite is the unpartitioned path (eraseRowsFullRewrite), not " +
        "this partition-scoped one")
    val schema = spark.table(table).schema
    val doomed = ids.select(col(idCol)).dropDuplicates(idCol)
    // LAZY: the digest is one doomed-set-sized aggregate — needed only
    // when a fence exists (ownership compare) or one is acquired (the
    // real-erase path); the common no-match-no-fence call never pays it
    lazy val digest = idsDigest(doomed, idCol)
    // fail fast on a foreign live fence BEFORE the discovery job burns
    // a corpus pass (the authoritative, race-closed check is the
    // atomic acquire below — this one only saves the wasted work)
    locally {
      val loc0 = tableLocation(spark, table)
      val fs0 = new org.apache.hadoop.fs.Path(loc0)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      readEraseFence(fs0, loc0).foreach { f =>
        if (f.ids.nonEmpty && f.ids != digest)
          throw new IllegalStateException(
            s"erase of '$table' refused: another erase holds the " +
              s"table's _erasing fence (run ${f.nonce}, ids ${f.ids} " +
              s"!= $digest). If it is live, wait for it; if it " +
              "crashed, re-run it with ITS ids to heal, or " +
              "healErase(table) after verifying no erase job is running.")
      }
    }
    val full = spark.table(table)
    // 1. discovery: ONE column-pruned pass -> per-partition
    // (total, doomed) counts; broadcast keeps the join map-side
    val counts = full.select((idCol +: pcols).map(col): _*)
      .join(broadcast(doomed.withColumn("__doomed", lit(1))),
        Seq(idCol), "left")
      .groupBy(pcols.map(col): _*)
      .agg(count(lit(1)).as("__total"), count(col("__doomed")).as("__nd"))
      .filter(col("__nd") > 0)
      .collect()
    if (counts.isEmpty) {
      // no-match: a live marker carrying OUR id digest (or ownerless v1
      // debris) is the crash window between an erase's last drop and
      // its marker retire — heal it so re-run-to-heal also re-opens
      // ingest. A FOREIGN digest is another erase's live fence (its
      // doomed rows are simply not ours to see) and must stay up.
      val loc0 = tableLocation(spark, table)
      clearErasingMarkerIfHealable(new org.apache.hadoop.fs.Path(loc0)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), loc0, digest)
      return 0
    }
    require(counts.forall(r => (0 until pcols.length).forall(!r.isNullAt(_))),
      s"erasePartitionedRows: an affected partition of '$table' has a " +
        "NULL partition value — the Hive default partition is not " +
        "addressable by this operator's value-keyed drop")
    def pvals(r: org.apache.spark.sql.Row): Seq[String] =
      (0 until pcols.length).map(i => r.get(i).toString)
    val affected = counts.map(pvals).toSeq
    val fullyDoomed: Set[Seq[String]] = counts
      .filter(r => r.getLong(pcols.length) == r.getLong(pcols.length + 1))
      .map(pvals).toSet
    // 2. basis: pin the affected partitions' file set through their
    // CATALOG locations (robust to relocated partitions; metadata-only)
    val locByVals: Map[Seq[String], org.apache.hadoop.fs.Path] =
      catalog.listPartitions(ident)
        .map(p => pcols.map(p.spec(_)) -> new org.apache.hadoop.fs.Path(p.location))
        .toMap
    def dirOf(v: Seq[String]): org.apache.hadoop.fs.Path =
      locByVals.getOrElse(v, throw new IllegalStateException(
        s"erasePartitionedRows: no catalog partition for values $v of " +
          s"'$table' — run `MSCK REPAIR TABLE`/RECOVER PARTITIONS first"))
    val affectedDirs = affected.map(dirOf)
    val loc = tableLocation(spark, table)
    // the overwrite addresses the table LOCATION (see the write below),
    // so a partition relocated out from under it (ALTER ... SET
    // LOCATION) would keep serving its old files while the rewrite
    // landed at the default layout — refuse instead of silently
    // half-erasing. PATH-COMPONENT ancestry, not a raw string prefix:
    // a sibling directory sharing the location as a string prefix
    // (/data/t vs /data/t_ext/...) is exactly a relocation and must
    // refuse, which a plain startsWith would wave through.
    affectedDirs.foreach(d => require(
      (d.toString.stripSuffix("/") + "/")
        .startsWith(loc.stripSuffix("/") + "/"),
      s"erasePartitionedRows: partition directory $d of '$table' lives " +
        s"outside the table location $loc (a relocated partition) — " +
        "this operator requires the standard in-location layout"))
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFiles(dir: org.apache.hadoop.fs.Path): Set[String] = {
      val out = Set.newBuilder[String]
      def walk(d: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(d).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (st.isDirectory) walk(st.getPath) else out += st.getPath.toString
          }
        }
      if (fs.exists(dir)) walk(dir)
      out.result()
    }
    // in-flight advisory marker, written BEFORE the basis snapshot: the
    // library's own append paths ([[appendPartitionedRows]], the
    // streaming segment sinks) consult it at commit time and loudly
    // refuse writes into partitions under erase — turning the
    // single-maintenance-writer assumption the catch-up cannot close
    // (an append landing DURING the overwrite job) into an enforced
    // contract. Retired only on full completion; a crashed erase leaves
    // it up, so appends stay refused until the re-run heals. The
    // acquire is OWNED (run nonce + id digest): a concurrent erase with
    // different ids refuses here instead of clobbering this run's fence.
    val fenceNonce = acquireEraseFence(fs, loc, affectedDirs, digest, table)
    val basisByDir: Map[org.apache.hadoop.fs.Path, Set[String]] =
      affectedDirs.map(d => d -> listFiles(d)).toMap
    val basis = basisByDir.values.flatten.toSet
    // survivors of exactly a pinned file set; the EXPLICIT schema stops
    // the basePath read from re-inferring partition-column types (a
    // string partition value that parses numeric must stay verbatim)
    def survivorsOf(files: Set[String]): DataFrame =
      graft.sources.Sources.conformTo(
        spark.read.schema(schema).option("basePath", loc)
          .parquet(files.toSeq.sorted: _*), schema)
        .join(broadcast(doomed), Seq(idCol), "left_anti")
    beforeCommit()
    // 4. catch-up: files admitted into affected partitions since the
    // basis snapshot re-enter the overwrite, minus the doomed ids;
    // delta is append-sized, so its extra scan is request-scale. Kept
    // PER-DIRECTORY: the drop gate below must know which files the
    // rewrite consumed for each fully-doomed partition.
    val deltaByDir: Map[org.apache.hadoop.fs.Path, Set[String]] =
      affectedDirs.map(d => d -> (listFiles(d) -- basisByDir(d))).toMap
    val delta = deltaByDir.values.flatten.toSet
    val toWrite =
      if (delta.isEmpty) survivorsOf(basis)
      else survivorsOf(basis).unionByName(survivorsOf(delta))
    // 3. the partition-scoped overwrite — dynamic mode as a PER-WRITE
    // option, never a session-conf mutation. The write addresses the
    // table's LOCATION (a path save honors the per-write option;
    // insertInto consults only the session conf, which this operator
    // must not mutate under concurrent same-session writers): affected
    // partition directories swap at commit, untouched ones are never
    // written, and no new partition value can appear (survivors came
    // from the affected partitions), so catalog partition metadata
    // stays exact.
    toWrite.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(pcols: _*)
      .parquet(loc)
    // once the commit has landed, THIS session's relation cache points
    // at replaced files — refresh even if the drop loop dies (a crashed
    // in-session erase must leave the session able to read the table;
    // other live sessions see standard external-rewrite semantics, a
    // loud FAILED_READ healed by their own REFRESH TABLE)
    try {
      afterCommit()
      // 5. drop the partitions that emitted no survivors. The gate is
      // CONSUMED-FILE CONTAINMENT, not the discovery counts: a
      // fully-doomed partition whose directory holds no file beyond
      // the basis ∪ catch-up-delta set the rewrite READ received
      // nothing from the overwrite (had any of those files carried a
      // survivor, the dynamic overwrite would have replaced the
      // directory's content) and nothing concurrent — every row it
      // serves was consumed and doomed, so it drops even when a
      // mid-erase append added more already-doomed rows (basis-identity
      // alone would veto that drop and silently keep serving ALL the
      // doomed rows). Files BEYOND the consumed set mean a concurrent
      // writer raced the overwrite job itself: the partition keeps
      // serving, and the residue check below decides loudly whether
      // that race left doomed bytes behind. The explicit leaf delete
      // after DROP is what makes the erasure physical on EXTERNAL
      // tables (DROP PARTITION retains their files).
      val unconsumedByVals = affected.filter(fullyDoomed.contains).map { v =>
        val dir = dirOf(v)
        v -> (listFiles(dir) -- basisByDir(dir) -- deltaByDir(dir))
      }
      unconsumedByVals.foreach { case (v, unconsumed) =>
        if (unconsumed.isEmpty) {
          val dir = dirOf(v)
          val spec = pcols.zip(v).map { case (c, raw) =>
            s"`$c`='${raw.replace("\\", "\\\\").replace("'", "\\'")}'"
          }.mkString(", ")
          spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS PARTITION ($spec)")
          if (fs.exists(dir)) fs.delete(dir, true)
        }
      }
      // RESIDUE CHECK — never return success with doomed rows still
      // served: a retained fully-doomed partition kept files the
      // rewrite did not consume (a writer raced the overwrite job
      // despite the marker). Read EXACTLY those files (append-sized)
      // and fail loudly if any doomed id is among them — the erase is
      // then incomplete-but-consistent and a re-run with the same ids
      // heals (its discovery finds the residue again).
      val unconsumed = unconsumedByVals.flatMap(_._2)
      if (unconsumed.nonEmpty &&
          !survivorless(spark, schema, loc, unconsumed, doomed, idCol))
        throw new IllegalStateException(
          s"erasePartitionedRows('$table'): a concurrent writer " +
            s"committed doomed ids into a fully-doomed partition while " +
            s"the rewrite job was running (${unconsumed.size} unconsumed " +
            "files). The table serves consistently but the erase is " +
            "INCOMPLETE — re-run it with the same ids to heal.")
    } finally spark.catalog.refreshTable(table)
    clearErasingMarkerIfOwned(fs, loc, fenceNonce)
    affected.length
  }

  /** True iff none of `files` (read under the table layout rooted at
    * `loc`) contains an id from `doomed` — the erase's residue check,
    * scoped to exactly the unconsumed file set. */
  private def survivorless(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, loc: String,
      files: Seq[String], doomed: DataFrame, idCol: String): Boolean =
    spark.read.schema(schema).option("basePath", loc)
      .parquet(files.sorted: _*)
      .join(broadcast(doomed), Seq(idCol), "left_semi")
      .isEmpty

  // ------------------------------------------------------------------
  // `_erasing` in-flight marker — enforcement of the erase's
  // single-writer window
  // ------------------------------------------------------------------

  /** The `_erasing` marker: an advisory in-flight sibling at the table
    * location (the `_basis`/fold-ledger idiom applied to the one race
    * the erase's commit-time catch-up cannot close — an append
    * committing into an affected partition while the overwrite JOB is
    * running, which dynamic overwrite silently replaces at its commit;
    * milliseconds at test scale, MINUTES on a 100 TB affected-partition
    * rewrite). [[erasePartitionedRows]] writes it before the basis
    * snapshot and retires it on completion; the library's own corpus
    * writers ([[appendPartitionedRows]], the streaming segment sinks
    * via [[requireNotUnderErase]]) consult it at commit time and
    * LOUDLY REFUSE writes into partitions under erase — an append is
    * retried after the erase, never silently dropped. The residual
    * window is a writer that passed its check just before the marker
    * appeared and commits much later; the erase's residue check turns
    * even that into a loud incomplete-erase error, never silence.
    * Underscore-prefixed, so Spark's file listings (and the erase's
    * own basis/catch-up listings) never see it as data. The marker is
    * OWNED: it records the writing run's nonce and its doomed-id
    * digest, a different-ids erase refuses to start while it is live
    * ([[acquireEraseFence]]), only a same-ids re-run (the crash-heal
    * path) may take it over, and completion retires it only under the
    * owning nonce. Format: one header line (`graft-erasing-v2`), a
    * `nonce=` line, an `ids=` line, then one affected partition
    * directory URI per line; pre-nonce v1 markers parse as ownerless
    * debris (clearable by any heal, takeable by any erase). */
  private val ErasingMarkerName = "_erasing"
  private val ErasingMarkerHeaderV1 = "graft-erasing-v1"
  private val ErasingMarkerHeaderV2 = "graft-erasing-v2"

  /** A parsed live `_erasing` marker. `nonce` identifies the RUN that
    * wrote it and `ids` digests the run's doomed-id set (both empty for
    * a pre-nonce v1 marker, which has no recorded owner); `affected`
    * carries the partition directory URIs under erase. The nonce is
    * what makes erase-vs-erase safe: only the run holding the current
    * nonce may retire the fence on completion, a same-ids re-run (the
    * documented crash-heal path) may take the fence over, and an erase
    * with DIFFERENT ids refuses to start while a foreign fence is live
    * — an orchestrator retry can no longer clobber a running erase's
    * fence and re-open ingest mid-overwrite. */
  private[graft] final case class EraseFence(nonce: String, ids: String,
      affected: Seq[String])

  private def erasingMarkerPath(loc: String): org.apache.hadoop.fs.Path =
    // Path(parent, child) (not string concat): survives the filesystem
    // ROOT, which the ancestor walk of requireNotUnderErase reaches
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), ErasingMarkerName)

  private def writeErasingMarker(fs: org.apache.hadoop.fs.FileSystem,
      loc: String, affectedDirs: Seq[org.apache.hadoop.fs.Path],
      nonce: String, ids: String, overwrite: Boolean): Unit = {
    val out = fs.create(erasingMarkerPath(loc), overwrite)
    try out.write((Seq(ErasingMarkerHeaderV2, s"nonce=$nonce", s"ids=$ids")
      ++ affectedDirs.map(_.toString))
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def clearErasingMarker(fs: org.apache.hadoop.fs.FileSystem,
      loc: String): Unit = {
    val p = erasingMarkerPath(loc)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Retire the fence only if THIS run still owns it: a same-ids re-run
    * that took the fence over mid-crash must not have its marker
    * retired by the original (resumed or zombie) run completing later. */
  private def clearErasingMarkerIfOwned(fs: org.apache.hadoop.fs.FileSystem,
      loc: String, nonce: String): Unit =
    readEraseFence(fs, loc).foreach { f =>
      if (f.nonce == nonce || f.nonce.isEmpty) clearErasingMarker(fs, loc)
    }

  /** The no-match-heal gate: clear the fence only when this run can
    * claim it — the marker's id digest matches OUR doomed set (the
    * documented re-run-with-same-ids heal: the crashed erase's data
    * work completed, only the retire is missing) or the marker is
    * pre-nonce v1 debris with no recorded owner. A FOREIGN digest means
    * another erase is live (or crashed with different ids): its fence
    * stays up — retiring it here was exactly the no-match clobber that
    * re-opened ingest under a running erase. Heal a foreign crashed
    * fence by re-running ITS erase, or [[healErase]] after verifying no
    * erase job is live. */
  private def clearErasingMarkerIfHealable(
      fs: org.apache.hadoop.fs.FileSystem, loc: String,
      ids: => String): Unit =
    // `ids` BY NAME: the digest aggregate is forced only when a live
    // fence actually needs the ownership compare — the common
    // no-match-no-fence path stays one probe pass, no digest job
    readEraseFence(fs, loc).foreach { f =>
      if (f.ids.isEmpty || f.ids == ids) clearErasingMarker(fs, loc)
    }

  /** Acquire the erase fence for a run with doomed-id digest `ids`,
    * returning the run nonce. No live marker → ATOMIC create (the
    * create-if-absent primitive local/HDFS give us), so two erases
    * starting simultaneously cannot both think they own the fence; one
    * loses the create and re-enters the decision. Live marker with the
    * SAME ids (or ownerless v1 debris) → takeover with a fresh nonce —
    * the documented re-run-to-heal path. Live marker with FOREIGN ids →
    * refuse loudly: a second erase while another runs (an orchestrator
    * retry with a changed id set, two compliance jobs colliding) must
    * never clobber the running erase's fence. */
  private def acquireEraseFence(fs: org.apache.hadoop.fs.FileSystem,
      loc: String, affectedDirs: Seq[org.apache.hadoop.fs.Path],
      ids: String, table: String): String = {
    val nonce = java.util.UUID.randomUUID().toString
    def refuse(f: EraseFence): Nothing = throw new IllegalStateException(
      s"erase of '$table' refused: another erase holds the table's " +
        s"_erasing fence (run ${f.nonce}, ids ${f.ids} != $ids). " +
        "If it is live, wait for it; if it crashed, re-run it with " +
        "ITS ids to heal, or healErase(table) after verifying no " +
        "erase job is running.")
    readEraseFence(fs, loc) match {
      case None =>
        try writeErasingMarker(fs, loc, affectedDirs, nonce, ids,
          overwrite = false)
        catch {
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
              _: java.io.IOException) =>
            // lost the create race (a marker appeared between the read
            // and the create) — one re-read decides: same-ids/ownerless
            // → take over; foreign → refuse; still absent → a real
            // filesystem failure, not a race
            readEraseFence(fs, loc) match {
              case Some(f) if f.ids.isEmpty || f.ids == ids =>
                writeErasingMarker(fs, loc, affectedDirs, nonce, ids,
                  overwrite = true)
              case Some(f) => refuse(f)
              case None => throw e
            }
        }
      case Some(f) if f.ids.isEmpty || f.ids == ids =>
        writeErasingMarker(fs, loc, affectedDirs, nonce, ids,
          overwrite = true)
      case Some(f) => refuse(f)
    }
    nonce
  }

  /** Order-independent digest of the doomed-id set — what ties a fence
    * to "the same erase": a crashed run's re-run presents the same ids
    * and may take the fence over; any other id set is a different erase
    * and refuses. One doomed-set-sized aggregate (never corpus-scaled);
    * XOR-of-hashes is commutative (partition order cannot change it)
    * and never overflows under ANSI mode — sound here because the set
    * is deduplicated first (no pair of equal hashes to cancel). */
  private def idsDigest(doomed: DataFrame, idCol: String): String = {
    val r = doomed.select(xxhash64(col(idCol).cast("string")).as("__h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("h")).head()
    val h = if (r.isNullAt(1)) 0L else r.getLong(1)
    s"n${r.getLong(0)}-h${java.lang.Long.toHexString(h)}"
  }

  /** Parse a live `_erasing` marker under `dir` (v2 with owner nonce +
    * id digest, or pre-nonce v1 with neither). None when no erase is in
    * flight; tolerates a foreign/garbled file of the same name
    * (refusing writes on garbage would wedge ingest on a typo'd touch). */
  private[graft] def readEraseFence(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[EraseFence] = {
    val p = erasingMarkerPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
      val lines = new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
      lines.headOption match {
        case Some(ErasingMarkerHeaderV1) =>
          Some(EraseFence("", "", lines.tail))
        case Some(ErasingMarkerHeaderV2) =>
          val nonce = lines.tail.find(_.startsWith("nonce="))
            .map(_.stripPrefix("nonce=")).getOrElse("")
          val ids = lines.tail.find(_.startsWith("ids="))
            .map(_.stripPrefix("ids=")).getOrElse("")
          Some(EraseFence(nonce, ids, lines.tail
            .filterNot(l => l.startsWith("nonce=") || l.startsWith("ids="))))
        case _ => None
      }
    }
  }

  /** The affected partition directory URIs of a live `_erasing` marker
    * under `dir`, or None when no erase is in flight — the view the
    * write-side guards ([[appendPartitionedRows]],
    * [[requireNotUnderErase]]) consume; ownership does not matter to
    * them, only coverage. */
  private[graft] def readErasingMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Seq[String]] =
    readEraseFence(fs, dir).map(_.affected)

  /** Force-retire `table`'s erase fence — the OPERATOR escape hatch for
    * crash debris whose owning erase cannot be re-run (its id set is
    * gone). Only safe after verifying no erase job is live: clearing a
    * LIVE erase's fence re-opens ingest into partitions its overwrite
    * is still rewriting, exactly the silent-replace race the fence
    * enforces against — which is why the library's own paths never
    * force-clear (the no-match heal requires a same-ids or ownerless
    * marker) and this verb exists as the explicit, named alternative.
    * Returns true iff a fence was present and cleared. */
  def healErase(spark: SparkSession, table: String): Boolean = {
    val loc = tableLocation(spark, table)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val had = readEraseFence(fs, loc).isDefined
    clearErasingMarker(fs, loc)
    had
  }

  /** Whether an erase currently holds `table`'s in-flight marker —
    * diagnostic surface for operators deciding whether to re-run a
    * crashed erase (the marker is retired only on completion). */
  def eraseInFlight(spark: SparkSession, table: String): Boolean = {
    val loc = tableLocation(spark, table)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readErasingMarker(fs, loc).isDefined
  }

  /** The library's APPEND verb for a partitioned corpus table — the
    * ingest-side half of the erase's single-writer contract: target
    * partition values are resolved from the append itself (one
    * append-sized distinct), and if any of them is under a live
    * [[erasePartitionedRows]] marker the append REFUSES LOUDLY instead
    * of racing the rewrite (where a commit landing mid-job would be
    * silently replaced at the overwrite's commit — data loss). Appends
    * into partitions not under erase (and into new partition values)
    * proceed normally; a refused append is safe to retry after the
    * erase completes (or after re-running a crashed erase, which
    * retires the marker). The check-then-write window is inherent: a
    * marker written between this verb's fence read and its insert
    * admits that one append into the overwrite window — in a
    * fully-doomed partition the erase's residue check turns it loud,
    * in a survivor partition it is the marker doc's documented
    * residual case (Layout's `_erasing` scaladoc). */
  def appendPartitionedRows(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val pcols = catalog.getTableMetadata(ident).partitionColumnNames
    require(pcols.nonEmpty,
      s"appendPartitionedRows: '$table' is unpartitioned — use a plain " +
        "append; the erase-marker contract guards partitioned corpora")
    val loc = tableLocation(spark, table)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readErasingMarker(fs, loc).foreach { affected =>
      val affectedSet = affected.map(_.stripSuffix("/")).toSet
      // append-sized distinct of the rows' target partitions, resolved
      // to catalog locations exactly as the erase resolved its set — a
      // target value with no catalog partition yet cannot be under
      // erase (the erase only markers partitions that exist)
      val locByVals = catalog.listPartitions(ident)
        .map(p => pcols.map(p.spec(_)) ->
          new org.apache.hadoop.fs.Path(p.location).toString.stripSuffix("/"))
        .toMap
      val targets = df.select(pcols.map(col): _*).distinct().collect()
        .map(r => pcols.indices.map(i => String.valueOf(r.get(i))))
      val hit = targets.filter(v =>
        locByVals.get(v).exists(affectedSet.contains))
      if (hit.nonEmpty) throw new IllegalStateException(
        s"appendPartitionedRows('$table'): partitions " +
          hit.map(_.mkString("/")).mkString("[", ", ", "]") +
          " are under a live erase (_erasing marker present) — an " +
          "append committing during the erase's overwrite job would be " +
          "silently replaced. Retry after the erase completes; if it " +
          "crashed, re-run it to heal (which retires the marker).")
    }
    // positional insertInto: select in table-schema order first
    df.select(spark.table(table).columns.map(col): _*)
      .write.mode("append").insertInto(table)
  }

  /** Commit-time guard for any library writer targeting `dir`: refuses
    * (loudly) when `dir` lies inside a partition currently under erase
    * — i.e. some ancestor directory holds a live `_erasing` marker
    * whose affected-partition set covers `dir`. Walks the ancestor
    * chain once (path-depth-bounded metadata probes, no data read);
    * the streaming segment sinks call this per micro-batch. */
  def requireNotUnderErase(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    var p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val target = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    p = fs.makeQualified(p)
    while (p != null) {
      readErasingMarker(fs, p.toString).foreach { affected =>
        val hit = affected.map(a => fs.makeQualified(
          new org.apache.hadoop.fs.Path(a)).toString.stripSuffix("/") + "/")
          .filter(a => target.startsWith(a) || a.startsWith(target))
        if (hit.nonEmpty) throw new IllegalStateException(
          s"write into $dir refused: it overlaps partitions under a " +
            s"live erase (${hit.mkString(", ")}) — a commit landing " +
            "during the erase's overwrite job would be silently " +
            "replaced. Retry after the erase completes (a crashed " +
            "erase is healed, and its marker retired, by re-running it).")
      }
      p = p.getParent
    }
  }

  /** [[erasePartitionedRows]] for an UNPARTITIONED corpus table: with
    * no partitions to scope the rewrite, erasure IS a full rewrite —
    * survivors written as a staged generation beside the live table
    * (which keeps serving throughout) and promoted by the metadata-only
    * swap ([[graft.sources.Sources.promoteTable]]) — the
    * compactBm25Index discipline; a failed rewrite never touched the
    * live generation. At 100 TB this is the expensive path by design:
    * partition the corpus ([[partitionedTableFor]]) and use the
    * partition-scoped variant. No-op (and no rewrite) when no row
    * matches. Returns the number of rows erased.
    *
    * Same concurrent-append contract as the partitioned path — a swap
    * replaces the WHOLE table, so an append landing mid-build would
    * otherwise vanish at the promote, silently: (a) the `_erasing`
    * fence goes up first, covering the table location, so the
    * library's own writers ([[requireNotUnderErase]]) refuse for the
    * build's duration; (b) the survivor rewrite reads a pinned file
    * BASIS, and a commit-time CATCH-UP appends (delta minus doomed)
    * into the staged generation; (c) files that appear after even the
    * catch-up (a fence-bypassing writer racing the swap itself) ABORT
    * the promote loudly — live generation unchanged, re-run to heal;
    * (d) the last window (c) cannot see — a commit landing between its
    * final listing and the swap — is closed at RETIRE time: before the
    * old generation's files are deleted, their set must equal exactly
    * what the rewrite consumed, else the retire aborts with the raced
    * files PRESERVED on disk, the fence re-armed at the new live
    * location, and a loud incomplete-erase error naming the recovery
    * (re-append the preserved files minus the doomed ids) — never a
    * silent replace. Crash contract: a crashed erase leaves
    * the fence up (appends stay refused) and the live generation
    * untouched; re-running with the same ids heals and retires it. */
  def eraseRowsFullRewrite(spark: SparkSession, table: String,
      ids: DataFrame): Long =
    eraseRowsFullRewrite(spark, table, ids, () => (), () => ())

  /** [[eraseRowsFullRewrite]] with kill-window hooks for the crash and
    * race specs: `afterStagedWrite` runs between the basis rewrite and
    * the catch-up listing (an append here must be re-admitted);
    * `beforePromote` runs after the catch-up, before the pre-swap raced
    * listing (an append here must abort the promote, never vanish);
    * `afterRacedCheck` runs between that final listing and the swap
    * itself — the one window the abort cannot see, which the
    * post-promote retire verification closes loudly. */
  private[graft] def eraseRowsFullRewrite(spark: SparkSession,
      table: String, ids: DataFrame, afterStagedWrite: () => Unit,
      beforePromote: () => Unit,
      afterRacedCheck: () => Unit = () => ()): Long = {
    val idCol = ids.columns.head
    val doomedIds = ids.select(col(idCol)).dropDuplicates(idCol)
    // the broadcast hint belongs on the semi- and anti-joins only: on
    // the digest's aggregate it reaches no join and logs a hint error
    val doomed = broadcast(doomedIds)
    // lazy for the same reason as the partitioned path: the no-match
    // no-fence call (the noop floor the scale ladder prices) must not
    // pay the doomed-set digest aggregate
    lazy val digest = idsDigest(doomedIds, idCol)
    val full = spark.table(table)
    val loc = tableLocation(spark, table)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fail fast on a foreign live fence BEFORE the no-op probe scans
    // the corpus (the authoritative check is the atomic acquire below)
    readEraseFence(fs, loc).foreach { f =>
      if (f.ids.nonEmpty && f.ids != digest)
        throw new IllegalStateException(
          s"erase of '$table' refused: another erase holds the table's " +
            s"_erasing fence (run ${f.nonce}, ids ${f.ids} != $digest). " +
            "If it is live, wait for it; if it crashed, re-run it with " +
            "ITS ids to heal, or healErase(table) after verifying no " +
            "erase job is running.")
    }
    // no-op gate: a LIMIT-1 semi probe, not a full semi-join count — it
    // short-circuits on the first doomed row; only the no-match path
    // (which rewrites nothing) pays a full pass, over the id column
    // alone. A live marker carrying OUR digest (or ownerless v1 debris)
    // on the no-match path is debris of an erase that crashed between
    // its promote and the marker retire (the doomed rows are gone) —
    // heal it here so re-run-to-heal also re-opens ingest; a foreign
    // digest is another erase's live fence and stays up.
    if (full.join(doomed, Seq(idCol), "left_semi").isEmpty) {
      clearErasingMarkerIfHealable(fs, loc, digest)
      return 0L
    }
    // fence BEFORE the basis snapshot (the partitioned path's order):
    // the whole table location is the affected set — there are no
    // partitions to scope. Owned acquire: a concurrent different-ids
    // erase refuses instead of clobbering this run's fence.
    val fenceNonce = acquireEraseFence(fs, loc,
      Seq(fs.makeQualified(new org.apache.hadoop.fs.Path(loc))),
      digest, table)
    val schema = full.schema
    def rowsOf(files: Set[String]): org.apache.spark.sql.DataFrame =
      spark.read.schema(schema).parquet(files.toSeq.sorted: _*)
    def liveFiles(): Set[String] =
      graft.sources.Sources.tableDataFiles(spark, table).toSet
    val basis = liveFiles()
    val next = s"${table}__next"
    graft.sources.Sources.replaceTable(spark, next)
    // the erased-row count rides the rewrite itself as two mid-plan
    // CollectMetrics observations (rows in, rows out — erased is the
    // difference), so the corpus is DATA-scanned exactly once: by the
    // survivor write
    val liveObs = org.apache.spark.sql.Observation("graft_erase_live")
    val stagedObs = org.apache.spark.sql.Observation("graft_erase_staged")
    rowsOf(basis).observe(liveObs, count(lit(1)).as("n"))
      .join(doomed, Seq(idCol), "left_anti")
      .observe(stagedObs, count(lit(1)).as("n"))
      .write.format("parquet")
      .options(graft.sources.Sources.stagedWriteOptions(spark, next))
      .saveAsTable(next)
    var erased = liveObs.get("n").asInstanceOf[Long] -
      stagedObs.get("n").asInstanceOf[Long]
    afterStagedWrite()
    // commit-time catch-up: appends that committed between the basis
    // snapshot and now (e.g. a writer that passed its fence check just
    // before the marker appeared) re-enter the staged generation minus
    // the doomed ids; the extra scan is append-sized
    val delta = liveFiles() -- basis
    if (delta.nonEmpty) {
      val deltaInObs = org.apache.spark.sql.Observation("graft_erase_delta_in")
      val deltaOutObs = org.apache.spark.sql.Observation("graft_erase_delta_out")
      rowsOf(delta).observe(deltaInObs, count(lit(1)).as("n"))
        .join(doomed, Seq(idCol), "left_anti")
        .observe(deltaOutObs, count(lit(1)).as("n"))
        .write.mode("append").insertInto(next)
      erased += deltaInObs.get("n").asInstanceOf[Long] -
        deltaOutObs.get("n").asInstanceOf[Long]
    }
    beforePromote()
    // the swap retires the whole live directory — a file that appeared
    // after even the catch-up means a fence-bypassing writer is racing
    // the swap itself: abort LOUDLY (live generation unchanged, staged
    // debris left for vacuum, fence stays up) instead of silently
    // deleting the raced commit with the retired generation
    val raced = liveFiles() -- basis -- delta
    if (raced.nonEmpty) throw new IllegalStateException(
      s"eraseRowsFullRewrite('$table'): a concurrent writer committed " +
        s"${raced.size} file(s) during the staged rewrite — the erase " +
        "ABORTED before the swap (live table unchanged, staged " +
        "generation left for vacuumGenerations). Re-run it with the " +
        "same ids to heal (which consumes the raced files in its basis).")
    afterRacedCheck()
    // post-promote retire verification — closes the one window the
    // abort above cannot see (a fence-bypassing commit landing between
    // that final listing and the swap): before the RETIRED generation's
    // files are deleted, their name set must equal exactly the files
    // the rewrite consumed (basis ∪ delta). Anything beyond it is a
    // raced commit whose rows the swap already dropped from the live
    // view — fail LOUDLY with the bytes PRESERVED (the retire is
    // aborted, the raced files stay on disk) instead of deleting them
    // with the retired generation. Compared by file NAME, not path: the
    // rename-regime promote moves the directory. The partitioned path's
    // analogue is its post-drop residue check.
    val consumedNames = (basis ++ delta)
      .map(f => new org.apache.hadoop.fs.Path(f).getName)
    graft.sources.Sources.promoteTable(spark, next, table,
      beforeRetire = retiredDir => {
        val leftover = graft.sources.Sources
          .dataFilesUnder(spark, retiredDir.toString)
          .filterNot(f =>
            consumedNames.contains(new org.apache.hadoop.fs.Path(f).getName))
        if (leftover.nonEmpty) {
          // the swap moved the live table off the marker's directory
          // (rename regime: the marker traveled INTO the retired dir;
          // swap regime: the table now points at the staged location)
          // — re-arm the fence at the CURRENT live location so ingest
          // stays closed until the operator recovers the raced bytes
          val newLoc = tableLocation(spark, table)
          writeErasingMarker(
            new org.apache.hadoop.fs.Path(newLoc)
              .getFileSystem(spark.sparkContext.hadoopConfiguration),
            newLoc,
            Seq(fs.makeQualified(new org.apache.hadoop.fs.Path(newLoc))),
            fenceNonce, digest, overwrite = true)
          throw new IllegalStateException(
            s"eraseRowsFullRewrite('$table'): a concurrent writer " +
            s"committed ${leftover.size} file(s) between the erase's " +
            "final pre-swap listing and the generation swap. The erase " +
            "is INCOMPLETE-but-preserved: the live table serves the " +
            "erased generation WITHOUT those rows, the raced files are " +
            s"kept on disk under $retiredDir (${leftover.mkString(", ")}) " +
            "and the fence stays up. Recover by re-appending the " +
            "preserved files minus the doomed ids, then healErase; a " +
            "plain re-run cannot see them (they left the live file set).")
        }
      })
    clearErasingMarkerIfOwned(fs, loc, fenceNonce)
    erased
  }

  /** Root URI of a catalog table's data — the directory whose
    * `col=value` subtrees a partition-pruned reader (batch or
    * [[graft.streaming.Streaming.partitionSubtreeStream]]) addresses.
    * The FULL URI, scheme and authority included: `getPath` would strip
    * `hdfs://nn:8020` / `s3a://bucket` and silently re-resolve against
    * the default filesystem on any non-local warehouse. */
  def tableLocation(spark: SparkSession, table: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString

  /** Per-scan partition-pruning evidence from a plan: for every file
    * scan over a partitioned relation, the number of partitions the
    * planner SELECTED, whether a static partition filter reached the
    * scan, and whether a runtime [[DynamicPruningExpression]] (DPP) is
    * attached. Empty for unpartitioned scans. */
  final case class PruneStat(selected: Int, staticFilter: Boolean,
      dynamicFilter: Boolean)

  /** Apply `f` to every node of a physical plan, descending through the
    * wrappers `TreeNode.foreach` treats as LEAVES: AQE's
    * `AdaptiveSparkPlanExec` (its current `executedPlan`), post-execution
    * `QueryStageExec` stage leaves, and cached `InMemoryTableScanExec`
    * subtrees. The ONE walker behind every plan assertion in the repo —
    * scan pruning here, pushdown in PushdownSpec, skew handling in
    * ScaleSmoke — so the next AQE wrapper node is handled once, not
    * re-discovered per call site when an assertion starts reporting
    * "no scans". */
  def foreachPlanNode(root: org.apache.spark.sql.execution.SparkPlan)(
      f: org.apache.spark.sql.execution.SparkPlan => Unit): Unit = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    root.foreach { node =>
      f(node)
      node match {
        case a: AdaptiveSparkPlanExec => foreachPlanNode(a.executedPlan)(f)
        case q: QueryStageExec => foreachPlanNode(q.plan)(f)
        case im: InMemoryTableScanExec => foreachPlanNode(im.relation.cachedPlan)(f)
        case _ => ()
      }
    }
  }

  def scanPruneStats(df: DataFrame): Seq[PruneStat] = {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = scala.collection.mutable.ListBuffer.empty[PruneStat]
    foreachPlanNode(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty =>
        val (dyn, static) =
          s.partitionFilters.partition(_.exists(_.isInstanceOf[DynamicPruningExpression]))
        out += PruneStat(s.selectedPartitions.partitionCount,
          static.nonEmpty, dyn.nonEmpty)
      case _ => ()
    }
    out.toList
  }

  /** Fail-fast gate: at least one partitioned scan in `df`'s plan must
    * carry a STATIC partition filter that pruned to ≤ `maxPartitions`.
    * Planning-time only — no job runs. */
  def requireStaticPrune(df: DataFrame, maxPartitions: Int): DataFrame = {
    val stats = scanPruneStats(df)
    require(stats.exists(s => s.staticFilter && s.selected <= maxPartitions),
      s"no statically-pruned scan ≤ $maxPartitions partitions; scans: $stats")
    df
  }

  /** Fail-fast gate: at least one partitioned scan must carry a runtime
    * DPP filter (planning-time check; the pruned partition count is
    * runtime — assert it via [[dynamicPruneCounts]] in specs). */
  def requireDynamicPrune(df: DataFrame): DataFrame = {
    val stats = scanPruneStats(df)
    require(stats.exists(_.dynamicFilter),
      s"no dynamic-partition-pruning filter reached any scan; scans: $stats")
    df
  }

  /** RUNTIME partition counts after dynamic filters evaluate, one per
    * DPP-carrying scan, read from the scan's `numPartitions` driver
    * metric (the listing itself is `protected`) — call AFTER an action
    * has executed the plan; a cold plan reports 0. */
  def dynamicPruneCounts(df: DataFrame): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = scala.collection.mutable.ListBuffer.empty[Int]
    foreachPlanNode(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression])) =>
        out += s.metrics("numPartitions").value.toInt
      case _ => ()
    }
    out.toList
  }
}
