package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.GTable

/** Import/export surface (reference §2.1: csv/tsv/json/fixed-width import
  * with per-column transforms, scan-time filters and limit; csv/tsv/json
  * export — littletable.py:2744-3459).
  *
  * Design: every import compiles to `spark.read` + casts + filters +
  * limit, all lazy — Catalyst pushes filters/limits into the scan
  * (PushDownPredicates / LimitPushDown), which is the distributed
  * equivalent of the reference's generator pipeline (littletable.py:
  * 2777-2843). Archive/URL source polymorphism (littletable.py:761-927):
  * `.gz` is native to Spark; `.zip` and data-strings get small driver
  * shims.
  */
object Sources {

  /** Per-column transform with on-error default (reference `transforms`,
    * littletable.py:2763-2808): `try_`-style cast, errors→default instead
    * of failed tasks. */
  final case class Transform(to: String, default: Option[Any] = None) {
    def apply(c: Column): Column = {
      val cast = c.try_cast(to)
      default.map(d => coalesce(cast, lit(d))).getOrElse(cast)
    }
  }

  private def applyCommon(
      df0: DataFrame,
      transforms: Map[String, Transform],
      filters: Seq[Column],
      limit: Option[Int]): DataFrame = {
    var df = df0
    transforms.foreach { case (name, tr) =>
      if (name == "*") {
        // wildcard: apply to all not otherwise transformed (littletable.py:2786-2808)
        df0.columns.filterNot(transforms.keySet.filter(_ != "*")).foreach { c =>
          df = df.withColumn(c, tr(col(c)))
        }
      } else df = df.withColumn(name, tr(col(name)))
    }
    filters.foreach(f => df = df.filter(f))
    limit.foreach(n => df = df.limit(n))
    df
  }

  /** CSV import (reference csv_import, littletable.py:2872-2940).
    * `fieldnames` for headerless files; any reader option via `options`. */
  def csvImport(
      spark: SparkSession,
      path: String,
      sep: String = ",",
      fieldnames: Seq[String] = Nil,
      transforms: Map[String, Transform] = Map.empty,
      filters: Seq[Column] = Nil,
      limit: Option[Int] = None,
      options: Map[String, String] = Map.empty): GTable = {
    var reader = spark.read
      .option("sep", sep)
      .option("header", fieldnames.isEmpty)
      .options(options)
    val df0 = reader.csv(path)
    val named =
      if (fieldnames.isEmpty) df0
      else df0.toDF(fieldnames: _*)
    GTable(applyCommon(named, transforms, filters, limit), path)
      .withMeta("path", path)
  }

  /** TSV import (littletable.py:2976-3017). */
  def tsvImport(spark: SparkSession, path: String,
      fieldnames: Seq[String] = Nil,
      transforms: Map[String, Transform] = Map.empty,
      filters: Seq[Column] = Nil,
      limit: Option[Int] = None): GTable =
    csvImport(spark, path, sep = "\t", fieldnames, transforms, filters, limit)

  /** Import from an in-memory data string (the reference's multi-line
    * data-string source, littletable.py:774-796) — parse with from_csv
    * over a tiny parallelized dataset. */
  def csvImportString(
      spark: SparkSession,
      data: String,
      sep: String = ",",
      transforms: Map[String, Transform] = Map.empty,
      filters: Seq[Column] = Nil,
      limit: Option[Int] = None): GTable = {
    // Spool to a temp file and go through the real CSV reader (with
    // multiLine) so quoted fields — including embedded newlines and
    // significant whitespace — parse correctly, and a header-only string
    // yields an empty table rather than a column-count error. The
    // reference treats data strings as a small-sample convenience
    // (littletable.py:774-915); the driver-side spool matches that scale.
    val tmp = java.io.File.createTempFile("graft_csv_str_", ".csv")
    tmp.deleteOnExit()
    java.nio.file.Files.writeString(tmp.toPath, data.stripLeading())
    val parsed = spark.read
      .option("header", true).option("sep", sep).option("multiLine", true)
      .csv(tmp.getAbsolutePath)
    GTable(applyCommon(parsed, transforms, filters, limit), "<data-string>")
      .withMeta("data-string", "<data-string>")
  }

  /** JSON / JSONL import with `path="a.b.c"` descent into a nested
    * container (littletable.py:3204-3312). JSONL is Spark-native; array
    * files read with multiLine. */
  def jsonImport(
      spark: SparkSession,
      path: String,
      descent: String = "",
      multiLine: Boolean = false,
      transforms: Map[String, Transform] = Map.empty,
      filters: Seq[Column] = Nil,
      limit: Option[Int] = None): GTable = {
    var df = spark.read.option("multiLine", multiLine).json(path)
    if (descent.nonEmpty) {
      // descend a.b.c then explode the array of records found there
      df = df.select(explode(col(descent)).as("rec")).select(col("rec.*"))
    }
    GTable(applyCommon(df, transforms, filters, limit), path)
      .withMeta("path", path)
  }

  /** Fixed-width spec: (label, start, end) 0-based half-open slices —
    * reference FixedWidthReader (littletable.py:937-995). */
  final case class FixedWidthSpec(label: String, start: Int, end: Int,
      transform: Option[Transform] = None)

  def fixedWidthImport(
      spark: SparkSession,
      path: String,
      spec: Seq[FixedWidthSpec],
      filters: Seq[Column] = Nil,
      limit: Option[Int] = None): GTable = {
    val raw = spark.read.text(path)
    val cols = spec.map { fw =>
      val sliced = trim(substring(col("value"), fw.start + 1, fw.end - fw.start))
      fw.transform.map(_(sliced)).getOrElse(sliced).as(fw.label)
    }
    GTable(applyCommon(raw.select(cols: _*), Map.empty, filters, limit), path)
      .withMeta("fixed-width", path)
  }

  /** URL-source options mirroring the reference's `url_args`
    * (littletable.py:797-841): Basic-auth credentials, extra request
    * headers, POST body, read/connect timeout, and an SSL trust source —
    * either a CA bundle file (PEM, like the reference's `cafile`) or a
    * prebuilt [[javax.net.ssl.SSLContext]] (like `context`). */
  final case class UrlArgs(
      username: Option[String] = None,
      password: String = "",
      headers: Map[String, String] = Map.empty,
      data: Option[Array[Byte]] = None,
      timeoutMs: Int = 30000,
      cafile: Option[String] = None,
      sslContext: Option[javax.net.ssl.SSLContext] = None)

  /** Build an SSLContext trusting exactly the X.509 certs in a PEM file
    * (reference `cafile`/`load_verify_locations`,
    * littletable.py:819-832). */
  def sslContextFromCaFile(path: String): javax.net.ssl.SSLContext = {
    val cf = java.security.cert.CertificateFactory.getInstance("X.509")
    val in = new java.io.FileInputStream(path)
    val certs = try cf.generateCertificates(in) finally in.close()
    val ks = java.security.KeyStore.getInstance(java.security.KeyStore.getDefaultType)
    ks.load(null, null)
    val it = certs.iterator()
    var i = 0
    while (it.hasNext) { ks.setCertificateEntry(s"ca$i", it.next()); i += 1 }
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, null)
    ctx
  }

  /** Driver shim: fetch a URL to a temp file so spark.read can scan it
    * (reference http(s) source, littletable.py:797-841). Supports any
    * java.net URL scheme incl. file:// for tests. */
  def fetchUrlToTemp(url: String, timeoutMs: Int = 30000): String =
    fetchUrlToTemp(url, UrlArgs(timeoutMs = timeoutMs))

  /** Full url_args flavor: Basic auth (with the reference's warning when
    * credentials ride plain http), custom headers, POST data, timeout,
    * and a custom trust context for https. */
  def fetchUrlToTemp(url: String, args: UrlArgs): String = {
    val u = java.net.URI.create(url).toURL
    val conn = u.openConnection()
    conn.setConnectTimeout(args.timeoutMs)
    conn.setReadTimeout(args.timeoutMs)
    args.headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    args.username.foreach { user =>
      if (u.getProtocol == "http")
        // reference AuthenticationWarning (littletable.py:805-806)
        System.err.println(
          "WARNING: Basic-auth credentials sent over unencrypted http")
      val token = java.util.Base64.getEncoder
        .encodeToString(s"$user:${args.password}".getBytes("UTF-8"))
      conn.setRequestProperty("Authorization", s"Basic $token")
    }
    val ctx = args.sslContext.orElse(args.cafile.map(sslContextFromCaFile))
    (conn, ctx) match {
      case (https: javax.net.ssl.HttpsURLConnection, Some(c)) =>
        https.setSSLSocketFactory(c.getSocketFactory)
      case _ =>
    }
    args.data.foreach { body =>
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
    }
    val suffix = u.getPath.replaceAll(".*/", "")
    val tmp = java.io.File.createTempFile("graft_url_", s"_$suffix")
    tmp.deleteOnExit()
    val in = conn.getInputStream
    try java.nio.file.Files.copy(in, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.getAbsolutePath
  }

  /** Driver shim: extract a .tar.gz entry (reference tar.gz source,
    * littletable.py:844-860). Minimal ustar reader — 512-byte headers,
    * name at 0..100, size as octal at 124..136. */
  def untarGzToTemp(tarGzPath: String, entry: String = ""): String = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(tarGzPath)))
    try {
      val header = new Array[Byte](512)
      def readFully(buf: Array[Byte], n: Int): Int = {
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) return off
          off += r
        }
        off
      }
      while (readFully(header, 512) == 512) {
        val name = new String(header, 0, 100, "US-ASCII").takeWhile(_ != '\u0000')
        if (name.nonEmpty) {
          val sizeStr = new String(header, 124, 12, "US-ASCII")
            .takeWhile(c => c != '\u0000' && c != ' ').trim
          val size = if (sizeStr.isEmpty) 0L else java.lang.Long.parseLong(sizeStr, 8)
          // typeflag (offset 156): only regular files ('0' or NUL) are
          // data — pax extended headers ('x'/'g'), directories ('5'),
          // links etc. must be skipped, not returned as content
          val typeflag = header(156).toChar
          val isRegular = typeflag == '0' || typeflag == '\u0000'
          val isTarget = isRegular &&
            (entry.isEmpty || name == entry || name.endsWith(s"/$entry"))
          // a legitimately EMPTY target entry returns an empty temp file
          // (size > 0 here would skip it and falsely report 'not found')
          if (isTarget) {
            val suffix = name.replaceAll(".*/", "")
            val tmp = java.io.File.createTempFile("graft_tar_", s"_$suffix")
            tmp.deleteOnExit()
            val out = new java.io.FileOutputStream(tmp)
            val buf = new Array[Byte](8192)
            var remaining = size
            while (remaining > 0) {
              val r = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
              require(r >= 0, s"truncated tar entry $name")
              out.write(buf, 0, r); remaining -= r
            }
            out.close()
            return tmp.getAbsolutePath
          } else {
            var skip = (size + 511) / 512 * 512
            while (skip > 0) {
              val r = in.skip(skip)
              if (r <= 0) {
                // skip() returns 0 at EOF on inflater streams — probe
                // with read() to distinguish EOF from a zero-skip
                require(in.read() >= 0, s"truncated tar archive at entry $name")
                skip -= 1
              } else skip -= r
            }
          }
        }
      }
      throw new IllegalArgumentException(s"entry '$entry' not found in $tarGzPath")
    } finally in.close()
  }

  /** Driver shim: decompress a .xz/.lzma file (reference xz support,
    * littletable.py:867-871) via the org.tukaani.xz codec that ships with
    * Spark. Same temp-file contract as the zip/tar shims. */
  def unxzToTemp(xzPath: String): String = {
    val base = new java.io.File(xzPath).getName.replaceAll("\\.(xz|lzma)$", "")
    val tmp = java.io.File.createTempFile("graft_xz_", s"_$base")
    tmp.deleteOnExit()
    val in = new org.tukaani.xz.XZInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(xzPath)))
    try java.nio.file.Files.copy(in, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.getAbsolutePath
  }

  /** Driver shim: unzip a .zip entry to a temp file so spark.read can scan
    * it (reference zip support, littletable.py:872-903). For cluster use
    * the archive should live on shared storage; the shim is for the
    * reference's single-file convenience path. */
  def unzipToTemp(zipPath: String, entry: String = ""): String = {
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val entries = zf.entries()
      var target: java.util.zip.ZipEntry = null
      while (entries.hasMoreElements && target == null) {
        val e = entries.nextElement()
        // directory entries (zip -r lists them first) are never data
        if (!e.isDirectory && (entry.isEmpty || e.getName == entry)) target = e
      }
      require(target != null, s"entry '$entry' not found in $zipPath")
      val suffix = target.getName.replaceAll(".*/", "")
      val tmp = java.io.File.createTempFile("graft_unzip_", s"_$suffix")
      tmp.deleteOnExit()
      val in = zf.getInputStream(target)
      java.nio.file.Files.copy(in, tmp.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close()
      tmp.getAbsolutePath
    } finally zf.close()
  }

  // ------------------------------------------------------------------
  // Exports (littletable.py:3117-3413)
  // ------------------------------------------------------------------

  /** Reference `parse_timedelta` (littletable.py:1262-1284) as a column
    * transform: parse a duration string with a timestamp pattern (Java
    * DateTimeFormatter syntax, the strptime analog) and subtract a
    * reference time parsed the same way, yielding a
    * `DayTimeIntervalType` column. Unparseable input (incl. the
    * reference's `''` empty case) → `onError` default, or NULL interval.
    *
    * Usage: `df.withColumn("dt", Sources.parseTimedelta("HH:mm:ss")(col("s")))`.
    */
  def parseTimedelta(
      format: String,
      referenceTime: String = "00:00:00",
      referenceFormat: String = "HH:mm:ss",
      onError: Option[Column] = None): Column => Column = { c =>
    // try_to_timestamp: bad input → NULL, not failed task (reference
    // _converter's try/except → on_error)
    val ts = try_to_timestamp(c, lit(format))
    val ref = to_timestamp(lit(referenceTime), referenceFormat)
    val delta = ts - ref // timestamp − timestamp = DayTimeIntervalType
    onError.map(d => coalesce(delta, d)).getOrElse(delta)
  }

  /** CSV export; `fields` selects/projects (littletable.py:3161-3164). */
  def csvExport(t: GTable, path: String, fields: Seq[String] = Nil,
      sep: String = ","): Unit = {
    val df = if (fields.isEmpty) t.df else t.df.select(fields.map(col): _*)
    df.write.mode("overwrite").option("header", true).option("sep", sep).csv(path)
  }

  def tsvExport(t: GTable, path: String, fields: Seq[String] = Nil): Unit =
    csvExport(t, path, fields, sep = "\t")

  /** Custom JSON encoders (reference `json_encoder` chain,
    * littletable.py:3346-3354): ordered per-column pre-serialization
    * transforms applied before the JSON writer — the Spark analog of a
    * JSONEncoder subclass handling a non-serializable type. Multiple
    * entries chain in order like the reference's multiple-inheritance
    * composition. */
  private def applyEncoders(t: GTable,
      encoders: Seq[(String, Column => Column)]): GTable =
    encoders.foldLeft(t) { case (acc, (name, enc)) =>
      acc.copy(df = acc.df.withColumn(name, enc(col(name))))
    }

  /** JSONL export (reference streaming json_export, littletable.py:3370-3384). */
  def jsonlExport(t: GTable, path: String,
      encoders: Seq[(String, Column => Column)] = Nil): Unit =
    applyEncoders(t, encoders).df.write.mode("overwrite").json(path)

  /** JSON-array export — collect-at-edge, for the reference's small-file
    * array form (littletable.py:3314-3369). */
  def jsonArrayString(t: GTable, n: Int = 100000,
      encoders: Seq[(String, Column => Column)] = Nil): String =
    applyEncoders(t, encoders).df.limit(n).toJSON.collect().mkString("[", ",\n", "]")

  /** Bucketed + sorted parquet table write: co-locates join/aggregation
    * keys at write time so repeated equi-joins and groupBys on `keys`
    * read shuffle-free (bucket pruning + SortMergeJoin with no Exchange).
    * The 100 TB pattern for fact-to-fact joins the reference's in-memory
    * hash indexes (littletable.py:1515-1576) can't express. */
  def writeBucketed(t: GTable, table: String, keys: Seq[String],
      buckets: Int): Unit = {
    val spark = t.df.sparkSession
    replaceTable(spark, table)
    t.df.write.mode("overwrite").format("parquet")
      .options(stagedWriteOptions(spark, table))
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Marker file a location-swap promote drops into a directory that a
    * LIVE table adopted as its serving location ([[promoteTable]]'s
    * object-store regime): underscore-prefixed so parquet readers skip
    * it, and checked by [[replaceTable]] so a staged rebuild under the
    * directory's original table name can never silently delete the data
    * a different table is now serving from. */
  private[graft] val ServingMarker = "_GRAFT_SERVING"

  /** True overwrite prep for a warehouse table: drop the catalog entry
    * AND clear leftover data — both the table's REGISTERED location (a
    * staged external build in the object-store regime lives off the
    * default path) and the default `warehouse/<name>` directory a
    * previous session's managed build may have left behind (the
    * in-memory catalog forgets tables across sessions, the directory
    * stays). Call immediately before `saveAsTable`.
    *
    * Refuses (fails fast) to delete a directory carrying the
    * [[ServingMarker]]: that directory is the adopted serving location
    * of a DIFFERENT live table after a location-swap promote — deleting
    * it would destroy the serving generation. Builders in that regime
    * must write staged generations at fresh locations
    * ([[stagedWriteOptions]]). */
  private[graft] def replaceTable(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val registered =
      if (catalog.tableExists(ident))
        Option(catalog.getTableMetadata(ident).location)
          .map(new org.apache.hadoop.fs.Path(_))
      else None
    detachPartitions(spark, table)
    // dropping a fingerprint sibling invalidates its session cache entry
    if (table.endsWith("_fp")) fpFor(spark).remove(table.stripSuffix("_fp"))
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val default = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = default.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (registered.toSeq :+ default).distinct.foreach { loc =>
      if (fs.exists(loc)) {
        if (fs.exists(new org.apache.hadoop.fs.Path(loc, ServingMarker)))
          throw new IllegalStateException(
            s"$loc is the adopted serving location of a live table " +
              "(location-swap promote); refusing to delete it. Build the " +
              "staged generation at a fresh location — see " +
              "Sources.stagedWriteOptions")
        fs.delete(loc, true)
      }
    }
  }

  /** Drop a table's PARTITION METADATA without touching any file
    * (`retainData`) so a following `DROP TABLE` deletes exactly the
    * table's own directory. After a catalog rename or `SET LOCATION`
    * the per-partition locations still record the PREVIOUS directory —
    * which by then is the LIVE generation's data — and a plain drop
    * would delete those partition dirs out from under the live table
    * (the round-12 promote reorder surfaced exactly this). Metadata-only
    * and a no-op for unpartitioned or missing tables. */
  private def detachPartitions(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (catalog.tableExists(ident) &&
        catalog.getTableMetadata(ident).partitionColumnNames.nonEmpty) {
      val specs = catalog.listPartitions(ident).map(_.spec)
      if (specs.nonEmpty)
        catalog.dropPartitions(ident, specs, ignoreIfNotExists = true,
          purge = false, retainData = true)
    }
  }

  /** Fingerprint of a source path for build-once artifact staleness
    * detection: (name, length, mtime) of the file — or of every direct
    * child, for a directory — folded into one hex string. Metadata-only
    * (no data read; one `listStatus`), so it works at any scale on any
    * Hadoop scheme. Same-path-new-bytes regenerations (the classic
    * silent-staleness trap for name-keyed artifacts) change the mtime
    * and therefore the fingerprint. */
  private[graft] def pathFingerprint(spark: SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val parts =
      if (st.isDirectory)
        fs.listStatus(p).sortBy(_.getPath.getName).toSeq
          .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      else Seq(s"${p.getName}:${st.getLen}:${st.getModificationTime}")
    java.lang.Long.toHexString(
      parts.foldLeft(1125899906842597L)((h, s) => h * 31 + s.hashCode))
  }

  /** GENERATION STAMP for a catalog table: its current data-file path
    * set (sorted, one listing, no Spark job), "" when the table doesn't
    * exist. Every mutating commit in the library writes NEW uniquely-
    * named files (appends add files, rewrites land at a fresh staged
    * location, drops empty the set), so the stamp changes exactly when
    * the table's content generation changes — which makes it the
    * cross-session cache key for driver-side constants derived from
    * tiny tables (corpus stats, tombstone aggregates, LSH meta, IVF
    * centroids, PQ codebooks, fingerprints): a second long-lived
    * session re-reads after ANY session's delete/upsert/fold/promote
    * instead of serving pre-mutation constants until restart. The
    * stamped tables are 1-row/KB-scale siblings, so the listing is
    * metadata-only and cheap beside any query. */
  private[graft] def tableStamp(spark: SparkSession, table: String): String = {
    val n = stampListings.incrementAndGet()
    // the promised LIST-pressure consumer: one INFO line per 4096
    // listings (never per-call — the log must stay cheaper than the
    // listings it reports on)
    if ((n & 0xfff) == 0L)
      stampLog.info(s"generation-stamp listings: $n this JVM — on an " +
        "object store each is 1-3 LIST round-trips; tune " +
        "spark.graft.stampCheckTtlMs if this tracks query rate")
    if (!spark.catalog.tableExists(table)) ""
    else tableDataFiles(spark, table).sorted.mkString("\n")
  }

  /** Count of generation-stamp listings taken — observability for the
    * stamp-TTL contract: specs assert a TTL'd serve path stops paying
    * per-call listings, and [[tableStamp]] surfaces the running count
    * on the `graft.stamps` logger every 4096 listings (the LIST-
    * pressure signal a deployment watches when deciding the TTL). */
  private[graft] val stampListings = new java.util.concurrent.atomic.AtomicLong
  private val stampLog = org.slf4j.LoggerFactory.getLogger("graft.stamps")

  /** Opt-in BOUNDED STALENESS for stamp checks:
    * `spark.graft.stampCheckTtlMs` (default 0 = every lookup re-lists).
    * A stamp check is one recursive file listing per stamped sibling
    * per serve call — free on a local FS, but 1-3 object-store LIST
    * round-trips added to every query's latency on s3a/gs/abfs. With a
    * TTL of a few hundred ms, a hot serve path pays the listing once
    * per window instead of once per call, and cross-session coherence
    * degrades only from "next call" to "within the TTL". 0 keeps the
    * exact next-call contract every coherence spec pins.
    *
    * COMPLIANCE CARVE-OUT: the general dial governs latency-tolerant
    * constants only (corpus stats, LSH meta, IVF centroids, PQ
    * codebooks). Caches on the compliance path — the tombstone-mask
    * aggregates that make a takedown visible, and the build-once
    * fingerprints that decide whether an artifact may be REUSED instead
    * of rebuilt from a (possibly just-erased) source — read their own
    * dial, `spark.graft.stampCheckTtlMs.compliance`, DEFAULT 0: setting
    * the latency dial can never silently widen the takedown-visibility
    * or stale-artifact-reuse window. A deployment that accepts a
    * bounded compliance window sets the second dial explicitly. */
  private def stampTtlNanos(spark: SparkSession, compliance: Boolean): Long = {
    val key = if (compliance) "spark.graft.stampCheckTtlMs.compliance"
      else "spark.graft.stampCheckTtlMs"
    spark.conf.getOption(key).map(_.toLong).getOrElse(0L) * 1000000L
  }

  /** Look up `key` in a stamp-keyed cache: the cached value is served
    * only while `stampTable`'s generation stamp still matches what the
    * entry was computed under; otherwise the recompute runs against
    * FRESH listings — `stampTable` and every `alsoRefresh` table are
    * `refreshTable`d first, because the per-session relation cache
    * would otherwise hand the recompute the PREVIOUS generation's file
    * listing (a loud FAILED_READ after a cross-session rewrite, or a
    * silent pre-append snapshot after a cross-session append). The
    * shared coherence primitive behind every per-session constants
    * cache: a mutation committed by ANY session re-keys AND re-lists in
    * every other live session on its next serve call — or within the
    * configured TTL window (see [[stampTtlNanos]]), which skips the
    * listing entirely while fresh. `compliance = true` routes the
    * lookup to the compliance TTL dial (default 0 — exact next-call
    * coherence regardless of the general latency dial); same-session
    * mutators additionally drop their own entries at commit
    * (read-your-own-writes holds under any TTL). */
  private[graft] def stamped[T](spark: SparkSession,
      cache: scala.collection.concurrent.TrieMap[String, (String, Long, T)],
      key: String, stampTable: String, alsoRefresh: Seq[String] = Nil,
      compliance: Boolean = false)(
      compute: => T): T = {
    val now = System.nanoTime()
    val ttl = stampTtlNanos(spark, compliance)
    cache.get(key) match {
      case Some((_, at, v)) if ttl > 0 && now - at < ttl => v
      case cached =>
        val stamp = tableStamp(spark, stampTable)
        cached match {
          case Some((s, _, v)) if s == stamp =>
            cache.put(key, (s, now, v)) // stamp verified: renew the window
            v
          case _ =>
            (stampTable +: alsoRefresh).foreach { t =>
              if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
            }
            val v = compute
            cache.put(key, (stamp, now, v))
            v
        }
    }
  }

  // fingerprints are constants OF A GENERATION: cached per (session,
  // table) keyed by the `<table>_fp` sibling's generation stamp, so a
  // serving-path staleness check costs no Spark job while the stamp
  // holds and a rebuild committed by ANY session is seen by every other
  // live session on its next check (weak session key, tiny values)
  private val fpCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, (String, Long, Option[String])]]()
  private def fpFor(spark: SparkSession) = fpCache.synchronized {
    var c = fpCache.get(spark)
    if (c == null) {
      c = scala.collection.concurrent
        .TrieMap.empty[String, (String, Long, Option[String])]
      fpCache.put(spark, c)
    }
    c
  }

  /** The source fingerprint a build-once artifact was built from — the
    * 1-row `<table>_fp` sibling every `*IndexFor` helper writes after a
    * fingerprinted build and checks before reuse. None = never stamped
    * (a pre-fingerprint or fingerprint-less build). Compliance-dialed:
    * a stale cached fingerprint is what would let a build-once helper
    * REUSE an artifact derived from a source that has since been
    * erased, so this cache ignores the general latency TTL
    * ([[stampTtlNanos]]). */
  private[graft] def readFingerprint(spark: SparkSession,
      table: String): Option[String] =
    stamped(spark, fpFor(spark), table, s"${table}_fp", compliance = true) {
      if (!spark.catalog.tableExists(s"${table}_fp")) None
      else spark.table(s"${table}_fp").limit(1).collect().headOption
        .map(_.getString(0))
    }

  /** Stamp the artifact's source fingerprint — written LAST, after a
    * successful build, so a torn build reads as a mismatch and rebuilds
    * whole. */
  private[graft] def writeFingerprint(spark: SparkSession, table: String,
      fp: String): Unit = {
    import spark.implicits._
    replaceTable(spark, s"${table}_fp")
    Seq(fp).toDF("fingerprint")
      .write.mode("overwrite").format("parquet")
      .options(stagedWriteOptions(spark, s"${table}_fp"))
      .saveAsTable(s"${table}_fp")
    fpFor(spark).put(table,
      (tableStamp(spark, s"${table}_fp"), System.nanoTime(), Some(fp)))
  }

  /** The registered location of a catalog table, as a URI string. */
  private[graft] def tableLocationOf(spark: SparkSession,
      table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString

  /** Every DATA file currently under `table`'s registered location —
    * recursive, commit markers / `_temporary` / hidden entries skipped.
    * This is the unit of the catch-up diff behind the staged-generation
    * promotes: every append path in the library writes NEW files and
    * never rewrites an existing one (byte-immutability is pinned per
    * artifact family), so "rows admitted since a snapshot" is exactly
    * "files not in the snapshot". Metadata-only (listings, no data
    * read) — the same driver-side cost Spark's own InMemoryFileIndex
    * pays on every table scan, so it holds at any scale a table scan
    * holds at. */
  private[graft] def tableDataFiles(spark: SparkSession,
      table: String): Seq[String] =
    dataFilesUnder(spark, tableLocationOf(spark, table))

  private[graft] def dataFilesUnder(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val out = Seq.newBuilder[String]
      def walk(d: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(d).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (st.isDirectory) walk(st.getPath)
            else out += st.getPath.toString
          }
        }
      walk(p)
      out.result()
    }
  }

  /** [[tableDataFiles]] scoped to the partitions whose spec satisfies
    * `pred` — resolved through the CATALOG's per-partition locations
    * (the same discipline `erasePartitionedRows` pins its basis with),
    * never a constructed `loc/col=value` path, so a relocated or
    * renamed partition reads correctly instead of silently reading
    * nothing. Metadata-only listings over exactly those directories. */
  private[graft] def partitionDataFiles(spark: SparkSession, table: String,
      pred: Map[String, String] => Boolean): Seq[String] =
    spark.sessionState.catalog
      .listPartitions(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .filter(p => pred(p.spec))
      .flatMap(p => dataFilesUnder(spark,
        new org.apache.hadoop.fs.Path(p.location).toString))

  /** Conform a raw-file read to `schema` (names, order, types): a
    * partitioned read through `basePath` re-INFERS partition-column
    * types from directory names (e.g. a stored `bucket: long` comes
    * back `int`), so every basis-pinned rebuild and catch-up copy casts
    * back to the live table's schema before writing — a generation swap
    * must never drift a column type. */
  private[graft] def conformTo(df: org.apache.spark.sql.DataFrame,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    df.select(schema.fields.toSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)

  /** Path schemes where a directory rename is a COPY of every object —
    * the object-store regimes that take the `SET LOCATION` promote
    * instead of the catalog rename. HDFS/local/viewfs renames are
    * metadata-only and stay on the rename path. */
  private val copyOnRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
    "cos", "swift")
  private[graft] def renameIsCopy(scheme: String): Boolean =
    copyOnRenameSchemes.contains(scheme)
  private[graft] def warehouseScheme(spark: SparkSession): String =
    Option(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getScheme)
      .getOrElse("file")

  /** Write options for a staged-generation build. In the rename regime
    * (local/HDFS warehouse) this is empty — staged tables are managed,
    * and the promote's catalog rename moves their directory for free. In
    * the object-store regime it pins a generation-unique EXTERNAL
    * location (`warehouse/<staged>__g<N>`), because a location-swap
    * promote makes the live table adopt the staged data's path in place
    * — the next staged build must land somewhere fresh, and an external
    * entry's drop must not delete data the live table now serves.
    * Builders apply it as `.options(stagedWriteOptions(spark, name))` on
    * every staged `saveAsTable`. */
  private[graft] def stagedWriteOptions(spark: SparkSession,
      staged: String): Map[String, String] =
    if (!renameIsCopy(warehouseScheme(spark))) Map.empty
    else {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val fs = new org.apache.hadoop.fs.Path(warehouse)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val gen = Iterator.from(0).find(i => !fs.exists(
        new org.apache.hadoop.fs.Path(s"$warehouse/${staged}__g$i"))).get
      Map("path" -> s"$warehouse/${staged}__g$gen")
    }

  /** PROMOTE a fully-built staged table over the live one — the
    * generation-swap primitive behind every artifact compaction: the
    * next generation is built in full under a staged name while the
    * LIVE table keeps serving, then a metadata-only swap retires the old
    * generation. The serve outage of a generation rewrite collapses from
    * the whole retrain+rewrite to these metadata operations; a build
    * that fails never touched the live table; and a promote that CRASHES
    * at any point leaves a state that either still serves or is healed
    * by re-running the promote (see [[promoteTableByRename]] /
    * [[promoteTableByLocationSwap]] for the exact windows).
    *
    * Dispatches on the warehouse path scheme: catalog RENAME where a
    * directory rename is metadata-only (local, HDFS), `ALTER TABLE ...
    * SET LOCATION` where it is a copy (object stores — zero data
    * movement; the catalog pointer flips to the staged data in place).
    * Both regimes require staged and live generations to share schema
    * and partition layout, which every artifact family's rebuild does by
    * construction. The serving-artifact families reach it only through
    * [[graft.operators.Generations]], which owns the swap order and the
    * family-level resume rule. */
  private[graft] def promoteTable(spark: SparkSession, staged: String,
      live: String,
      beforeRetire: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    if (renameIsCopy(warehouseScheme(spark)))
      promoteTableByLocationSwap(spark, staged, live, beforeRetire)
    else promoteTableByRename(spark, staged, live, beforeRetire)

  /** Delete ORPHANED generation debris for `live` — warehouse
    * directories named `<live>__next*`, `<live>__retired*`, or their
    * `__g<N>` external-generation forms that (a) are not the registered
    * location of ANY catalog table, (b) are not a catalog table by
    * name, and (c) do not carry the [[ServingMarker]]. These are the
    * data-safe leaks a promote crash window can leave (a staged build
    * that never promoted, a retired generation whose drop didn't run,
    * an old external generation whose delete crashed). Returns the
    * deleted paths. Run in the maintenance window, NOT concurrent with
    * a staged build of the same artifact — a mid-write staged directory
    * has no catalog entry yet and would read as debris (the same
    * single-writer discipline every maintenance op here carries). */
  private[graft] def vacuumGenerations(spark: SparkSession,
      live: String): Seq[String] = {
    val catalog = spark.sessionState.catalog
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val wPath = new org.apache.hadoop.fs.Path(warehouse)
    val fs = wPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wPath)) return Nil
    val referenced: Set[String] = catalog.listTables("default").flatMap {
      id =>
        try Some(new org.apache.hadoop.fs.Path(
          catalog.getTableMetadata(id).location).toUri.getPath)
        catch { case _: Exception => None }
    }.toSet
    val prefixes = Seq(s"${live}__next", s"${live}__retired")
    fs.listStatus(wPath).toSeq
      .filter(_.isDirectory)
      .filter { st =>
        val n = st.getPath.getName
        prefixes.exists(p => n == p || n.startsWith(p + "_"))
      }
      .filterNot(st => referenced.contains(st.getPath.toUri.getPath))
      .filterNot(st => catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(st.getPath.getName)))
      .filterNot(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, ServingMarker)))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** Rename-regime promote, CRASH-ORDERED so no intermediate state
    * lacks a servable (or one-rerun-recoverable) table:
    *
    *  1. drop any `<live>__retired` debris from an earlier crash;
    *  2. rename live -> `<live>__retired` (the old generation is set
    *     aside, never deleted before the new one is in);
    *  3. rename staged -> live (+ `RECOVER PARTITIONS` for partitioned
    *     layouts: the in-memory catalog's rename moves the directory
    *     but keeps the per-partition locations recorded at write time —
    *     the re-list is metadata-only, no data scan);
    *  4. drop the retired generation.
    *
    * Crash windows, by step: after 1 or 2 the staged generation is
    * intact and re-running the promote completes the swap (the resume
    * path below); after 3 the NEW generation already serves and the
    * rerun merely finishes the partition re-list and debris drop. The
    * old drop-then-rename ordering had a window with NO serving table
    * and nothing to recover without a full rebuild. */
  /** `beforeRetire` (both regimes): invoked with the OLD generation's
    * data directory after the new generation is serving but BEFORE the
    * old one's files are deleted — the erase path's last-look
    * verification window (a throw aborts the retire; the swap stands,
    * the old files stay on disk as data-safe debris). Fresh-promote
    * path only; the crash-resume branches retire debris of an earlier
    * promote, whose verification already ran or was forfeited. */
  private[graft] def promoteTableByRename(spark: SparkSession,
      staged: String, live: String,
      beforeRetire: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit = {
    val catalog = spark.sessionState.catalog
    def exists(n: String) =
      catalog.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(n))
    def partitioned(n: String) = catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(n))
      .partitionColumnNames.nonEmpty
    val retired = s"${live}__retired"
    if (!exists(staged)) {
      // RESUME after a crash mid-promote: the staged generation is
      // already swapped in (finish the re-list + debris drop), or —
      // staged gone AND live gone — roll the retired generation back.
      if (exists(live)) {
        if (partitioned(live))
          spark.sql(s"ALTER TABLE `$live` RECOVER PARTITIONS")
        replaceTable(spark, retired)
        return
      }
      if (exists(retired)) {
        spark.sql(s"ALTER TABLE `$retired` RENAME TO `$live`")
        if (partitioned(live))
          spark.sql(s"ALTER TABLE `$live` RECOVER PARTITIONS")
        return
      }
      throw new IllegalArgumentException(
        s"no staged table `$staged` to promote over `$live` and nothing " +
          "to resume — build the staged generation first")
    }
    val stagedPartitioned = partitioned(staged)
    replaceTable(spark, retired)
    if (exists(live)) spark.sql(s"ALTER TABLE `$live` RENAME TO `$retired`")
    else
      // no catalog entry but a leftover directory from a forgotten
      // session would make the staged rename land INSIDE it — clear it
      replaceTable(spark, live)
    spark.sql(s"ALTER TABLE `$staged` RENAME TO `$live`")
    if (stagedPartitioned)
      spark.sql(s"ALTER TABLE `$live` RECOVER PARTITIONS")
    if (catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(retired)))
      beforeRetire(new org.apache.hadoop.fs.Path(catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(retired)).location))
    replaceTable(spark, retired)
  }

  /** Object-store promote: flip the live table's catalog pointer to the
    * staged data IN PLACE (`ALTER TABLE ... SET LOCATION`) — zero data
    * movement where a directory rename would copy every object — then
    * retire the old generation's data. The live table permanently adopts
    * the staged build's location (marked with [[ServingMarker]] so
    * [[replaceTable]] can never delete it out from under the catalog);
    * subsequent staged builds go to fresh locations via
    * [[stagedWriteOptions]].
    *
    * Retirement handles both staged table types: an EXTERNAL staged
    * entry (the [[stagedWriteOptions]] shape) is dropped — data stays —
    * and the old generation's directory is deleted explicitly; a MANAGED
    * staged entry is first pointed at the old generation's directory so
    * its drop deletes exactly that. First-ever promote (no live table)
    * falls back to the catalog rename: a one-time bootstrap cost, after
    * which every promote is metadata-only.
    *
    * Crash windows: after the live `SET LOCATION` the new generation
    * serves and re-running the promote completes retirement; after the
    * staged drop a rerun has nothing to resume and the old generation's
    * directory can linger as data-safe debris (never a lost serving
    * table). Object-store deletes are per-key metadata operations — no
    * data moves in any step. */
  private[graft] def promoteTableByLocationSwap(spark: SparkSession,
      staged: String, live: String,
      beforeRetire: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit = {
    val catalog = spark.sessionState.catalog
    def ident(n: String) = org.apache.spark.sql.catalyst.TableIdentifier(n)
    require(catalog.tableExists(ident(staged)),
      s"no staged table `$staged` to promote over `$live` — build the " +
        "staged generation first")
    val stagedMeta = catalog.getTableMetadata(ident(staged))
    val stagedLoc = new org.apache.hadoop.fs.Path(stagedMeta.location)
    val fs = stagedLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!catalog.tableExists(ident(live))) {
      // bootstrap: no generation to retire — the plain rename promote
      // installs the staged table under the live name (a one-time copy
      // on an object store; steady-state promotes never copy)
      promoteTableByRename(spark, staged, live, beforeRetire)
      return
    }
    val liveLoc = new org.apache.hadoop.fs.Path(
      catalog.getTableMetadata(ident(live)).location)
    spark.sql(s"ALTER TABLE `$live` SET LOCATION '$stagedLoc'")
    if (stagedMeta.partitionColumnNames.nonEmpty)
      spark.sql(s"ALTER TABLE `$live` RECOVER PARTITIONS")
    // the new generation serves from here on; mark its adopted home
    fs.create(new org.apache.hadoop.fs.Path(stagedLoc, ServingMarker),
      true).close()
    // partition metadata still records the staged directory — the live
    // table's adopted data; detach it so the drop below can never
    // delete those partition dirs (metadata-only)
    detachPartitions(spark, staged)
    // last look at the old generation before ANY retire action touches
    // its files (the managed-staged drop below deletes them too)
    if (liveLoc != stagedLoc) beforeRetire(liveLoc)
    if (stagedMeta.tableType !=
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
      // managed: point the doomed entry at the old generation so its
      // drop retires exactly that directory
      spark.sql(s"ALTER TABLE `$staged` SET LOCATION '$liveLoc'")
    spark.sql(s"DROP TABLE `$staged`") // external: entry only, data stays
    if (liveLoc != stagedLoc && fs.exists(liveLoc)) fs.delete(liveLoc, true)
  }
}
