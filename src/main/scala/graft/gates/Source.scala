package graft.gates

import org.apache.spark.sql.functions._

import graft.core.{GTable, SortKey}
import graft.sources.Sources
import graft.sources.Sources.{Transform, FixedWidthSpec}

import Fixtures._

/** Source and sink round trips against the parquet ground truth
  * (OPERATORS.md §2.1). */
object SourceGates extends Family {

  /** CSV export → import round-trip with per-column transforms (casts)
    * and scan-time filters (reference csv_import/csv_export,
    * littletable.py:2872-2940, 3117-3188). */
  gate("q_csv_roundtrip", Budget(1),
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey < 3 ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/nation_csv"
    Sources.csvExport(t(s, dir, "nation"), out)
    Sources.csvImport(s, out,
        transforms = Map("n_nationkey" -> Transform("int"), "n_regionkey" -> Transform("int")),
        filters = Seq(col("n_regionkey") < 3))
      .orderby(SortKey.asc("n_nationkey")).df
  }

  /** Excel export → import round-trip (reference excel_import/excel_export,
    * littletable.py:3019-3115/3415-3459; self-contained OOXML, no deps).
    * xlsx numbers are doubles, so the oracle casts to match. */
  gate("q_excel_roundtrip", Budget(1),
    """SELECT CAST(n_nationkey AS DOUBLE) AS n_nationkey, n_name
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/nation.xlsx"
    new java.io.File(ioDir(dir)).mkdirs()
    graft.sources.Excel.excelExport(
      GTable(t(s, dir, "nation").df.select(
        col("n_nationkey").cast("double").as("n_nationkey"), col("n_name")), "nation"), out)
    graft.sources.Excel.excelImport(s, out)
      .orderby(SortKey.asc("n_nationkey")).df
  }

  /** Excel DATE/DATETIME round-trip (reference excel_import via openpyxl
    * yields typed datetime cells, littletable.py:3019-3115): order dates
    * export as date-styled serial cells and re-import as DateType; a
    * synthetic seconds offset exercises the time-of-day fraction, which
    * re-imports as wall-clock TimestampNTZ. */
  gate("q_excel_dates", Budget(1),
    """SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey,
      |  CAST(o_orderdate AS DATE) AS o_date,
      |  o_orderdate + (o_orderkey % 86400) * INTERVAL 1 SECOND AS o_ts
      |FROM orders WHERE o_orderkey <= 2000
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/orders_dates.xlsx"
    new java.io.File(ioDir(dir)).mkdirs()
    val src = t(s, dir, "orders").df
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey").cast("double").as("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        expr("timestampadd(SECOND, CAST(o_orderkey % 86400 AS INT), CAST(o_orderdate AS TIMESTAMP_NTZ))").as("o_ts"))
    graft.sources.Excel.excelExport(GTable(src, "orders_dates"), out)
    graft.sources.Excel.excelImport(s, out)
      .orderby(SortKey.asc("o_orderkey")).df
  }

  /** Headerless TSV with explicit fieldnames (littletable.py:2976-3017). */
  gate("q_tsv_roundtrip", Budget(1),
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/cust_tsv"
    t(s, dir, "customer").df
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .write.mode("overwrite").option("header", false).option("sep", "\t").csv(out)
    Sources.tsvImport(s, out,
        fieldnames = Seq("c_custkey", "c_name", "c_acctbal"),
        transforms = Map("c_custkey" -> Transform("bigint"), "c_acctbal" -> Transform("double")))
      .orderby(SortKey.asc("c_custkey")).df
  }

  /** JSONL export → import round-trip (littletable.py:3204-3312 /
    * 3370-3384). */
  gate("q_json_roundtrip", Budget(1),
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_odate
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/orders_jsonl"
    val sub = t(s, dir, "orders").df.select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_odate"))
    Sources.jsonlExport(GTable(sub, "orders_sub"), out)
    Sources.jsonImport(s, out)
      .orderby(SortKey.asc("o_orderkey")).df
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_odate"))
  }

  /** Fixed-width file import by column-slice spec
    * (reference FixedWidthReader, littletable.py:937-995). */
  gate("q_fixedwidth", Budget(1),
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/region_fw"
    t(s, dir, "region").df
      .select(concat(rpad(col("r_name"), 15, " "),
        lpad(col("r_regionkey").cast("string"), 4, " ")).as("value"))
      .write.mode("overwrite").text(out)
    Sources.fixedWidthImport(s, out, Seq(
        FixedWidthSpec("r_name", 0, 15),
        FixedWidthSpec("r_regionkey", 15, 19, Some(Transform("int")))))
      .orderby(SortKey.asc("r_regionkey")).df
      .select(col("r_regionkey"), col("r_name"))
  }

  /** Data-string import with on-error transform default
    * (reference multi-line data-string source littletable.py:774-796;
    * transforms littletable.py:2763-2808): "bad" fails the int cast and
    * takes the default -1 — no task failure. */
  gate("q_csv_string", Budget(1),
    """SELECT * FROM (VALUES (1,'foo'),(2,'bar'),(-1,'baz')) AS t(x,y)
      |ORDER BY x""".stripMargin) { (s, dir) =>
    val data = "x,y\n1,foo\n2,bar\nbad,baz"
    Sources.csvImportString(s, data,
        transforms = Map("x" -> Transform("int", default = Some(-1))))
      .orderby(SortKey.asc("x")).df
  }

  /** Zip-archive import via the driver shim (littletable.py:872-903). */
  gate("q_zip_import", Budget(1),
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val out = s"${ioDir(dir)}/nation_zip"
    Sources.csvExport(t(s, dir, "nation"), out)
    // zip the part file, then import through the unzip shim
    val csvFile = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val zipPath = s"${ioDir(dir)}/nation.zip"
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("nation.csv"))
    java.nio.file.Files.copy(csvFile.toPath, zos)
    zos.closeEntry(); zos.close()
    Sources.csvImport(s, Sources.unzipToTemp(zipPath, "nation.csv"),
        transforms = Map("n_nationkey" -> Transform("int"), "n_regionkey" -> Transform("int")))
      .orderby(SortKey.asc("n_nationkey")).df
  }
}
