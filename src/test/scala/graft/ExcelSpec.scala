package graft

import org.apache.spark.sql.functions._
import graft.core.GTable
import graft.sources.Excel

/** Minimal OOXML round-trip (reference excel_import/excel_export,
  * littletable.py:3019-3115 / 3415-3459). */
class ExcelSpec extends SparkSpec {
  import spark.implicits._

  /** Office-tool-written workbooks from the reference checkout's test
    * dir, read in place and not vendored (FIXTURES.md §A.1). A test that
    * needs one is cancelled, not failed, where the checkout is absent. */
  private def referenceFixture(file: String): String = {
    val path = java.nio.file.Paths.get("/root/reference/test", file)
    assume(java.nio.file.Files.exists(path), s"reference fixture $path is absent")
    path.toString
  }

  test("export → import round-trip preserves values and types") {
    val src = GTable(Seq(
      (1L, "alpha", 1.5, true),
      (2L, "beta & <gamma>", -2.25, false),
      (3L, "", 0.0, true)).toDF("id", "name", "score", "flag"), "src")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx").toString + "/t.xlsx"
    Excel.excelExport(src, path)
    val back = Excel.excelImport(spark, path)
    assert(back.columns == Seq("id", "name", "score", "flag"))
    val rows = back.df.orderBy("id").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0)) // xlsx numbers are doubles
    assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "beta & <gamma>", ""))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, -2.25, 0.0))
    assert(rows.map(_.getBoolean(3)).toSeq == Seq(true, false, true))
  }

  test("export refuses tables over the sheet cap instead of truncating") {
    val src = GTable((1 to 5).map(i => (i, s"r$i")).toDF("id", "v"), "src")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx_cap").toString + "/t.xlsx"
    val e = intercept[IllegalArgumentException] {
      Excel.excelExport(src, path, maxRows = 3)
    }
    assert(e.getMessage.contains("refusing to truncate"))
    assert(!new java.io.File(path).exists(), "no partial file on refusal")
    // at exactly the cap the export succeeds
    Excel.excelExport(src, path, maxRows = 5)
    assert(Excel.excelImport(spark, path).df.count() == 5)
  }

  test("import with explicit fieldnames (headerless sheet)") {
    val src = GTable(Seq((10.0, "x"), (20.0, "y")).toDF("a", "b"), "src")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx2").toString + "/t.xlsx"
    Excel.excelExport(src, path)
    // treat the header row as data by supplying fieldnames
    val back = Excel.excelImport(spark, path, fieldnames = Seq("c1", "c2"))
    assert(back.size == 3) // header row + 2 data rows
    assert(back.columns == Seq("c1", "c2"))
  }

  test("reads a real openpyxl-written workbook (reference fixture test/abc.xlsx)") {
    // Same data as the reference's abc.csv (FIXTURES.md): header a,b,c
    // then 0/1/2 grid rows. Proves interop with office-tool output
    // (styles, theme, sharedStrings parts present).
    val t = Excel.excelImport(spark, referenceFixture("abc.xlsx"))
    assert(t.columns == Seq("a", "b", "c"))
    assert(t.size == 27) // 3^3 grid
    val sums = t.df.agg(sum("a"), sum("b"), sum("c")).head()
    assert((0 until 3).map(sums.getDouble) == Seq(27.0, 27.0, 27.0))
  }

  test("reads the reference's data_types.xlsx (sharedStrings + sparse cells)") {
    // Mixed-type column with missing cells: must import without error,
    // with absent cells as null and sharedStrings resolved.
    val t = Excel.excelImport(spark, referenceFixture("data_types.xlsx"))
    assert(t.size >= 5)
    assert(t.columns.length == 3)
    val rows = t.df.collect()
    assert(rows.exists(r => (0 until 3).exists(r.isNullAt)), "sparse cells → nulls")
  }

  test("data_types.xlsx date-styled cells decode to dates (openpyxl parity)") {
    // Fixture cells B5 (s→numFmtId 16 'd-mmm', serial 44555) and B10
    // (s→numFmtId 14 'mm-dd-yy', TODAY() cached serial 44552) are
    // NUMERIC cells whose styles mark them as dates; openpyxl (the
    // reference's backend, littletable.py:3019-3115) hands them to
    // excel_import as typed dates, not as 44555.0. The value column is
    // heterogeneous so it stays a string column — the date cells must
    // render as dates, not serials.
    val t = Excel.excelImport(spark, referenceFixture("data_types.xlsx"))
    val byName = t.df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("d") == "2021-12-25", s"serial 44555 must decode, got ${byName("d")}")
    assert(byName("i") == "2021-12-22" || byName.values.exists(_ == "2021-12-22"),
      s"TODAY() cached serial 44552 must decode; rows=${byName.toSeq.sortBy(_._1)}")
  }

  test("homogeneous date / datetime columns type as DateType / TimestampNTZ and round-trip") {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    val src = GTable(Seq(
      (1L, java.sql.Date.valueOf("2021-12-25"),
        java.time.LocalDateTime.of(2021, 12, 25, 13, 30, 15)),
      (2L, java.sql.Date.valueOf("1999-01-02"),
        java.time.LocalDateTime.of(1999, 1, 2, 0, 0, 0)),
      (3L, java.sql.Date.valueOf("2038-07-04"),
        java.time.LocalDateTime.of(2038, 7, 4, 23, 59, 59))
    ).toDF("id", "d", "ts"), "src")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx_dates").toString + "/t.xlsx"
    Excel.excelExport(src, path)
    val back = Excel.excelImport(spark, path)
    val schema = back.df.schema
    assert(schema("d").dataType == DateType, s"got ${schema("d").dataType}")
    assert(schema("ts").dataType == TimestampNTZType, s"got ${schema("ts").dataType}")
    val rows = back.df.orderBy("id").collect()
    assert(rows.map(_.getDate(1).toString).toSeq ==
      Seq("2021-12-25", "1999-01-02", "2038-07-04"))
    assert(rows.map(_.getAs[java.time.LocalDateTime](2)).toSeq == Seq(
      java.time.LocalDateTime.of(2021, 12, 25, 13, 30, 15),
      java.time.LocalDateTime.of(1999, 1, 2, 0, 0, 0),
      java.time.LocalDateTime.of(2038, 7, 4, 23, 59, 59)))
  }

  test("excel serial epoch handling matches the 1900-system phantom leap day") {
    // Serials below 61 predate Excel's nonexistent 1900-02-29: serial 1
    // is 1900-01-01, serial 59 is 1900-02-28, serial 61 is 1900-03-01.
    // Export→import must agree with itself across the boundary.
    val src = GTable(Seq(
      (1L, java.sql.Date.valueOf("1900-01-01")),
      (2L, java.sql.Date.valueOf("1900-02-28")),
      (3L, java.sql.Date.valueOf("1900-03-01")),
      (4L, java.sql.Date.valueOf("2024-02-29"))
    ).toDF("id", "d"), "src")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx_epoch").toString + "/t.xlsx"
    Excel.excelExport(src, path)
    val back = Excel.excelImport(spark, path).df.orderBy("id").collect()
    assert(back.map(_.getDate(1).toString).toSeq ==
      Seq("1900-01-01", "1900-02-28", "1900-03-01", "2024-02-29"))
  }

  test("non-finite doubles export as empty cells (valid OOXML)") {
    // NaN is reachable via stats() on an empty group; <v>NaN</v> would
    // make Excel flag the workbook corrupt — openpyxl writes empty.
    val src = GTable(Seq(
      (1L, 1.5), (2L, Double.NaN), (3L, Double.PositiveInfinity),
      (4L, Double.NegativeInfinity)).toDF("id", "v"), "src")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx_nan").toString + "/t.xlsx"
    Excel.excelExport(src, path)
    val sheet = {
      val zf = new java.util.zip.ZipFile(path)
      try new String(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes, "UTF-8")
      finally zf.close()
    }
    assert(!sheet.contains("NaN") && !sheet.contains("Infinity"))
    val back = Excel.excelImport(spark, path).df.orderBy("id").collect()
    assert(back(0).getDouble(1) == 1.5)
    assert((1 to 3).forall(back(_).isNullAt(1)), "non-finite → empty → null")
  }

  test("round-trip through real table data matches the source") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select(col("n_nationkey").cast("double").as("n_nationkey"), col("n_name"))
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx3").toString + "/n.xlsx"
    Excel.excelExport(GTable(nation, "nation"), path)
    val back = Excel.excelImport(spark, path).df
    assert(back.count() == nation.count())
    val want = nation.collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    val got = back.collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(got == want)
  }
}
