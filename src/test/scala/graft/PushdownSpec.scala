package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.gates.Gates

/** Scan-level efficiency contracts, pinned: filters REACH the parquet
  * scan (PushedFilters) and projections PRUNE it (ReadSchema) on the
  * canonical gates. At 100 TB these two properties are the difference
  * between reading a column slice of the pruned row groups and reading
  * the corpus; `.explain` shows them, this spec keeps them true. */
class PushdownSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    val out = scala.collection.mutable.ListBuffer.empty[FileSourceScanExec]
    graft.operators.Layout.foreachPlanNode(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => out += s
      case _ => ()
    }
    out.toList
  }

  private def scanOf(df: DataFrame, table: String): FileSourceScanExec = {
    val hits = scans(df).filter(
      _.metadata.getOrElse("Location", "").contains(s"$table.parquet"))
    assert(hits.nonEmpty, s"no file scan over $table in the plan")
    hits.head
  }

  private def pushed(s: FileSourceScanExec): String =
    s.metadata.getOrElse("PushedFilters", "[]")

  test("q1_agg: the lineitem scan reads 7 of 16 columns and pushes the " +
      "shipdate predicate into the parquet reader") {
    val sc = scanOf(Gates("q1_agg").build(spark, dir), "lineitem")
    assert(sc.requiredSchema.fieldNames.toSet == Set(
      "l_shipdate", "l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax"),
      s"ReadSchema widened: ${sc.requiredSchema.fieldNames.toSeq}")
    assert(pushed(sc).contains("LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed: ${pushed(sc)}")
  }

  test("q_where_comparators: every comparator-DSL predicate lands in " +
      "PushedFilters and the projection prunes the scan") {
    val sc = scanOf(Gates("q_where_comparators").build(spark, dir), "lineitem")
    assert(sc.requiredSchema.fieldNames.toSet == Set(
      "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
      "l_returnflag", "l_shipdate"),
      s"ReadSchema widened: ${sc.requiredSchema.fieldNames.toSeq}")
    val p = pushed(sc)
    for (frag <- Seq("GreaterThanOrEqual(l_quantity", "LessThanOrEqual(l_quantity",
        "GreaterThanOrEqual(l_discount", "In(l_returnflag",
        "GreaterThanOrEqual(l_shipdate"))
      assert(p.contains(frag), s"missing pushed filter $frag in: $p")
  }

  test("q_join3_revenue: the dim filter pushes into the customer scan " +
      "and both fact scans are column-pruned") {
    val df = Gates("q_join3_revenue").build(spark, dir)
    val cust = scanOf(df, "customer")
    // whereEq compiles to null-safe equality → EqualNullSafe pushdown
    assert(pushed(cust).contains("EqualNullSafe(c_mktsegment,BUILDING)") ||
        pushed(cust).contains("EqualTo(c_mktsegment,BUILDING)"),
      s"dim filter not pushed: ${pushed(cust)}")
    assert(cust.requiredSchema.fieldNames.toSet == Set("c_custkey", "c_mktsegment"))
    val li = scanOf(df, "lineitem")
    assert(li.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_extendedprice", "l_discount"),
      s"lineitem ReadSchema widened: ${li.requiredSchema.fieldNames.toSeq}")
    val ord = scanOf(df, "orders")
    assert(ord.requiredSchema.fieldNames.toSet.subsetOf(
      Set("o_orderkey", "o_custkey", "o_orderdate")),
      s"orders ReadSchema widened: ${ord.requiredSchema.fieldNames.toSeq}")
  }

  test("documents pipeline scans are pruned: q_gopher_rules reads only " +
      "the text/id columns it scores") {
    val sc = scanOf(Gates("q_gopher_rules").build(spark, dir), "documents")
    val read = sc.requiredSchema.fieldNames.toSet
    assert(read.size <= 3 && read.contains("text"),
      s"documents ReadSchema widened: $read")
  }
}
