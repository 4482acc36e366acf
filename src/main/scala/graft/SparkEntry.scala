package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.Gates

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  * Both maps are views of the gate registry, [[graft.gates.Gates]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Gates("q_join3_revenue").build(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map { case (n, g) => n -> g.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every gate has one. */
  def oracleSql: Map[String, String] =
    Gates.all.map { case (n, g) => n -> g.oracle }
}
