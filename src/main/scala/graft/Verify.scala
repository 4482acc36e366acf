package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Local iteration: an optional third arg restricts to a comma-separated
  * subset of query names (oracle_sql.json then also shrinks so
  * tools/check.py checks just those). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    // every unknown name is reported before a session starts
    only.foreach(names => graft.gates.Gates.named(names.toSeq.sorted))
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.harness("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    GateFailures.reset(outDir)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          GateFailures.record(outDir, name, e)
        }
      }
    }
    // escaped like any JSON string: a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness
    import GateFailures.{jsonString => q}
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
