package graft.tools

import org.apache.spark.sql.functions._

/** Micro-benchmark: raw scan cost of a bucket-partitioned serving dir
  * (tiny-file layout) vs the same data coalesced — isolates per-task /
  * per-file scan overhead from query logic.
  * Usage: runMain graft.tools.ProfScan <partitionedDir> */
object ProfScan {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.harness("graft-prof-scan").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-40s ${(System.nanoTime() - t0) / 1e9}%7.3f s -> $r")
    }
    val df = spark.read.parquet(dir)
    df.count() // warm
    (1 to 3).foreach { i =>
      time(s"count partitioned run$i")(df.count())
      time(s"noop scan all cols run$i")(
        df.write.format("noop").mode("overwrite").save())
      time(s"agg vec head run$i")(
        df.select(sum(element_at(col("embedding"), 1))).head())
    }
    (1 to 2).foreach { i =>
      time(s"distinct incl array run$i")(df.distinct().count())
      time(s"distinct id only run$i")(df.select("vec_id").distinct().count())
      val t3 = spark.read.parquet(dir, dir, dir)
      time(s"3x union distinct run$i")(t3.distinct().count())
    }
    println("numPartitions=" + df.rdd.getNumPartitions)
    spark.stop()
  }
}
