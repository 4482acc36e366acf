package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExecBase

import graft.gates.{Budget, Gate, Gates}

/** Plan red-flag sweep across every registered query: counts exchanges
  * and flags cartesian products / nested-loop joins / non-codegen spans
  * so scale regressions surface as a diff, not a bench surprise.
  * PlanAuditSpec runs [[sweep]] in `sbt test` and fails on any
  * unexplained flag, so the tripwire cannot silently rot.
  *
  * Usage: runMain graft.tools.AuditPlans [sfDir [outDir tag q1,q2,...]]
  *
  * With the three extra arguments it sweeps nothing and instead [[dump]]s
  * the named gates' plans to `outDir/<gate>_<tag>.txt`.
  */
object AuditPlans {

  final case class AuditRow(name: String, shuffles: Int, flags: Seq[String],
      error: Option[String]) {
    /** A flag the whitelist does not explain (CARTESIAN, bare BNLJ,
      * bare GLOBAL-WINDOW, NO-CODEGEN) or a planning failure. */
    def unexplained: Boolean =
      error.nonEmpty || flags.exists(f => !f.contains("[expected"))
  }

  private val budgets: Map[String, Budget] =
    Gates.all.collect { case (n, Gate(_, b: Budget, _)) => n -> b }

  /** Gates audited by the streaming specs instead: they need a streaming
    * sink to plan. */
  val skipExec: Set[String] = Gates.all.keySet -- budgets.keySet

  /** Each batch gate's pinned shuffle budget ([[Budget.shuffles]]). */
  val expectedShuffles: Map[String, Int] = budgets.map { case (n, b) => n -> b.shuffles }

  /** BNLJs that are part of the design, with why they are scale-safe. */
  val expectedBnlj: Map[String, String] =
    budgets.flatMap { case (n, b) => b.bnlj.map(n -> _) }

  /** Unpartitioned windows that are part of the design, with why their
    * single partition is bounded (never the corpus). */
  val expectedGlobalWindow: Map[String, String] =
    budgets.flatMap { case (n, b) => b.globalWindow.map(n -> _) }

  /** Count DISTINCT shuffle-exchange instances (by object identity),
    * descending into InMemoryRelation cached plans: a pinned subtree
    * prints twice in toString but its exchanges run once; a
    * ReusedExchange's child is the original node and dedupes itself. */
  def countShuffles(root: SparkPlan): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p.foreach {
      case s: ShuffleExchangeExec => seen.add(s)
      case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
      case _ => ()
    }
    walk(root)
    seen.size
  }

  /** Count DISTINCT window operators whose partitionSpec is EMPTY —
    * Spark funnels the whole input through ONE task for these ("No
    * Partition Defined" warning), the canonical 100 TB scale-killer.
    * Same identity-dedup + cached-plan descent as [[countShuffles]]: a
    * cached subtree referenced twice prints twice but runs once. */
  def countGlobalWindows(root: SparkPlan): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p.foreach {
      case w: WindowExecBase if w.partitionSpec.isEmpty => seen.add(w)
      case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
      case _ => ()
    }
    walk(root)
    seen.size
  }

  /** Audit every registered batch query's static physical plan. Run with
    * AQE OFF — AQE wraps plans in AdaptiveSparkPlan(isFinalPlan=false),
    * hiding codegen spans from the string check. */
  def sweep(spark: SparkSession, sfDir: String): Seq[AuditRow] =
    Gates.all.values.toSeq.sortBy(_.name).collect {
      case g @ Gate(name, budget: Budget, _) =>
        try {
          val exec = g.build(spark, sfDir).queryExecution.executedPlan
          val plan = exec.toString
          val bnljFlag =
            if (!plan.contains("BroadcastNestedLoopJoin")) None
            else budget.bnlj match {
              case Some(why) => Some(s"BNLJ[expected: $why]")
              case None => Some("BNLJ")
            }
          val gw = countGlobalWindows(exec)
          val gwFlag =
            if (gw == 0) None
            else budget.globalWindow match {
              case Some(why) => Some(s"GLOBAL-WINDOW[expected: $why]")
              case None => Some(s"GLOBAL-WINDOW[$gw]")
            }
          val flags = Seq(
            if (plan.contains("CartesianProduct")) Some("CARTESIAN") else None,
            bnljFlag,
            gwFlag,
            // codegen stages print as `*(n) Operator` in simpleString
            if (!plan.contains("*(")) Some("NO-CODEGEN") else None
          ).flatten
          AuditRow(name, countShuffles(exec), flags, None)
        } catch {
          case e: Throwable => AuditRow(name, -1, Nil, Some(e.getMessage))
        }
    }

  /** Write each named gate's static physical plan (AQE off: the plan
    * [[sweep]] audits) to `outDir/<gate>_<tag>.txt` in Spark's formatted
    * explain layout, headed by the shuffle count the audit sees — the
    * before/after evidence a change to [[expectedShuffles]] or a
    * whitelist is made with. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      names: Seq[String]): Unit = {
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    Gates.named(names).foreach { g =>
      val qe = g.build(spark, sfDir).queryExecution
      java.nio.file.Files.writeString(dir.resolve(s"${g.name}_$tag.txt"),
        s"-- ${g.name}: shuffles=${countShuffles(qe.executedPlan)} " +
          s"global-windows=${countGlobalWindows(qe.executedPlan)}\n" +
          qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.harness("graft-audit-plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // static plans, as PlanAuditSpec audits them
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    args.drop(1) match {
      case Array(outDir, tag, names) =>
        dump(spark, sfDir, outDir, tag, names.split(",").toSeq)
      case _ =>
        sweep(spark, sfDir).foreach { r =>
          r.error match {
            case Some(msg) => println(f"${r.name}%-26s ERROR ${msg.take(60)}")
            case None =>
              println(f"${r.name}%-26s shuffles=${r.shuffles}%-3d ${r.flags.mkString(",")}")
          }
        }
    }
    spark.stop()
  }
}
