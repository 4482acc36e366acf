package graft

import graft.tools.AuditPlans

/** The plan-audit tripwire, wired into `sbt test`: every registered batch
  * query's static plan must be free of unexplained red flags (cartesian
  * products, non-whitelisted nested-loop joins, no-codegen plans). If a
  * new operator introduces a deliberate BNLJ, its gate's `Budget` must
  * carry a `bnlj` scale-safety justification — this test is what keeps
  * those whitelists honest. */
class PlanAuditSpec extends SparkSpec {

  test("plan sweep has zero unexplained red flags") {
    // static plans: AQE wrapping hides codegen spans from the check
    val rows = withConf("spark.sql.adaptive.enabled" -> "false") {
      AuditPlans.sweep(spark, "/root/testdata/sf0.001")
    }
    assert(rows.nonEmpty)
    // every check below reports into ONE failure message, so a single
    // run shows every stale pin at once
    val bad = rows.filter(_.unexplained).map(r =>
      s"${r.name}: flags=${r.flags.mkString(",")} err=${r.error.getOrElse("")}")
    // whitelist hygiene: every whitelisted query still plans the flagged
    // shape — stale entries would mask a future regression under an old
    // excuse
    val flagged = rows.filter(_.flags.exists(_.startsWith("BNLJ"))).map(_.name).toSet
    val stale = AuditPlans.expectedBnlj.keySet -- flagged
    val gwFlagged =
      rows.filter(_.flags.exists(_.startsWith("GLOBAL-WINDOW"))).map(_.name).toSet
    val gwStale = AuditPlans.expectedGlobalWindow.keySet -- gwFlagged
    // shuffle budget: each query's exchange count is pinned — an extra
    // Exchange is a scale regression that row counts won't catch; a
    // missing one is a plan change that deserves a deliberate pin update
    val drift = rows.flatMap { r =>
      val want = AuditPlans.expectedShuffles(r.name)
      if (want == r.shuffles) None
      else Some(s"${r.name}: shuffles=${r.shuffles}, pinned $want")
    }
    val problems = bad ++
      stale.toSeq.sorted.map(n => s"$n: whitelisted BNLJ no longer planned") ++
      gwStale.toSeq.sorted.map(n => s"$n: whitelisted global window no longer planned") ++
      drift
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
