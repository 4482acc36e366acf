package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle-SQL hygiene tripwires for the parity rules documented on the
  * gate registry, [[graft.gates.Gates]]. The general typed-divergence
  * gate is tools/check.py's TYPE-MISMATCH comparison (Arrow types,
  * integer widths normalized, decimals distinct — mirrors the driver's
  * type-sensitive hash); these tests pin the specific DuckDB-HUGEINT trap
  * that caused the three-round q_pack_index hash-red so it cannot regress
  * silently.
  */
class OracleHygieneSpec extends AnyFunSuite {

  test("q_pack_index oracle casts its window sum to BIGINT (HUGEINT trap)") {
    val sql = SparkEntry.oracleSql("q_pack_index")
    assert(sql.contains("CAST(coalesce(sum(n_tokens) OVER"),
      "the window sum must be wrapped in CAST(... AS BIGINT): DuckDB " +
        "sum(BIGINT) returns HUGEINT → Arrow decimal128(38,0), which the " +
        "driver's type-sensitive hash rejects against Spark's int64")
  }

  // A window sum over an integer expression that is aliased and then
  // surfaces in the outermost SELECT is the HUGEINT trap. Heuristic:
  // find `sum(<arg>) OVER ... AS <alias>` not wrapped in CAST; flag it
  // when <alias> appears after the final top-level SELECT — or when the
  // sum is written INLINE in that final projection, the most direct
  // offender. Intermediate aliases consumed by a later GROUP BY
  // (q_session_window's sid, q_groupby_runs' run_id) are fine —
  // HUGEINT never reaches Arrow.
  /** Span of the OUTERMOST query's projection list: the first SELECT at
    * paren depth 0 (every WITH-clause body is parenthesized) to the
    * first depth-0 FROM after it. A textual `lastIndexOf("SELECT")`
    * would mis-anchor on a scalar subquery inside the final projection
    * and could scope the check to the subquery's tiny span, skipping a
    * genuine uncast window sum in the real output list. */
  private def topLevelSelectSpan(sql: String): (Int, Int) = {
    var depth = 0
    var i = 0
    var sel = -1
    var from = -1
    var inQuote = false // SQL string literal: parens inside don't nest
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') inQuote = !inQuote // '' escapes toggle twice: net 0
      else if (!inQuote) {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (depth == 0 && (i == 0 || !sql.charAt(i - 1).isLetterOrDigit)) {
          if (sel < 0 && sql.regionMatches(i, "SELECT", 0, 6)) sel = i
          else if (sel >= 0 && from < 0 && sql.regionMatches(i, "FROM", 0, 4))
            from = i
        }
      }
      i += 1
    }
    (sel, from)
  }

  private def hugeintOffenders(oracles: Seq[(String, String)]): Seq[String] = {
    val winSum = """(?s)(CAST\(\s*)?(?:coalesce\(\s*)?sum\(([^()]*)\)\s+OVER\s*\([^)]*\)(?:\s*,\s*\w+\))?\s*(?:AS\s+BIGINT\s*\))?\s+AS\s+(\w+)""".r
    val doubleish = Set("o_totalprice", "l_extendedprice", "value", "x")
    oracles.flatMap { case (name, sql) =>
      val (lastSelect, fromAfter) = topLevelSelectSpan(sql)
      // only the projection list counts as "surfacing": an alias referenced
      // by a trailing GROUP BY is consumed, not emitted
      val outCols =
        if (fromAfter > lastSelect) sql.substring(lastSelect, fromAfter)
        else sql.substring(lastSelect)
      winSum.findAllMatchIn(sql).flatMap { m =>
        val casted = m.group(1) != null
        val arg = m.group(2)
        val alias = m.group(3)
        val isDouble = doubleish.exists(arg.contains) || arg.contains("round(")
        // written directly inside the outermost projection list
        val inline = m.start >= lastSelect &&
          (fromAfter < lastSelect || m.start < fromAfter)
        val aliased = outCols.matches(s"(?s).*\\b$alias\\b.*") &&
          !outCols.contains(s"CAST($alias") && lastSelect > m.start
        if (!casted && !isDouble && (inline || aliased))
          Some(s"$name: sum($arg) AS $alias")
        else None
      }
    }
  }

  test("no oracle emits an uncast integer window sum as an output column") {
    val offenders = hugeintOffenders(SparkEntry.oracleSql.toSeq)
    assert(offenders.isEmpty,
      s"uncast integer window sums surfacing in output (HUGEINT trap): " +
        offenders.mkString("; "))
  }

  test("the tripwire catches the inline-in-final-SELECT form too") {
    val trap =
      """SELECT doc_id,
        |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id), 0) AS cum
        |FROM d ORDER BY doc_id""".stripMargin
    assert(hugeintOffenders(Seq("synthetic" -> trap)).nonEmpty,
      "an uncast window sum written inline in the outermost SELECT " +
        "must be flagged")
    val fixed =
      """SELECT doc_id,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id), 0) AS BIGINT) AS cum
        |FROM d ORDER BY doc_id""".stripMargin
    assert(hugeintOffenders(Seq("synthetic" -> fixed)).isEmpty,
      "the CAST-wrapped form must pass")
  }

  test("a scalar subquery in the final projection cannot hide an uncast " +
      "window sum (top-level SELECT anchoring)") {
    // with lastIndexOf-anchoring, the (SELECT ...) subquery would become
    // the "final select" and the real projection's `cum` alias would
    // escape the check
    val trap =
      """WITH d AS (
        |  SELECT doc_id, coalesce(sum(n_tokens) OVER (ORDER BY doc_id), 0) AS cum
        |  FROM t)
        |SELECT doc_id, cum, (SELECT max(doc_id) FROM d) AS mx
        |FROM d ORDER BY doc_id""".stripMargin
    assert(hugeintOffenders(Seq("synthetic" -> trap)).nonEmpty,
      "an uncast window-sum alias emitted next to a scalar subquery in " +
        "the outermost projection must be flagged")
  }

  test("unbalanced parens inside string literals don't corrupt the " +
      "top-level anchor") {
    // a regex literal with a lone paren would push depth negative (or
    // stick it positive) if quotes weren't tracked, mis-anchoring the
    // outer SELECT and silently skipping the real projection
    val trap =
      """WITH d AS (
        |  SELECT doc_id, regexp_count(text, '\(') AS parens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id), 0) AS cum
        |  FROM t)
        |SELECT doc_id, parens, cum FROM d ORDER BY doc_id""".stripMargin
    assert(hugeintOffenders(Seq("synthetic" -> trap)).nonEmpty,
      "the uncast window sum must still be flagged when a string " +
        "literal carries an unbalanced paren")
  }
}
