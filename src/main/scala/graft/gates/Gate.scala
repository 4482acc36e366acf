package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a gate's physical plan is audited (`graft.tools.AuditPlans`,
  * `PlanAuditSpec`). */
sealed trait Audit

/** A batch gate's pinned static plan (sf0.001, AQE off).
  *
  * `shuffles` is the shuffle BUDGET the gate is designed to spend: a
  * mismatch fails PlanAuditSpec. An extra Exchange is how a scale
  * regression sneaks in while row counts stay green, and a missing one
  * usually means a broadcast silently replaced a co-located join, which
  * deserves a deliberate pin update, not an unnoticed drift. Change a
  * value ONLY with a plan dump in hand (`AuditPlans`' dump mode).
  *
  * Ordinal-backed gates (q_rank/q_slice/q_batched/q_groupby_runs) grew
  * +1/+2 visible exchanges when Ordinals moved from RDD zipWithIndex to
  * the pure-Catalyst bucketed-window idiom: the RDD path's
  * createDataFrame severed lineage, so its sort shuffle ran in a separate
  * invisible job. Now the whole lineage is one plan.
  *
  * `bnlj` and `globalWindow` say why a BroadcastNestedLoopJoin or an
  * unpartitioned window the plan deliberately contains is bounded
  * (never the corpus). A flagged plan without one is a red flag, and an
  * excuse whose shape is no longer planned is stale. */
final case class Budget(shuffles: Int, bnlj: Option[String] = None,
    globalWindow: Option[String] = None) extends Audit

/** A streaming gate needs a streaming sink to plan; it is audited through
  * its batch-equivalent gates and the streaming specs instead. */
case object StreamingSpecs extends Audit

/** One correctness gate: the operator run on the sf tables in `dir`
  * (`build`), the DuckDB SQL it must hash-match on the same parquet
  * tables (`oracle`), and how its plan is audited. */
final case class Gate(name: String, audit: Audit, oracle: String)(
    val build: (SparkSession, String) => DataFrame)

/** A family of gates, declared in order in the object body with [[gate]]. */
abstract class Family {
  private val declared = scala.collection.mutable.ArrayBuffer.empty[Gate]

  final def gates: Seq[Gate] = declared.toSeq

  protected final def gate(name: String, audit: Audit, oracle: String)(
      build: (SparkSession, String) => DataFrame): Unit =
    declared += Gate(name, audit, oracle)(build)
}

/** The correctness-gate registry: one [[Gate]] per operator from
  * SURVEY.md §2, each paired with ANSI SQL that DuckDB runs on the same
  * parquet tables (driver gate — see BASELINE.md). `SparkEntry.queries`,
  * `SparkEntry.oracleSql` and the `AuditPlans` views all derive from it.
  *
  * Parity conventions (Spark vs DuckDB):
  *   - every computed column aliased identically on both sides;
  *   - every query deterministically ordered (total order incl. tiebreaker);
  *   - double aggregates rounded identically on both sides (sum→2, avg→4);
  *   - timestamps rendered as strings when they appear in output;
  *   - ORDER BY on nullable keys carries explicit NULLS FIRST (Spark ASC
  *     default) since DuckDB defaults to NULLS LAST;
  *   - no sum() over INTEGER in DuckDB without an OUTER CAST on the sum
  *     itself — including window sums (DuckDB sum(BIGINT) → HUGEINT →
  *     Arrow decimal128(38,0), which the driver's type-sensitive hash
  *     rejects against Spark's int64 even when values are equal; this was
  *     q_pack_index's three-round hash-red). Enforced by OracleHygieneSpec
  *     and tools/check.py's TYPE-MISMATCH gate.
  */
object Gates {

  /** Every gate by name. */
  val all: Map[String, Gate] = registry(Seq(TableGates, JoinGates,
    SourceGates, SearchGates, SimilarityGates, DedupGates, CurationGates,
    SketchGates, BpeGates, LayoutGates, StreamGates).flatMap(_.gates))

  /** Index `gates` by name; a name declared twice is an error. */
  def registry(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gate declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  /** The named gates; every unknown name is reported at once. */
  def named(names: Seq[String]): Seq[Gate] = {
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"no registered gate: ${unknown.mkString(", ")}")
    names.map(all)
  }

  def apply(name: String): Gate = named(Seq(name)).head
}
