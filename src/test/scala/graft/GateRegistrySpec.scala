package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Budget, Gate, Gates}

/** The gate registry's own contracts: a name is declared once, and
  * OPERATORS.md names exactly the registered gates. */
class GateRegistrySpec extends AnyFunSuite {

  private def gate(name: String): Gate =
    Gate(name, Budget(0), "SELECT 1")((s, _) => s.emptyDataFrame)

  test("a registry with two gates of one name fails, naming the gate") {
    val e = intercept[IllegalArgumentException](
      Gates.registry(Seq(gate("q_a"), gate("q_b"), gate("q_a"))))
    assert(e.getMessage.contains("q_a"), e.getMessage)
    assert(!e.getMessage.contains("q_b"), e.getMessage)
  }

  test("every registered gate appears in OPERATORS.md, and every gate " +
      "named there is registered") {
    val doc = new String(Files.readAllBytes(Paths.get("OPERATORS.md")), "UTF-8")
    val named = """\bq1?_[a-z0-9_]*[a-z0-9]\b""".r.findAllIn(doc).toSet
    val registered = Gates.all.keySet
    val undocumented = (registered -- named).toSeq.sorted
    val unknown = (named -- registered).toSeq.sorted
    assert(undocumented.isEmpty && unknown.isEmpty,
      s"registered but not in OPERATORS.md: ${undocumented.mkString(", ")}; " +
        s"in OPERATORS.md but not registered: ${unknown.mkString(", ")}")
  }
}
