package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: each gate declared once, with its oracle beside
  * it. A `Map` view silently drops a duplicated key, so uniqueness is
  * checked on the declaration list itself. */
class GateRegistrySpec extends AnyFunSuite {

  test("gate names are unique and every gate has a non-empty oracle") {
    val names = SparkEntry.gates.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"declared twice: ${dups.mkString(", ")}")
    val noOracle = SparkEntry.gates.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"no oracle: ${noOracle.mkString(", ")}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("lookup of an unknown gate name throws, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.lookup("q_monthly_agg,q_no_such_gate"))
    assert(e.getMessage.contains("q_no_such_gate"))
    assert(!e.getMessage.contains("q_monthly_agg"))
    intercept[IllegalArgumentException](SparkEntry.lookup(Seq("q_monthly_ag")))
    intercept[IllegalArgumentException](SparkEntry.lookup(" , "))
    assert(SparkEntry.lookup(" q_mode,q_monthly_agg ").map(_.name) ==
      Seq("q_mode", "q_monthly_agg"))
  }

  test("a gate's oracle is built on first use, not when the gate is resolved") {
    var built = 0
    val g = Gate("q_probe", (_, _) => null, { built += 1; "SELECT 1" })
    assert(g.name == "q_probe" && built == 0)
    assert(g.oracleSql == "SELECT 1" && g.oracleSql == "SELECT 1" && built == 1)
  }
}
