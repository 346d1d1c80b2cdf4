package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, GateFamily, Gates}

/** The gate registry: one registration per name, and every list of gate
  * names kept elsewhere names registered gates. */
class GateRegistrySpec extends AnyFunSuite {

  private val names = Gates.all.map(_.name)

  test("registry names are unique and are the keys of both SparkEntry views") {
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("a blank or null oracle is refused at gate(...)") {
    for (oracle <- Seq("", "  \n ", null)) {
      val e = intercept[IllegalArgumentException] {
        new GateFamily { gate("x1_blank", oracle)((_, _) => null) }
      }
      assert(e.getMessage.contains("x1_blank"), e.getMessage)
    }
  }

  test("two gates with one name are refused") {
    val g = Gate("x1_twice", "SELECT 1", (_, _) => null)
    val e = intercept[IllegalArgumentException](Gates.unique(Seq(g, g)))
    assert(e.getMessage.contains("x1_twice"), e.getMessage)
  }

  test("Bench.headline, Bench.scaleSet and ExplainCheck's default set are registered gates") {
    for ((list, ns) <- Seq("headline" -> Bench.headline, "scaleSet" -> Bench.scaleSet,
        "ExplainCheck.defaultGates" -> graft.tools.ExplainCheck.defaultGates)) {
      val unknown = ns.filterNot(names.toSet)
      assert(unknown.isEmpty, s"$list names unregistered gates: ${unknown.mkString(", ")}")
    }
  }

  test("scaleSet is a subset of headline: the slope reads t1 from the headline results") {
    val extra = Bench.scaleSet.filterNot(Bench.headline.toSet)
    assert(extra.isEmpty, s"scaleSet-only names: ${extra.mkString(", ")}")
  }
}
