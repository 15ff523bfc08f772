package graft.gates

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestBase}

/** The gate registry: every oracle-gated query path is one [[Gate]]
  * value, and the families together hold all of them exactly once.
  */
class GateRegistrySpec extends AnyFunSuite with SparkTestBase {

  test("the registry holds 246 gates with unique lower-snake names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size === 246)
    assert(names.distinct.size === names.size)
    names.foreach(n => assert(n.matches("[a-z0-9_]+"), n))
  }

  test("every gate carries a non-blank oracle") {
    // a null here means a family object read a shared oracle before
    // initializing it (an object-initialization order or cycle bug)
    SparkEntry.gates.foreach { g =>
      assert(g.oracleSql != null && g.oracleSql.trim.nonEmpty, g.name)
    }
  }

  test("SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
