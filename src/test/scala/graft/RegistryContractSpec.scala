package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape: every query has an oracle, and every key
  * belongs to exactly one module. */
class RegistryContractSpec extends AnyFunSuite {

  test("every registered query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("no key is registered by two modules") {
    val dups = SparkEntry.moduleKeys.flatten.groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    assert(dups.isEmpty, s"keys registered twice: ${dups.toSeq.sorted}")
    assert(SparkEntry.moduleKeys.map(_.size).sum == SparkEntry.queries.size)
  }
}
