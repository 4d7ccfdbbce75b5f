package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's one query registry: every name once, and every
  * oracle names a query. */
class QueryRegistrySpec extends AnyFunSuite {

  test("the registry holds 365 uniquely named queries") {
    assert(SparkEntry.queries.size == 365)
  }

  test("every oracleSql key is a query name") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("a repeated query name throws when the registry is built") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq("q1" -> 1, "q2" -> 2, "q1" -> 3))
    }
    assert(e.getMessage.contains("q1"))
    assert(SparkEntry.registry(Seq("q1" -> 1, "q2" -> 2)) == Map("q1" -> 1, "q2" -> 2))
  }
}
