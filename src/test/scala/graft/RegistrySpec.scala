package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query and oracle registries name the same queries. Needs no
  * session: both maps hold closures and SQL strings. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert(queries -- oracles == Set.empty, "queries without an oracle")
    assert(oracles -- queries == Set.empty, "oracles without a query")
  }
}
