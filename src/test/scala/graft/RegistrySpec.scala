package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.registry.Registry

/** The query registry: one list of (name, plan, oracle) entries, with
  * `SparkEntry.queries` / `oracleSql` as name-keyed views of it. Needs
  * no session: the entries hold closures and SQL strings. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert(queries -- oracles == Set.empty, "queries without an oracle")
    assert(oracles -- queries == Set.empty, "oracles without a query")
  }

  test("names are unique in the list, before any Map keeps only the last") {
    val dups = Registry.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: ${dups.toSeq.sorted}")
  }

  test("175 entries, each with a q_ name and a non-blank oracle") {
    assert(Registry.all.size == 175)
    val badNames = Registry.all.map(_.name).filterNot(_.matches("q_[a-z0-9_]+"))
    assert(badNames.isEmpty, s"malformed names: $badNames")
    val blank = Registry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("SparkEntry.queries and oracleSql are exactly the views of the list") {
    assert(SparkEntry.oracleSql == Registry.all.map(q => q.name -> q.oracle).toMap)
    val queries = SparkEntry.queries
    assert(queries.keySet == Registry.all.map(_.name).toSet)
    Registry.all.foreach(q => assert(queries(q.name) eq q.plan, q.name))
  }

  test("SPARK_GRAFT_ONLY: unset or empty selects every query") {
    assert(Registry.only(None).isEmpty)
    assert(Registry.only(Some("")).isEmpty)
    assert(Registry.only(Some(" , ,")).isEmpty)
    assert(Registry.only(Some("q_f2_filter, q_agr_e2e")) ==
      Some(Set("q_f2_filter", "q_agr_e2e")))
  }

  test("SPARK_GRAFT_ONLY: unknown names stop the run and are listed") {
    val e = intercept[IllegalArgumentException] {
      Registry.only(Some("q_f2_filter,q_nope,q_f2_fliter"))
    }
    assert(e.getMessage.contains("q_f2_fliter,q_nope"), e.getMessage)
    assert(!e.getMessage.contains("q_f2_filter,"), e.getMessage)
  }
}
