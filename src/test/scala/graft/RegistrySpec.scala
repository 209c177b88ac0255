package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query is paired with its DuckDB oracle: Verify
  * writes `oracle_sql.json` from [[SparkEntry.oracleSql]] and one
  * parquet dir per [[SparkEntry.queries]] entry, so a name on one side
  * only is a query the oracle gate never checks. Analysis-free: no
  * query builder is called. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has a non-empty oracle, and vice versa") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql
    assert((queries -- oracles.keySet).isEmpty, "queries without an oracle")
    assert((oracles.keySet -- queries).isEmpty, "oracles without a query")
    assert(oracles.collect { case (n, sql) if sql.trim.isEmpty => n }.isEmpty,
      "empty oracle SQL")
  }
}
