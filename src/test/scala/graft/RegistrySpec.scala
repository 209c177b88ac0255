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

  test("query selection fails fast on names that match no registered query") {
    val reg = Seq("q10_asof_left", "q47_neardup_clusters", "q155_kmeans_fit")
    val knob = "SPARK_GRAFT_ONLY"
    assert(SparkEntry.selectQueries(reg, None, knob) === reg.sorted)
    assert(SparkEntry.selectQueries(reg, Some(" q47_neardup_clusters,,q10_asof_left "), knob) ===
      Seq("q10_asof_left", "q47_neardup_clusters"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(reg, Some("q47_near_dup_cc,q10_asof_left,q9_x"), knob)
    }
    assert(e.getMessage.contains(knob))
    assert(e.getMessage.contains("q47_near_dup_cc, q9_x"))
    assert(!e.getMessage.contains("q10_asof_left"))
    intercept[IllegalArgumentException](SparkEntry.selectQueries(reg, Some(" , "), knob))
  }
}
