package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

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

  test("the registry fails fast on a duplicate query name") {
    val build = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new AssertionError("no builder runs")
    val e = intercept[IllegalArgumentException] {
      Query.byName(Seq(Query("q1_a", Query.Light, "SELECT 1")(build),
        Query("q2_b", Query.Heavy, "SELECT 2")(build),
        Query("q1_a", Query.Heavy, "SELECT 3")(build)))
    }
    assert(e.getMessage.contains("q1_a"))
    assert(!e.getMessage.contains("q2_b"))
  }

  test("every name the plan gate must broadcast is registered") {
    assert((Explain.MustBroadcast.toSet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("oracle_sql.json parses back to exactly the oracle map") {
    def parse(json: String): Map[String, String] =
      new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
        .asScala.toMap
    assert(parse(Verify.oracleJson(SparkEntry.oracleSql)) == SparkEntry.oracleSql)
    val odd = Map("q_odd" -> "a\tb\rc\u0001d\"e\\f\ng")
    assert(parse(Verify.oracleJson(odd)) == odd)
  }
}
