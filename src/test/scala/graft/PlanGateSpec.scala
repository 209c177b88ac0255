package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression gate, wired into `sbt test` so a correct-but-wrong-
  * at-scale plan shape fails the suite, not just the optional
  * `Explain --check` run: no CartesianProduct anywhere, no SortAggregate
  * anywhere (the r13 `max_by(struct)` fallback class), global-table
  * joins must broadcast, CPU-heavy queries must keep their scatter
  * exchange over the single-row-group testdata layout. Plans are built
  * (never executed) at sf0.001, so this is analysis-only. */
class PlanGateSpec extends AnyFunSuite {

  import TestKit._

  test("every query's physical plan passes the scale gate") {
    val sfDir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Explain.violations(n, plan).map(v => s"$n: $v")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every query's emitted schema stays in the driver-safe type set") {
    // the r15 q145/q150 lesson: a value-correct DECIMAL output column
    // hashes red on the driver while the local DuckDB replica (float64
    // round-trip) stays green — so the emitted-type vocabulary is pinned
    // to the set with round-green evidence, analysis-only at sf0.001
    val sfDir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      Explain.schemaViolations(n,
        SparkEntry.queries(n)(spark, sfDir).schema).map(v => s"$n: $v")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the schema lint actually fires on a decimal output column") {
    import spark.implicits._
    val df = Seq(1L).toDF("n")
      .select(org.apache.spark.sql.functions.col("n")
        .cast("decimal(38,0)").as("u2"))
    val errs = Explain.schemaViolations("synthetic", df.schema)
    assert(errs.nonEmpty && errs.head.contains("u2"))
    // nested leak too: array<decimal> must be caught, not just top-level
    val nested = Seq(Seq(java.math.BigDecimal.ONE)).toDF("xs")
    assert(Explain.schemaViolations("synthetic", nested.schema).nonEmpty)
  }

  test("the scatter rule actually fires on a deliberately broken plan") {
    // a CPU-heavy query whose plan lost its RoundRobinPartitioning must
    // be flagged — the rule, not just the current plans, is under test
    val broken = "Exchange hashpartitioning(doc_id, 4)\n+- FileScan parquet"
    assert(Explain.violations("q23_dedup_ngram", broken)
      .exists(_.contains("scatter")))
    // and the same plan text is fine for a shuffle-bound query
    assert(Explain.violations("q01_agg_pricing", broken).isEmpty)
  }
}
