package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — named batch queries + DuckDB oracle twins.
  *
  * Each registered query is one [[graft.queries.Query]] value (name, CPU
  * triage, oracle SQL, builder) in its family object under
  * `graft.queries`; [[queries]] and [[oracleSql]] are derived from that
  * one list. Core-operator queries (q01–q20) are expressed as
  * [[graft.dsl.Topology]] values and compiled by
  * [[graft.batch.BatchCompiler]] — the correctness gate executes the
  * graft engine, not raw Spark. Extension queries (q21+) exercise the
  * LLM-pipeline operator library (`graft.ops`). Column names are aliased
  * identically in the Spark plan and the oracle SQL (the driver sorts
  * columns by name before hashing). Timestamp outputs are converted to
  * epoch microseconds (BIGINT) on both sides to rule out physical-type
  * mismatches. */
object SparkEntry {

  /** events has a TIMESTAMP(NANOS) ts column, which Spark only reads as
    * LongType (spark.sql.legacy.parquet.nanosAsLong=true, set by
    * [[LocalSession]]). Convert to a microsecond TIMESTAMP by exact integer
    * floor division — the same truncation DuckDB applies when it reads
    * nanos into its microsecond timestamps, so oracles agree. */
  def eventsDf(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.table(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TopologyQueries.q01(spark, "/root/testdata/sf0.001")

  /** The registered names a comma-separated selection `only` (read from
    * the env knob `knob`) picks, sorted; every name when `only` is
    * None. Blank entries are ignored. A name that matches no registered
    * query fails fast, naming every such entry: a typo must not shrink
    * a run silently. */
  def selectQueries(registered: Iterable[String], only: Option[String],
      knob: String): Seq[String] = {
    val all = registered.toSeq.sorted
    only.fold(all) { spec =>
      val want = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- all
      require(unknown.isEmpty,
        s"$knob names unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(want.nonEmpty, s"$knob selects no query")
      all.filter(want)
    }
  }

  /** Every registered query by name, from the family lists. Lazy, so a
    * caller that only reads events through [[eventsDf]] does not
    * initialise the query families. */
  private[graft] lazy val registry: Map[String, Query] = Query.byName(Seq(
    TopologyQueries.all, DedupQueries.all, VectorQueries.all,
    TextQueries.all, CurationQueries.all, RelationalQueries.all,
    EventQueries.all, EventAuditQueries.all, EvalQueries.all,
    GraphQueries.all, RetrievalQueries.all, KnnQueries.all,
    ClusterQueries.all, SpanQueries.all).flatten)

  /** The registered query surface. Deterministic, self-contained, and
    * side-effect-free per run — with one DOCUMENTED exception (r18
    * verdict item): the ARTIFACT-PROBE queries q171 (span cut over the
    * persisted index, [[SpanQueries]]) and q174 (kNN over the persisted
    * quantizer, [[KnnQueries]]) write a warehouse table on their FIRST
    * run per session catalog ([[graft.sources.Artifacts.ensureTable]] —
    * build-once, `synchronized` so parallel query execution cannot
    * race the build, name pinned to corpus fingerprint + dir). Their
    * first execution pays the build (benchers: the first rep carries
    * it; min-of-reps reads the probe); every later run only reads. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.build }

  /** Each registered query's DuckDB oracle SQL, written to
    * `oracle_sql.json` by [[Verify]]. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }
}
