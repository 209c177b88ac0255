package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its CPU triage for the plan gate, its
  * DuckDB oracle SQL and its builder. The registry ([[SparkEntry]]) is
  * derived from these values alone, so a query cannot be registered
  * without exactly one triage and one oracle. */
final case class Query(name: String, cpu: Query.Cpu, oracle: String)(
    val build: (SparkSession, String) => DataFrame)

object Query {

  /** How a query's per-row work meets the testdata layout, whose scans
    * plan one partition (see [[Tables.cpuTable]]). */
  sealed trait Cpu

  /** Per-row CPU work (shingling, hashing, cosine, NFC, edit grams, JSON
    * parse) that must sit behind a scatter exchange: the plan gate
    * ([[Explain.violations]]) asserts the plan keeps
    * `RoundRobinPartitioning`. */
  case object Heavy extends Cpu

  /** Heavy, but an eager `localCheckpoint` inside an iterative operator
    * truncates the final plan, so its scatter exchange runs but is
    * invisible to a final-plan check. The assertion is carried by the
    * non-iterative query that shares the same pre-checkpoint build
    * (q113's kNN edge build is q46's gated shape). */
  case object HeavyTruncated extends Cpu

  /** Shuffle-bound or dimension-light: the first real work is a join or
    * aggregate exchange, which re-spreads rows on any cluster width, so
    * a scatter would be a pure extra exchange. */
  case object Light extends Cpu

  /** The queries keyed by name; fails fast on a duplicate name, which a
    * plain `toMap` would drop silently. */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"queries registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
