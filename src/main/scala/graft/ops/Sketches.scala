package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate aggregates for 100-TB-scale profiling, wrapping Spark's
  * sketch implementations (HyperLogLog++, the Greenwald-Khanna/KLL-style
  * quantile summary). An exact COUNT(DISTINCT) over a 100 TB column is a
  * full shuffle of every distinct value; the sketches are fixed-size,
  * mergeable state per group — partial aggregation sends kilobytes per
  * task regardless of cardinality. Results are approximate and
  * engine-specific, so the sketch estimates themselves get unit-tested
  * error bounds against exact answers (AnalyticsOpsSpec); the driver's
  * q45 oracle covers [[profile]]'s deterministic columns only. A query
  * with no oracle SQL is entirely unattested by the driver (it
  * has no rows-only fallback), so anything driver-facing must expose a
  * deterministic projection. */
object Sketches {

  /** Approximate distinct count (HyperLogLog++) with the given relative
    * standard deviation. State is O(1/rsd²) bytes per group, mergeable
    * across partitions — the exact aggregate's state is the distinct set
    * itself. */
  def approxDistinct(c: Column, rsd: Double = 0.02): Column =
    approx_count_distinct(c, rsd)

  /** Approximate percentiles at the given accuracy (higher = tighter
    * error bound eps = 1/accuracy, more state). */
  def approxPercentiles(c: Column, pcts: Seq[Double], accuracy: Int = 10000): Column =
    percentile_approx(c, array(pcts.map(lit): _*), lit(accuracy))

  /** Mergeable distinct-count sketch (Apache DataSketches HLL): unlike
    * [[approxDistinct]]'s one-shot estimate, the sketch itself is a
    * BINARY column you can persist per partition/day/source and MERGE
    * later — the incremental pattern when re-scanning history is
    * impossible at 100 TB (yesterday's 100 TB is a few KB of sketch
    * today). `lgK` trades size (2^lgK buckets) for accuracy. */
  def distinctSketch(c: Column, lgK: Int = 12): Column =
    hll_sketch_agg(c, lit(lgK))

  /** Merge previously materialized [[distinctSketch]] columns into one
    * combined sketch (set-union semantics: duplicates across inputs
    * count once). */
  def mergeDistinctSketches(c: Column): Column = hll_union_agg(c, lit(true))

  /** The distinct-count estimate of a (possibly merged) sketch. */
  def sketchEstimate(c: Column): Column = hll_sketch_estimate(c)

  /** Per-group cardinality + distribution profile of a corpus — the
    * summary table a pipeline computes before deciding dedup/filter
    * thresholds. One hash aggregate; every aggregate in it carries
    * fixed-size mergeable state. Quartiles come from ONE shared quantile
    * sketch (the array aggregate, split into scalar `val_p25/p50/p75`
    * columns in a post-projection — three separate percentile_approx
    * aggregates would build three sketches).
    *
    * Output schema, stated once: `groupCols*, n_rows, approx_ids,
    * val_min, val_max, val_p25, val_p50, val_p75`. Every column except
    * `approx_ids` is deterministic: percentile_approx's error bound is
    * eps = 1/accuracy, so whenever a group holds fewer than `accuracy`
    * rows the targetError is < 1 rank and the result is the EXACT order
    * statistic at rank ceil(p·n) — identical to a sort-based quantile
    * (DuckDB `quantile_disc`). Only the HLL estimate is engine-specific. */
  def profile(df: DataFrame, groupCols: Seq[String], idCol: String,
      valCol: String): DataFrame = {
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      approxDistinct(col(idCol)).as("approx_ids"),
      approxPercentiles(col(valCol), Seq(0.25, 0.5, 0.75)).as("__q"),
      min(col(valCol)).as("val_min"),
      max(col(valCol)).as("val_max"))
    agg.select(groupCols.map(col) ++ Seq(
      col("n_rows"), col("approx_ids"), col("val_min"), col("val_max"),
      col("__q").getItem(0).as("val_p25"),
      col("__q").getItem(1).as("val_p50"),
      col("__q").getItem(2).as("val_p75")): _*)
  }
}
