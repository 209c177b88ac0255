package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyed-state operators: the batch forms of the reference's KTable
  * semantics. All are single-shuffle (one `partitionBy`/`groupBy` on the
  * key) and Catalyst-native (window functions / `max_by`), so at cluster
  * scale they hash-partition on the key and stream within partitions —
  * no driver-side state. */
object Keyed {

  /** Latest value per key — the stream→table coercion
    * (willa `streams.clj:34-39`: groupByKey + reduce keep-last).
    *
    * Tie-break: at equal `ts` the reference keeps the LAST record in input
    * order (`experiment.clj:41-47`); input order doesn't exist in a
    * distributed batch, so callers pass `order` columns that make the
    * ordering total (e.g. a sequence/id column).
    *
    * Implemented as a hash-aggregable argmax
    * ([[graft.functions.ArgExtremum]], `max_by(struct(rest),
    * struct(order))` semantics) — a single-pass partial+final hash
    * aggregate: map-side combine shrinks the shuffle to one row per
    * (partition, key), and a hot key costs O(n) with O(1) state instead
    * of the full per-key sort a `row_number` window needs. NOT the
    * native `max_by`: its struct-typed declarative buffer can't mutate
    * inside an UnsafeRow, so HashAggregateExec rejects it and the plan
    * silently falls back to SortAggregate — a per-partition sort of the
    * whole input. TopologyGenSpec checks it against a `row_number`
    * window reference.
    */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], order: Seq[Column]): DataFrame = {
    val rest = df.columns.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.ArgExtremum.maxBy(
        struct(rest.map(col): _*), struct(order: _*)).as("__last"))
      .select(keyCols.map(col) ++ rest.map(c => col(s"__last.`$c`").as(c)): _*)
  }

  /** Running (changelog) aggregate: one output per input record carrying
    * the aggregate-so-far — the reference's eager emission
    * (`experiment.clj:231-238`, `streams_test.clj:35-60`: inputs 1,2 →
    * outputs 1,3). Batch form: aggregate expression over a running window
    * ordered by `ts` (+ tiebreakers). */
  def runningAggregate(
      df: DataFrame,
      keyCols: Seq[String],
      order: Seq[Column],
      aggExpr: Column,
      as: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, aggExpr.over(w))
  }

  /** [[runningAggregate]] for ARBITRARY aggregate expressions — including
    * a struct of aggregates and compound fields like `sum(x)/count(1)`,
    * which `Column.over` rejects (it wraps the whole expression in one
    * WindowExpression, and a struct/division is not a window function).
    *
    * Mechanism: analyze the expression once through a throwaway
    * `groupBy().agg()` (resolving `sum`/`count`/... into real Catalyst
    * `AggregateExpression` nodes — the pre-analysis tree only has
    * `UnresolvedFunction`s, which can't be pattern-matched), then rewrite
    * every `AggregateExpression` node into a `WindowExpression` over the
    * running per-key frame and project it back onto `df`. Same single
    * shuffle + per-partition sort as [[runningAggregate]]. */
  def runningAggregateExpr(
      df: DataFrame,
      keyCols: Seq[String],
      order: Seq[Column],
      aggExpr: Column,
      as: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, CurrentRow,
      RowFrame, SortOrder, SpecifiedWindowFrame, UnboundedPreceding,
      WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val resolved = df.groupBy(keyCols.map(col): _*).agg(aggExpr.as("__ra"))
      .queryExecution.analyzed.asInstanceOf[Aggregate]
      .aggregateExpressions.last.asInstanceOf[Alias].child
    val spec = WindowSpecDefinition(
      keyCols.map(c => GraftBridge.expression(df(c))),
      order.map(c => SortOrder(GraftBridge.expression(c), Ascending)),
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    // transformUp, NOT transform: top-down would re-visit the freshly
    // built WindowExpression, re-match its AggregateExpression child, and
    // wrap forever; up applies the rule once per original node.
    val rewritten = resolved.transformUp {
      case ae: AggregateExpression => WindowExpression(ae, spec)
    }
    df.withColumn(as, GraftBridge.column(rewritten))
  }

  /** SCD-type-2 history compaction — turn an update stream into the
    * versioned dimension table a warehouse keeps: one row per VALUE
    * CHANGE of the tracked attributes, with `[valid_from, valid_to)`
    * validity intervals (`valid_to` null = the current version).
    * Consecutive updates carrying identical attribute values compact
    * into one version (the null-safe struct compare, so a null
    * attribute equals a null attribute); at equal timestamps
    * `orderCol` breaks the tie like the rest of the keyed family.
    *
    * Scale shape: one hash shuffle on the key, then two in-partition
    * window passes (lag for change detection over the raw updates,
    * lead for the interval close over the compacted versions) — no
    * self-join, no driver state; a key's whole history streams through
    * one sorted partition run. Output: keyCols, the tracked
    * `valueCols`, valid_from, valid_to (same unit as `tsCol`),
    * version (1-based per key), is_current. */
  def scd2History(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCols: Seq[String], orderCol: String): DataFrame = {
    require(valueCols.nonEmpty, "scd2History needs tracked value columns")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(orderCol))
    val payload = struct(valueCols.map(col): _*)
    val versions = df
      .withColumn("__chg", !(payload <=> lag(payload, 1).over(w)))
      .filter(col("__chg"))
    val wv = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(orderCol))
    versions
      .select((keyCols ++ valueCols).map(col) :+
        col(tsCol).as("valid_from") :+
        lead(col(tsCol), 1).over(wv).as("valid_to") :+
        row_number().over(wv).cast("long").as("version"): _*)
      .withColumn("is_current", col("valid_to").isNull)
  }
}
