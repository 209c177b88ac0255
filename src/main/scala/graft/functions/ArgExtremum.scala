package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.DataType

/** Aggregation state: ONE UnsafeRow holding (ord, value) — `null` = no
  * row seen yet. An UnsafeRow because its `copy()` is a true deep byte
  * copy: holding the raw eval results instead (even through
  * `InternalRow.copyValue`) is unsound — `GenericInternalRow.copy()`
  * returns `this` (shallow), so a struct ord/value whose fields alias
  * the operator's REUSED input row (UTF8String slices, nested rows)
  * would be silently overwritten by the next input row — a
  * nondeterministic wrong-answer bug, caught by the congruity gen-spec
  * before this representation was adopted. */
final class ArgBuf(var pair: UnsafeRow)

/** `max_by`/`min_by` that stays HASH-aggregated for var-length types.
  *
  * Catalyst's `Max`/`MaxBy` are declarative aggregates whose buffer
  * holds the ordering/value expressions themselves; a var-length buffer
  * field (string, struct, array) cannot be mutated in an UnsafeRow, so
  * `HashAggregateExec` rejects the plan and every `max(struct(...))` /
  * `max_by(struct, struct)` group-by silently falls back to
  * SortAggregate — a per-partition sort of the whole input keyed by the
  * group columns. That is the engine's hottest aggregation shape (the
  * stream→table latest-per-key coercion, keep-latest/keep-first dedup),
  * so this TypedImperativeAggregate reimplements argmax with a JVM-pair
  * buffer: ObjectHashAggregateExec plans it as hash-table grouping with
  * partial aggregation before the shuffle.
  *
  * Execution regimes (measured; SCALING.md round 13 addendum 3, "the
  * argmax regime table"): ObjectHashAggregateExec hash-processes up to
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups
  * per task (Spark default 128 — deliberately tiny, because the object
  * map has NO spill accounting; raising it to millions was measured to
  * OOM) and then falls back to sort-based aggregation internally. So:
  * at bounded per-partition group cardinality the path is pure hash
  * and beats SortAggregate 10-25% (latest-per-key table coercions);
  * at huge cardinality (dedup-by-id, groups ≈ rows) it degrades to
  * the same external sort with ~15% object-serialization overhead —
  * bounded downside, structural upside, one implementation.
  *
  * Semantics replicate the native pair exactly — rows with a NULL
  * ordering are ignored, a strictly-greater (asMin: strictly-smaller)
  * ordering replaces the buffer (first-seen wins ties, like MaxBy), and
  * comparison uses Catalyst's interpreted ordering for the ordering
  * type (struct = field-by-field with null-first fields, doubles =
  * SQL total order with NaN greatest) — so swapping it into an
  * oracle-green query cannot change results when the caller's ordering
  * is total per key (the documented contract of every call site). */
case class ArgExtremum(
    valueExpr: Expression, ordExpr: Expression, asMin: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArgBuf] with BinaryLike[Expression] {

  override def left: Expression = valueExpr
  override def right: Expression = ordExpr
  override def nullable: Boolean = true
  override def dataType: DataType = valueExpr.dataType
  override def prettyName: String = if (asMin) "arg_min_hash" else "arg_max_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(ordExpr.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName ordering type ${ordExpr.dataType.sql} is not orderable")

  @transient private lazy val ordering =
    TypeUtils.getInterpretedOrdering(ordExpr.dataType)

  private def replaces(candidate: Any, incumbent: Any): Boolean =
    if (incumbent == null) true
    else if (asMin) ordering.lt(candidate, incumbent)
    else ordering.gt(candidate, incumbent)

  @transient private lazy val pairProjection =
    UnsafeProjection.create(Array(ordExpr.dataType, valueExpr.dataType))

  private def incumbentOrd(buf: ArgBuf): Any =
    if (buf.pair == null) null else buf.pair.get(0, ordExpr.dataType)

  override def createAggregationBuffer(): ArgBuf = new ArgBuf(null)

  override def update(buf: ArgBuf, input: InternalRow): ArgBuf = {
    val o = ordExpr.eval(input)
    if (o != null) {
      val inc = incumbentOrd(buf)
      if (inc == null || replaces(o, inc))
        // the projection's output row is reused per call — .copy() takes
        // an independent deep byte copy
        buf.pair = pairProjection(InternalRow(o, valueExpr.eval(input))).copy()
    }
    buf
  }

  override def merge(a: ArgBuf, b: ArgBuf): ArgBuf = {
    val bo = incumbentOrd(b)
    if (bo != null) {
      val ao = incumbentOrd(a)
      // b.pair is an independent copy (deserialize/update both copy)
      if (ao == null || replaces(bo, ao)) a.pair = b.pair
    }
    a
  }

  override def eval(buf: ArgBuf): Any =
    if (buf.pair == null) null
    else InternalRow.copyValue(buf.pair.get(1, valueExpr.dataType))

  override def serialize(buf: ArgBuf): Array[Byte] =
    if (buf.pair != null) buf.pair.getBytes
    // empty buffer: a row with a NULL ord — update never stores one
    // (null orderings are skipped), so it round-trips unambiguously
    else pairProjection(InternalRow(null, null)).copy().getBytes

  override def deserialize(bytes: Array[Byte]): ArgBuf = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    if (row.isNullAt(0)) new ArgBuf(null) else new ArgBuf(row)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ArgExtremum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArgExtremum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgExtremum =
    copy(valueExpr = newLeft, ordExpr = newRight)
}

object ArgExtremum {
  /** Hash-aggregable `max_by(value, ord)`. */
  def maxBy(value: Column, ord: Column): Column =
    GraftBridge.column(ArgExtremum(
      GraftBridge.expression(value), GraftBridge.expression(ord),
      asMin = false).toAggregateExpression())

  /** Hash-aggregable `min_by(value, ord)`. */
  def minBy(value: Column, ord: Column): Column =
    GraftBridge.column(ArgExtremum(
      GraftBridge.expression(value), GraftBridge.expression(ord),
      asMin = true).toAggregateExpression())
}
