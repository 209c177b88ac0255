package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** One scored candidate flowing into a top-k aggregation. */
final case class Scored(id: Long, score: Double)

/** Mutable top-k state: parallel primitive arrays sorted best-first by
  * (score desc, id asc), `size` live entries. Capacity is `k` from
  * construction; [[TopKHash.merge]] swaps in freshly-merged arrays of
  * length ≤ k. */
final class TopKBuf(var size: Int, var ids: Array[Long], var scores: Array[Double])

/** Bounded top-k aggregate with a mutable primitive buffer — the
  * semantics of the `udaf(Aggregator)` form it replaced (`TopKAggregator`,
  * now TopKHashSpec's test-scope reference): the k best (id, score)
  * pairs by (score desc, id asc), `java.lang.Double.compare` total order so NaN sorts above +∞,
  * duplicates kept, output array sorted best-first; but the update path
  * allocates NOTHING per row: the `udaf(Aggregator)` form re-created an
  * immutable Vector node and boxed a `Scored` per input row and ran the
  * Seq encoder on every partial-buffer serialization. Both plan through
  * ObjectHashAggregateExec with partial aggregation before the shuffle
  * (ScalaAggregator is itself a TypedImperativeAggregate), so the
  * exchange shape is unchanged — this cuts per-row constants in every
  * kNN candidate reduction, which at 100 TB is the hot aggregation of
  * the ANN family. Null id/score rows are skipped (call sites filter or
  * construct them non-null; the old encoder path crashed on null, so no
  * green call site can observe the difference).
  *
  * Output: `array<struct<id:long, score:double>>`, best-first. */
case class TopKHash(
    idExpr: Expression, scoreExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] with BinaryLike[Expression] {
  require(k >= 1, s"k must be >= 1, got $k")

  override def left: Expression = idExpr
  override def right: Expression = scoreExpr
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "top_k_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (idExpr.dataType == LongType && scoreExpr.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (bigint, double) children, got " +
        s"(${idExpr.dataType.sql}, ${scoreExpr.dataType.sql})")

  /** (idA, scoreA) strictly better than (idB, scoreB)? Same total order
    * as the `TopKAggregator` reference. */
  private def better(idA: Long, scoreA: Double, idB: Long, scoreB: Double): Boolean = {
    val c = java.lang.Double.compare(scoreA, scoreB)
    c > 0 || (c == 0 && idA < idB)
  }

  override def createAggregationBuffer(): TopKBuf =
    new TopKBuf(0, new Array[Long](k), new Array[Double](k))

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val idV = idExpr.eval(input)
    val scV = scoreExpr.eval(input)
    if (idV != null && scV != null) {
      val id = idV.asInstanceOf[Long]
      val sc = scV.asInstanceOf[Double]
      val n = buf.size
      // full and the current worst strictly better: drop the row now —
      // the overwhelmingly common branch once the heap warms up
      if (n < k || !better(buf.ids(n - 1), buf.scores(n - 1), id, sc)) {
        if (buf.ids.length < k) { // capacity shrunk by a merge swap-in
          buf.ids = java.util.Arrays.copyOf(buf.ids, k)
          buf.scores = java.util.Arrays.copyOf(buf.scores, k)
        }
        var pos = if (n < k) n else k - 1 // full: the last entry falls off
        while (pos > 0 && better(id, sc, buf.ids(pos - 1), buf.scores(pos - 1))) {
          buf.ids(pos) = buf.ids(pos - 1)
          buf.scores(pos) = buf.scores(pos - 1)
          pos -= 1
        }
        buf.ids(pos) = id
        buf.scores(pos) = sc
        if (n < k) buf.size = n + 1
      }
    }
    buf
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    if (b.size == 0) a
    else if (a.size == 0) { // copy, never adopt b's arrays: b may be reused
      a.size = b.size
      a.ids = java.util.Arrays.copyOf(b.ids, b.ids.length)
      a.scores = java.util.Arrays.copyOf(b.scores, b.scores.length)
      a
    }
    else {
      // two sorted runs -> one sorted run capped at k; a's elements win
      // equal comparisons (same contents either way — the order is total
      // on exactly the (id, score) pair being stored)
      val n = math.min(k, a.size + b.size)
      val ids = new Array[Long](n)
      val scs = new Array[Double](n)
      var i = 0; var j = 0; var o = 0
      while (o < n) {
        val takeA = j >= b.size || (i < a.size &&
          !better(b.ids(j), b.scores(j), a.ids(i), a.scores(i)))
        if (takeA) { ids(o) = a.ids(i); scs(o) = a.scores(i); i += 1 }
        else { ids(o) = b.ids(j); scs(o) = b.scores(j); j += 1 }
        o += 1
      }
      a.size = n; a.ids = ids; a.scores = scs; a
    }
  }

  override def eval(buf: TopKBuf): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      out(i) = new GenericInternalRow(Array[Any](buf.ids(i), buf.scores(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.ids(i)); bb.putDouble(buf.scores(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val ids = new Array[Long](math.max(n, k))
    val scs = new Array[Double](math.max(n, k))
    var i = 0
    while (i < n) { ids(i) = bb.getLong; scs(i) = bb.getDouble; i += 1 }
    new TopKBuf(n, ids, scs)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKHash =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKHash =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKHash =
    copy(idExpr = newLeft, scoreExpr = newRight)
}

object TopKHash {
  /** `top_k_hash(id, score)` as a Column aggregate: the k best (score
    * desc, id asc) pairs, best-first. `id` must be bigint, `score`
    * double (cast at the call site, as with the udaf form). */
  def topK(id: Column, score: Column, k: Int): Column =
    GraftBridge.column(TopKHash(
      GraftBridge.expression(id), GraftBridge.expression(score), k)
      .toAggregateExpression())
}
