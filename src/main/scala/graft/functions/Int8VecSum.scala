package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable [[Int8VecSum]] state: `n` vectors summed, one component sum
  * per position in `sums`, and `seen(i)` once position i has received a
  * non-null component. Every buffer owns its arrays: a merge adds into
  * them (growing by copy), it never adopts another buffer's. */
final class Int8SumBuf(var n: Long, var sums: Array[Long], var seen: Array[Boolean]) {
  def ensure(m: Int): Unit = if (sums.length < m) {
    sums = java.util.Arrays.copyOf(sums, m)
    seen = java.util.Arrays.copyOf(seen, m)
  }
}

/** Integer-exact component sums of int8-quantized vectors per group —
  * the Lloyd update of [[graft.ops.Similarity.kmeansStepInt8]] and the
  * class centroids of [[graft.ops.Similarity.centroidByGroup]] as ONE
  * aggregate. Each row is quantized by [[Int8Quant]] in the update
  * (no per-row array materialized between operators) and summed into a
  * dims-sized long buffer, so partial aggregation leaves one row per
  * group per task and the exchange carries groups × tasks buffers. The
  * sums are exact integers, so the result does not depend on
  * partitioning or merge order.
  *
  * Semantics equal a posexplode → (group, position) `sum` →
  * `collect_list` reassembly (the reference `Int8QuantSpec` checks it
  * against): null and empty vectors are skipped;
  * `n` counts the vectors summed; `sum` has one element per position up
  * to the longest vector, each the sum over the vectors reaching it, and
  * null where every component seen there was null (a null component
  * quantizes to null unless its vector's scale is 0, then to 0).
  *
  * Output: struct(n bigint, sum array<bigint>). */
case class Int8VecSum(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Int8SumBuf] with UnaryLike[Expression] {

  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sum", ArrayType(LongType, containsNull = true), nullable = false)))
  override def prettyName: String = "int8_vec_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (Int8Quant.vectorType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.sql}")

  @transient private lazy val isFloat: Boolean = Int8Quant.isFloat(child.dataType)

  override def createAggregationBuffer(): Int8SumBuf =
    new Int8SumBuf(0L, new Array[Long](0), new Array[Boolean](0))

  override def update(buf: Int8SumBuf, input: InternalRow): Int8SumBuf = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (v != null && v.numElements() > 0) {
      val m = v.numElements()
      val q = new Array[Long](m)
      val s = Int8Quant.quantize(v, isFloat, q)
      buf.ensure(m)
      var i = 0
      while (i < m) {
        if (s == 0.0 || !v.isNullAt(i)) {
          buf.sums(i) += q(i)
          buf.seen(i) = true
        }
        i += 1
      }
      buf.n += 1
    }
    buf
  }

  override def merge(a: Int8SumBuf, b: Int8SumBuf): Int8SumBuf = {
    if (b.n > 0) {
      a.ensure(b.sums.length)
      var i = 0
      while (i < b.sums.length) {
        a.sums(i) += b.sums(i)
        a.seen(i) |= b.seen(i)
        i += 1
      }
      a.n += b.n
    }
    a
  }

  override def eval(buf: Int8SumBuf): Any = {
    val out = new Array[Any](buf.sums.length)
    var i = 0
    while (i < out.length) {
      out(i) = if (buf.seen(i)) buf.sums(i) else null
      i += 1
    }
    new GenericInternalRow(Array[Any](buf.n, new GenericArrayData(out)))
  }

  override def serialize(buf: Int8SumBuf): Array[Byte] = {
    val len = buf.sums.length
    val bb = java.nio.ByteBuffer.allocate(12 + 9 * len)
    bb.putLong(buf.n).putInt(len)
    var i = 0
    while (i < len) { bb.putLong(buf.sums(i)); i += 1 }
    i = 0
    while (i < len) { bb.put(if (buf.seen(i)) 1.toByte else 0.toByte); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Int8SumBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong
    val len = bb.getInt
    val sums = new Array[Long](len)
    val seen = new Array[Boolean](len)
    var i = 0
    while (i < len) { sums(i) = bb.getLong; i += 1 }
    i = 0
    while (i < len) { seen(i) = bb.get != 0; i += 1 }
    new Int8SumBuf(n, sums, seen)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): Int8VecSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): Int8VecSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Int8VecSum =
    copy(child = newChild)
}

object Int8VecSum {
  /** `int8_vec_sum(vec)` as a Column aggregate: struct(n, sum). */
  def sum(vec: Column): Column =
    GraftBridge.column(Int8VecSum(GraftBridge.expression(vec)).toAggregateExpression())
}
