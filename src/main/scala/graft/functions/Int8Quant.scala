package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The one int8 quantization loop behind [[QuantizeInt8]],
  * [[Int8VecSum]] and [[JlProjectInt8]]: scale = max |v_i| in double
  * precision (null components read as 0.0, so they never raise the
  * scale — Spark `greatest` skips them the same way), and
  * q_i = HALF_UP(v_i·127/scale) with that operation order, through the
  * same BigDecimal rounding Spark's `round` applies to doubles. A zero
  * scale quantizes every component to 0.
  *
  * A NaN or infinite component fails the row: the scale (or that
  * component's ratio) is then NaN, which the lambda form
  * `round(x·127/scale, 0).cast("byte")` cannot cast either under ANSI
  * mode. Failing loudly beats emitting zeros for a corrupt vector. */
object Int8Quant {

  /** Quantizes `v` into `q(0 until v.numElements)` (0 for a null
    * component) and returns the scale. */
  def quantize(v: ArrayData, isFloat: Boolean, q: Array[Long]): Double = {
    val n = v.numElements()
    var i = 0
    var s = 0.0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(component(v, i, isFloat))
        if (a.isNaN || a.isInfinite)
          throw new ArithmeticException(
            s"int8 quantization: component $i of the vector is $a")
        if (a > s) s = a
      }
      i += 1
    }
    i = 0
    while (i < n) {
      q(i) =
        if (s == 0.0 || v.isNullAt(i)) 0L
        // Spark round(double): BigDecimal HALF_UP on the exact binary value
        else new java.math.BigDecimal(component(v, i, isFloat) * 127.0 / s)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    s
  }

  @inline private def component(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** struct(scale, qvec) of one vector — [[QuantizeInt8]]'s row. A null
    * component stays null in `qvec` unless the scale is 0, exactly as
    * the lambda form's `when(scale = 0, zeros).otherwise(...)`. */
  def quantizeRow(v: ArrayData, isFloat: Boolean): InternalRow = {
    val n = v.numElements()
    val q = new Array[Long](n)
    val s = quantize(v, isFloat, q)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (s != 0.0 && v.isNullAt(i)) null else q(i).toByte
      i += 1
    }
    new GenericInternalRow(Array[Any](s, new GenericArrayData(out)))
  }

  /** Is `t` an array of float or double — the element types the loop
    * reads? */
  def vectorType(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType
}

/** Native Catalyst expression: symmetric per-vector int8 quantization
  * ([[Int8Quant]]) as one static call per row, behind
  * [[graft.ops.Similarity.quantizeInt8]]. Its output equals the
  * interpreted `aggregate`/`transform` lambda form (the reference
  * `Int8QuantSpec` checks it against). Output: struct(scale double,
  * qvec array<tinyint>); a null vector gives a null struct. */
case class QuantizeInt8(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Int8Quant.vectorType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.sql}")
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("qvec", ArrayType(ByteType, containsNull = true), nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quantize_int8"

  @transient private lazy val isFloat: Boolean = Int8Quant.isFloat(child.dataType)

  override def nullSafeEval(input: Any): Any =
    Int8Quant.quantizeRow(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Int8Quant.quantizeRow($c, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

object QuantizeInt8Fn {
  /** Column wrapper: struct(scale, qvec) of one vector. */
  def apply(vec: Column): Column =
    GraftBridge.column(QuantizeInt8(GraftBridge.expression(vec)))
}
