package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: int8 quantization + Johnson–Lindenstrauss
  * ±1 projection of a float/double vector in ONE pass — the fused form
  * of [[graft.ops.Similarity.quantizeInt8]] followed by the literal
  * sign-matrix multiply ([[graft.ops.Similarity.jlSign]] parity signs).
  * The unfused Column form evaluated an interpreted `aggregate` HOF for
  * the scale plus a dim × outDim expression tree large enough to fall
  * out of whole-stage codegen; this is one static call per row with the
  * sign matrix attached as a codegen reference object (the
  * [[MarkerCountSum]] pattern).
  *
  * Semantics are IDENTICAL to the unfused form (oracle-hash-verified):
  * scale and q_i are [[Int8Quant]]'s (max |v_i|, HALF_UP(v_i·127/scale),
  * zero vector → all-zero q); proj_j = Σ_i q_i·s_ij exact in Long. Output:
  * struct(scale double, proj array<long>). Null vectors → null struct;
  * vector length must equal `dim` (fail-fast — a ragged corpus is a
  * data bug, not a projection choice). */
case class JlProjectInt8(child: Expression, dim: Int, outDim: Int,
    seed: String) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _)
      if dim >= 1 && outDim >= 1 && outDim <= dim =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 1 <= outDim <= dim, got ($outDim, $dim)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("proj", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jl_project_int8"

  /** Row-major [j][i] sign matrix, built once per expression instance
    * from the same md5 parity as the public [[graft.ops.Similarity.jlSign]]. */
  @transient private lazy val signs: Array[Array[Int]] =
    Array.tabulate(outDim, dim)((j, i) => graft.ops.Similarity.jlSign(seed, i, j))

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    JlProjectUtil.project(input.asInstanceOf[ArrayData], signs, dim, outDim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jlsigns", signs, "int[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.JlProjectUtil.project($c, $ref, $dim, $outDim, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): JlProjectInt8 =
    copy(child = newChild)
}

object JlProjectUtil {

  def project(v: ArrayData, signs: Array[Array[Int]], dim: Int,
      outDim: Int, isFloat: Boolean): InternalRow = {
    require(v.numElements() == dim,
      s"jl_project_int8: expected a $dim-dim vector, got ${v.numElements()}")
    val q = new Array[Long](dim)
    val s = Int8Quant.quantize(v, isFloat, q)
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      val row = signs(j)
      var acc = 0L
      var i = 0
      while (i < dim) { acc += q(i) * row(i); i += 1 }
      out(j) = acc
      j += 1
    }
    new GenericInternalRow(Array[Any](s, new GenericArrayData(out)))
  }
}

object JlProjectInt8Fn {
  /** Column wrapper: struct(scale, proj) of the fused quantize+project. */
  def apply(vec: Column, dim: Int, outDim: Int, seed: String): Column =
    GraftBridge.column(JlProjectInt8(GraftBridge.expression(vec), dim, outDim, seed))
}
