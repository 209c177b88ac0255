package graft

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Int8SumBuf, Int8VecSum}
import graft.ops.Similarity

/** The codegen int8 quantization ([[graft.functions.QuantizeInt8]]) and
  * the vector-sum aggregate ([[graft.functions.Int8VecSum]]) against the
  * lambda and posexplode forms they replaced, kept here as references. */
class Int8QuantSpec extends AnyFunSuite {

  import TestKit._
  import spark.implicits._

  /** The former `Similarity.quantizeInt8`: interpreted HOF lambdas. */
  private def lambdaQuantize(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val s = aggregate(transform(v, x => abs(x.cast("double"))),
      lit(0.0), (acc, x) => greatest(acc, x))
    df.withColumn("scale", s)
      .withColumn("qvec",
        when(col("scale") === 0.0, transform(v, _ => lit(0).cast("byte")))
          .otherwise(transform(v,
            x => round(x.cast("double") * 127.0 / col("scale"), 0).cast("byte"))))
  }

  /** The former per-group sum: posexplode → (group, position) sums →
    * `collect_list` reassembly, n = the largest per-position count. */
  private def explodeSums(df: DataFrame): DataFrame =
    lambdaQuantize(df, "v").filter(col("qvec").isNotNull)
      .select(col("g"), posexplode(col("qvec")))
      .groupBy(col("g"), col("pos"))
      .agg(sum(col("col").cast("long")).as("cd"), count(lit(1)).as("ct"))
      .groupBy(col("g"))
      .agg(max(col("ct")).as("n"),
        transform(array_sort(collect_list(struct(col("pos"), col("cd")))),
          x => x.getField("cd")).as("sum"))

  private def rows(df: DataFrame, cols: Column*): Seq[Row] =
    df.select(cols: _*).collect().toSeq.sortBy(_.getLong(0))

  // .5 ties after scaling (x·127/s = k + ½ in both signs), negative
  // components, an all-zero vector, a zero among non-zeros, an empty
  // vector, a null vector and null components (kept null unless the
  // vector's scale is 0)
  private val edge: Seq[(Long, Option[Seq[Option[Double]]])] = Seq(
    1L -> Some(Seq(Some(2.0), Some(1.0), Some(-1.0))),      // ±63.5
    2L -> Some(Seq(Some(254.0), Some(1.0), Some(-3.0))),    // 0.5, -1.5
    3L -> Some(Seq(Some(-0.25), Some(0.125), Some(0.0))),
    4L -> Some(Seq(Some(0.0), Some(0.0), Some(0.0))),
    5L -> Some(Seq()),
    6L -> None,
    7L -> Some(Seq(Some(1.5), None, Some(-0.75))),
    8L -> Some(Seq(None, Some(0.0))))

  test("quantizeInt8 equals the lambda form on ties, signs, zeros and nulls") {
    val df = edge.toDF("id", "v")
    val want = rows(lambdaQuantize(df, "v"), col("id"), col("scale"), col("qvec"))
    val got = rows(Similarity.quantizeInt8(df, "v"), col("id"), col("scale"), col("qvec"))
    assert(got === want)
    // float vectors widen to double before scaling, as the lambda did
    val rnd = new scala.util.Random(11)
    val fl = (0L until 200L).map(i => (i, Seq.fill(9)(
      (rnd.nextInt(9) - 4) * 0.5f + rnd.nextFloat() * (i % 3)))).toDF("id", "v")
    assert(rows(Similarity.quantizeInt8(fl, "v"), col("id"), col("scale"), col("qvec")) ===
      rows(lambdaQuantize(fl, "v"), col("id"), col("scale"), col("qvec")))
  }

  test("a NaN or infinite component fails or matches exactly as the lambda form does") {
    val bad = Seq(Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 1.0),
      Seq(1.0, Double.NegativeInfinity), Seq(0.0, Double.NaN))
    bad.foreach { v =>
      val df = Seq((1L, v)).toDF("id", "v")
      val want = Try(rows(lambdaQuantize(df, "v"), col("id"), col("scale"), col("qvec")))
      val got = Try(rows(Similarity.quantizeInt8(df, "v"), col("id"), col("scale"), col("qvec")))
      assert(got.isFailure === want.isFailure, s"$v: lambda $want, codegen $got")
      if (want.isSuccess) assert(got.get === want.get, s"$v")
    }
  }

  test("int8_vec_sum equals the posexplode form across partial buffers") {
    val rnd = new scala.util.Random(20261019L)
    val random = (0L until 300L).map { i =>
      val len = if (i % 50 == 0) 0 else 5 + rnd.nextInt(3) // ragged, some empty
      val v = if (i % 37 == 0) None
        else Some(Seq.fill(len)(
          if (rnd.nextInt(40) == 0) None else Some(rnd.nextGaussian())))
      (i % 7, v)
    }
    val df = (random ++ edge.map { case (i, v) => (7L + i % 2, v) }).toDF("g", "v")
      .repartition(7) // partial buffers serialize and merge
    val got = rows(df.groupBy(col("g")).agg(Int8VecSum.sum(col("v")).as("s")),
      col("g"), col("s.n"), col("s.sum"))
    assert(got.filter(_.getLong(1) > 0) === rows(explodeSums(df), col("g"), col("n"), col("sum")))
  }

  private val agg = Int8VecSum(BoundReference(0, ArrayType(DoubleType, containsNull = true), nullable = true))

  private def buffer(vs: Seq[Seq[Any]]): Int8SumBuf =
    vs.foldLeft(agg.createAggregationBuffer())((b, v) =>
      agg.update(b, InternalRow(new GenericArrayData(v.toArray))))

  private def result(b: Int8SumBuf): (Long, Seq[Any]) = {
    val r = agg.eval(b).asInstanceOf[InternalRow]
    (r.getLong(0), r.getArray(1).asInstanceOf[GenericArrayData].array.toSeq)
  }

  private val xs = Seq(Seq(1.0, -2.0, 0.5), Seq(3.0, null), Seq(0.0, 0.0, 0.0, 0.0))
  private val ys = Seq(Seq(null, 4.0), Seq(-1.0, 1.0, 1.0, 1.0, 2.0))

  test("int8_vec_sum buffers survive serialize and merge round-trips") {
    val whole = result(buffer(xs ++ ys))
    assert(result(agg.deserialize(agg.serialize(buffer(xs)))) === result(buffer(xs)))
    assert(result(agg.merge(buffer(xs), buffer(ys))) === whole)
    assert(result(agg.merge(agg.deserialize(agg.serialize(buffer(ys))),
      agg.deserialize(agg.serialize(buffer(xs))))) === whole)
    assert(result(agg.merge(agg.createAggregationBuffer(), agg.createAggregationBuffer())) ===
      (0L, Seq()))
  }

  test("int8_vec_sum merge into an empty buffer copies, never aliases") {
    val a = agg.createAggregationBuffer()
    val b = buffer(ys)
    val before = result(b)
    agg.merge(a, b)
    b.sums(0) += 100L
    b.seen(1) = false
    agg.update(b, InternalRow(new GenericArrayData(Array[Any](5.0, 5.0))))
    assert(result(a) === before)
  }
}
