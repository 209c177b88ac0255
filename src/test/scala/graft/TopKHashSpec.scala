package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Scored, TopKAggregator, TopKHash}

/** r21 focused spec: [[graft.functions.TopKHash]] (the mutable-buffer
  * TypedImperativeAggregate that replaced `udaf(TopKAggregator)` in
  * every kNN candidate reduction) must be SEMANTICS-IDENTICAL to the
  * Aggregator it replaced — same (score desc, id asc) total order with
  * java.lang.Double.compare NaN handling, duplicates kept, best-first
  * output — across the full execution path (partial aggregation,
  * buffer serialization between partial and final, merge). */
class TopKHashSpec extends AnyFunSuite {

  import TestKit._
  import spark.implicits._

  /** Driver-side reference: the old Aggregator's own insert fold. */
  private def reference(rows: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] = {
    val agg = new TopKAggregator(k)
    rows.foldLeft(agg.zero)((b, x) => agg.reduce(b, Scored(x._1, x._2)))
      .map(s => (s.id, s.score))
  }

  private def run(rows: Seq[(Long, Long, Double)], k: Int): Map[Long, Seq[(Long, Double)]] =
    rows.toDF("g", "id", "score")
      // many partitions so partial buffers genuinely serialize + merge
      .repartition(7)
      .groupBy(col("g"))
      .agg(TopKHash.topK(col("id"), col("score"), k).as("tk"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getLong(0), s.getDouble(1))).toSeq)
      .toMap

  test("matches the Aggregator on ties, duplicates, NaN and k cutoff") {
    val rows = Seq(
      // group 1: ties on score break by ascending id; duplicates kept
      (1L, 5L, 1.0), (1L, 3L, 1.0), (1L, 3L, 1.0), (1L, 9L, 2.0), (1L, 7L, 0.5),
      // group 2: NaN sorts ABOVE +Infinity (Double.compare total order)
      (2L, 1L, Double.NaN), (2L, 2L, Double.PositiveInfinity), (2L, 3L, 42.0),
      // group 3: fewer rows than k
      (3L, 4L, -1.0), (3L, 2L, -2.0))
    val got = run(rows, k = 3)
    for (g <- Seq(1L, 2L, 3L)) {
      val want = reference(rows.filter(_._1 == g).map(t => (t._2, t._3)), 3)
      assert(got(g).map(_._1) === want.map(_._1), s"group $g ids")
      assert(got(g).zip(want).forall { case ((_, a), (_, b)) =>
        java.lang.Double.compare(a, b) == 0 }, s"group $g scores")
    }
  }

  test("randomized congruity against the Aggregator across k values") {
    val rnd = new scala.util.Random(20260818L)
    val rows = Seq.fill(600) {
      val g = rnd.nextInt(5).toLong
      val id = rnd.nextInt(40).toLong
      val score = rnd.nextInt(8) match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case _ => math.round(rnd.nextDouble() * 10) / 2.0 // force ties
      }
      (g, id, score)
    }
    for (k <- Seq(1, 4, 50)) {
      val got = run(rows, k)
      for (g <- 0L until 5L) {
        val want = reference(rows.filter(_._1 == g).map(t => (t._2, t._3)), k)
        assert(got(g).length === want.length, s"k=$k group $g size")
        got(g).zip(want).zipWithIndex.foreach { case (((gi, gs), (wi, ws)), r) =>
          assert(gi === wi, s"k=$k group $g rank $r id")
          assert(java.lang.Double.compare(gs, ws) == 0, s"k=$k group $g rank $r score")
        }
      }
    }
  }

  test("null id or score rows are skipped, not ranked as zero") {
    val df = Seq[(Long, java.lang.Long, java.lang.Double)](
      (1L, 7L, 3.0), (1L, null, 9.0), (1L, 8L, null), (1L, 4L, 1.0))
      .toDF("g", "id", "score")
    val out = df.groupBy(col("g"))
      .agg(TopKHash.topK(col("id"), col("score"), 5).as("tk"))
      .selectExpr("tk.id AS ids").as[Seq[Long]].head()
    assert(out === Seq(7L, 4L))
  }

  test("merge into an empty buffer copies b's arrays, never aliases them") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = TopKHash(BoundReference(0, LongType, nullable = true),
      BoundReference(1, DoubleType, nullable = true), k = 3)
    val b = Seq((1L, 0.5), (2L, 0.9)).foldLeft(agg.createAggregationBuffer())(
      (buf, r) => agg.update(buf, InternalRow(r._1, r._2)))
    val a = agg.merge(agg.createAggregationBuffer(), b)
    b.ids(0) = 99L
    b.scores(0) = -1.0
    agg.update(b, InternalRow(3L, 2.0))
    assert(a.size === 2)
    assert(a.ids.take(2).toSeq === Seq(2L, 1L))
    assert(a.scores.take(2).toSeq === Seq(0.9, 0.5))
  }
}
