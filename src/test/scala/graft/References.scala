package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Readable reference forms of library operators, kept in test scope for
  * specs that assert the library form returns identical rows. */
object References {

  /** Dot product of two float arrays in double precision (higher-order
    * function form — interpreted lambda per element). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm in double precision (HOF form). */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity via higher-order functions; bit-identical to
    * [[graft.ops.Similarity.cosine]]. */
  def cosineHof(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Window-rank form of [[graft.ops.Similarity.bruteForceTopK]] — same
    * results; shuffles all scored rows. */
  def bruteForceTopKWindow(
      items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = items.crossJoin(
      broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("__qv"))))
      .withColumn("cos", graft.ops.Similarity.cosine(col(itemVec), col("__qv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col(itemId).asc)
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(itemId).as("id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Window-rank variant of [[graft.ops.Keyed.latestPerKey]]: full
    * per-key descending sort + `row_number = 1`. */
  def latestPerKeyRank(df: DataFrame, keyCols: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
