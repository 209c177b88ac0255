package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped ranking operators. The reference has no sorts/limits/top-k
  * (SURVEY §2.7) — these are driver-extension analytics every large-scale
  * pipeline ends up needing (top sellers per region, top tokens per
  * language, worst offenders per host). */
object Rank {

  /** Top `n` rows per group by `scoreCol` descending (ties broken by
    * ascending `idCol`), via the bounded-heap
    * [[graft.functions.TopKHash]] aggregate: each map task reduces its slice
    * to n rows BEFORE the shuffle, so the exchange carries n × tasks rows
    * per group instead of every scored row the way `row_number() over
    * (partition by ... order by ...)` would — at 100 TB the window form
    * shuffles and sorts the whole input while this stays O(n) state per
    * group per task.
    *
    * `idCol` must be integral (the aggregator's payload key; join back on
    * it to recover wide rows) and `scoreCol` numeric. Rows with a null
    * id or score are excluded up front: the typed aggregator would
    * otherwise read a null primitive as 0.0 and silently rank it as a
    * real score. Output: groupCols, id, score, rank (1-based). */
  def topNPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      scoreCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    df.filter(col(idCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKHash.topK(
        col(idCol).cast("long"), col(scoreCol).cast("double"), n).as("__tk"))
      .select(groupCols.map(col) :+ posexplode(col("__tk")).as(Seq("__pos", "__s")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__s.id").as("id"), col("__s.score").as("score"),
        (col("__pos") + 1).cast("long").as("rank")): _*)
  }
}
