package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared session + record builders for specs. Mirrors the reference's
  * test-input shape: a list of (key, value, timestamp-millis) per topic
  * (willa `test_utils.clj:46-51`). */
object TestKit {
  lazy val spark: SparkSession = LocalSession(4)

  /** Record-shaped DF from (key, intValue, tsMillis) triples. */
  def records(rows: (String, Int, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("key", "value", "__ms")
      .withColumn("ts", timestamp_millis(col("__ms"))).drop("__ms")
  }

  /** Collect a record DF to (key, value) pairs sorted for comparison —
    * the reference compares leaf outputs on :key/:value
    * (`test_utils.clj:86-92`). */
  def kvInt(df: DataFrame): Seq[(String, Int)] =
    df.select("key", "value").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) Int.MinValue
        else r.get(1).asInstanceOf[Number].intValue()))
      .toSeq.sorted

  def kvRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** Reconstruct a session fold's FINAL windows from its eager changelog
    * rows (in emission order): per (key, window_start), updates carry
    * non-decreasing window_end and a tombstone (null value) shares the
    * window_end of the last update it retracts — so the
    * max-(we, null-last, emission-order) row is the session's fate:
    * null = merged away, else the final acc. The emission-order tiebreak
    * resolves same-(ws, we) re-emissions after interior out-of-order
    * arrivals. ONE home for this tombstone tiebreak — the congruity and
    * recovery suites must canonicalize identically or a semantics change
    * shows up as a phantom engine bug in whichever suite lags. */
  def sessionFinalsOf(rows: Seq[Row]): Seq[(String, Int, Long, Long)] =
    rows.zipWithIndex
      .groupBy { case (r, _) =>
        (r.getAs[String]("key"),
          r.getAs[java.sql.Timestamp]("window_start").getTime)
      }.toSeq
      .flatMap { case ((k, ws), es) =>
        val (last, _) = es.maxBy { case (r, i) =>
          (r.getAs[java.sql.Timestamp]("window_end").getTime,
            if (r.isNullAt(r.fieldIndex("value"))) 1 else 0, i)
        }
        if (last.isNullAt(last.fieldIndex("value"))) None
        else Some((k, last.getAs[Number]("value").intValue(), ws,
          last.getAs[java.sql.Timestamp]("window_end").getTime))
      }.sorted

  /** Batch twin of [[sessionFinalsOf]]: a batch session fold's rows are
    * already final. */
  def sessionBatchOf(df: DataFrame): Seq[(String, Int, Long, Long)] =
    df.select(col("key"), col("value").cast("int"), col("window_start"),
      col("window_end")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime)).toSeq.sorted

  /** Random feed for the stream–table arrival-order properties: `Left` =
    * table update, `Right` = stream record, unique event times from a
    * shuffled pool, shuffled arrival order. Returns (table rows, stream
    * rows, arrival sequence). Shared by the congruity and recovery
    * suites so the kill-point property stays "the congruity property
    * plus a kill", not a drifting copy. */
  def streamTableRandomFeed(rnd: scala.util.Random)
      : (Seq[(String, Int, Long)], Seq[(String, Int, Long)],
        Vector[Either[(String, Int, Long), (String, Int, Long)]]) = {
    val keys = Seq("a", "b")
    val nU = 4 + rnd.nextInt(4)
    val nS = 4 + rnd.nextInt(4)
    val tsPool = rnd.shuffle((1 to (nU + nS)).toVector).map(i => 1000L + i * 7)
    val uRows = (0 until nU).map(i =>
      (keys(rnd.nextInt(keys.size)), rnd.nextInt(100), tsPool(i)))
    val sRows = (0 until nS).map(j =>
      (keys(rnd.nextInt(keys.size)), 100 + rnd.nextInt(100), tsPool(nU + j)))
    val arrival = rnd.shuffle(
      uRows.map(Left(_): Either[(String, Int, Long), (String, Int, Long)]) ++
        sRows.map(Right(_): Either[(String, Int, Long), (String, Int, Long)]))
      .toVector
    (uRows, sRows, arrival)
  }

  /** Canonical (key, v1, v2-or-null, tsMillis) of joined record rows
    * (columns key, value{v1,v2}, ts) — one extraction for live buffers,
    * memory-sink tables, and batch twins alike. */
  def streamTableRowsOf(rows: Seq[Row]): Seq[(String, Int, Any, Long)] =
    rows.map { r =>
      val v = r.getAs[Row]("value")
      (r.getAs[String]("key"), v.getInt(0),
        if (v.isNullAt(1)) null else v.getInt(1),
        r.getAs[java.sql.Timestamp]("ts").getTime)
    }.sortBy(_.toString)

  /** Record-shaped streaming DF over a (key, value, tsMillis)
    * MemoryStream — the single definition of the record-stream shape
    * (column names + millis→timestamp conversion) for every suite and
    * bench that feeds topologies from memory. */
  def recordStream[V](
      ms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, V, Long)]): DataFrame =
    ms.toDF().toDF("key", "value", "__ms")
      .withColumn("ts", timestamp_millis(col("__ms"))).drop("__ms")

  /** State-store row count from the LAST progress entry that actually
    * processed data (ADVICE r11) — delegates to the single main-scope
    * definition in [[graft.stream.Progress]], shared with the benches. */
  def stateRowsAfterData(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    graft.stream.Progress.stateRowsAfterData(q)

  /** ONE MemoryStream carrying two record topics (side 0 and side 1),
    * split by filter: batch boundaries then equal addData groups exactly,
    * where two separate sources could race a trigger between their
    * addData calls. Returns the stream plus a per-side record-DF maker. */
  def dualTopicStream()(implicit sql: org.apache.spark.sql.SQLContext)
      : (org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Int, String, Int, Long)],
        Int => DataFrame) = {
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String, Int, Long)]
    val raw = ms.toDF().toDF("side", "key", "value", "__ms")
      .withColumn("ts", timestamp_millis(col("__ms"))).drop("__ms")
    (ms, (s: Int) => raw.filter(col("side") === s).drop("side"))
  }

  /** Feed Either-batches into a [[dualTopicStream]] (Left → side 0,
    * Right → side 1), draining each group as one micro-batch. */
  def feedSides(
      ms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Int, String, Int, Long)],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      bs: Seq[Seq[Either[(String, Int, Long), (String, Int, Long)]]]): Unit =
    bs.foreach { b =>
      ms.addData(b.map {
        case Left((k, v, t))  => (0, k, v, t)
        case Right((k, v, t)) => (1, k, v, t)
      })
      q.processAllAvailable()
    }

  /** Arrival-order reference model of the LIVE stream–table join's
    * documented contract: lookup-at-arrival against the latest-event-time
    * table value seen so far, (ts, table-first) order within each
    * micro-batch. `Left` = table update, `Right` = stream record; one
    * inner Seq per micro-batch. ONE home for the model — congruity and
    * recovery property suites must agree on the contract they test. */
  def streamTableArrivalModel(
      bs: Seq[Seq[Either[(String, Int, Long), (String, Int, Long)]]])
      : Seq[(String, Int, Any, Long)] = {
    val tbl = scala.collection.mutable.Map.empty[String, (Int, Long)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Any, Long)]
    bs.foreach { b =>
      b.sortBy { case Left((_, _, t)) => (t, 0); case Right((_, _, t)) => (t, 1) }
        .foreach {
          case Left((k, v, t)) =>
            if (tbl.get(k).forall(_._2 <= t)) tbl(k) = (v, t)
          case Right((k, v, t)) =>
            out += ((k, v, tbl.get(k).map(_._1).orNull, t))
        }
    }
    out.toSeq.sortBy(_.toString)
  }
}
