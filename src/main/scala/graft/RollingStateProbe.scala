package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Dev-only state-write meter for [[graft.stream.Streamed
  * .rollingActiveState]]: drives the op on the StreamBench feeds and
  * prints the state operator's OWN telemetry (numRowsUpdated summed
  * across batches) — the direct measurement of presence-replication
  * write amplification, which wall-clock events/s on the in-memory
  * micro-bench cannot see (the MemoryStream driver loop dominates
  * there; on a cluster each updated row is a real state-store write).
  * One JSON line per feed. */
object RollingStateProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import spark.implicits._
    val n = 100000
    val feeds = Seq(
      // StreamBench's uniform feed: 1000 users x 30 days
      "uniform" -> (0 until n).map(i => graft.stream.Rec(s"k${i % 1000}", 0L,
        (i % 30).toLong * 86400000L + i)),
      // the clumped twin: 100 users x 300 days, ~33 dups per (user, day)
      "clumped" -> (0 until n).map(i => graft.stream.Rec(s"k${i % 100}", 0L,
        (i % 300).toLong * 86400000L + i)))
    feeds.foreach { case (name, rows) =>
      implicit val sql = spark.sqlContext
      val ms = MemoryStream[graft.stream.Rec[String, Long]]
      val out = graft.stream.Streamed.rollingActiveState(ms.toDS(), 7)
      val ckpt = java.nio.file.Files.createTempDirectory("rsp").toString
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      var updated = 0L
      rows.grouped(10000).foreach { c =>
        ms.addData(c); q.processAllAvailable()
      }
      q.recentProgress.foreach(p =>
        p.stateOperators.foreach(so => updated += so.numRowsUpdated))
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(ckpt))
      // the exchange-row decomposition, computed exactly from the feed:
      // without the map-side (user, day) pre-aggregation every EVENT
      // expands x7 into the state shuffle; with it, every distinct
      // (user, day) PER BATCH does. numRowsUpdated above is the third
      // quantity — day-GROUPS touched per batch (one state rewrite
      // each), which no input-side collapse can change.
      val dayMs = 86400000L
      val batches = rows.grouped(10000).toSeq
      val exchRaw = n.toLong * 7
      val exchPre = batches.map(_.map(r =>
        (r.key, Math.floorDiv(r.tsMs, dayMs))).distinct.size.toLong * 7).sum
      println(s"""{"feed":"$name","events":$n,"exchange_rows_raw":$exchRaw,""" +
        s""""exchange_rows_preagg":$exchPre,"group_state_writes":$updated}""")
    }
    spark.stop()
  }
}
