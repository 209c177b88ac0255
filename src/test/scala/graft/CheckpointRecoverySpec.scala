package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.dsl._
import graft.stream.{Rec, StreamCompiler, Streamed}

/** Kill-and-restart recovery for the custom state operators (round-10
  * verdict, gap #1): every long job at scale restarts, and a
  * `flatMapGroupsWithState` operator that only works on an unbroken run
  * is not production streaming. Each test here checkpoints a query,
  * STOPS it mid-feed, starts a NEW query from the same checkpoint, and
  * asserts the post-restart emissions can only be produced if the
  * operator's state — fold accs, join-leaf latests, subtractor member
  * maps, session buffers, armed event-time timeouts, dedup seen-sets —
  * was restored rather than recomputed or reset.
  *
  * The no-replay half of the claim is load-bearing: MemoryStream retains
  * all its data, so a query that restarted from offset ZERO would
  * re-derive the same finals. The restarted buffers are therefore
  * asserted to contain ONLY post-restart deltas (continuation), never
  * re-emissions of pre-kill batches.
  *
  * Sink: `foreachBatch` into a driver-side buffer — Spark's memory sink
  * refuses checkpoint recovery outside complete mode, and the state ops
  * run in update/append; foreachBatch is the restartable sink.
  * (Reference analogue: Kafka Streams restores state from the changelog
  * topic on restart — `willa` inherits that untested; this pins ours.) */
class CheckpointRecoverySpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  import TestKit._
  import spark.implicits._

  private val ckptDirs = ArrayBuffer.empty[java.nio.file.Path]

  private def ckpt(): String = {
    val dir = Files.createTempDirectory("graft-ckpt-")
    ckptDirs += dir
    dir.toString
  }

  override def afterAll(): Unit = {
    // checkpoints carry state snapshots (and RocksDB zips) — don't leak
    // them into tmpdir across runs. Files.walk holds open directory
    // handles until closed; leaking one per dir would accumulate fds.
    ckptDirs.foreach { d =>
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(d)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    super.afterAll()
  }

  /** Start `df` against checkpoint `dir`, appending every emitted row to
    * `buf`. A fresh buffer per query incarnation separates pre-kill from
    * post-restart emissions. */
  private def start(df: DataFrame, dir: String, mode: String,
      buf: ArrayBuffer[Row]): StreamingQuery =
    df.writeStream.outputMode(mode).option("checkpointLocation", dir)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.collect()
        buf.synchronized { buf ++= rows }
        ()
      }.start()

  private def src(ms: MemoryStream[(String, Int, Long)]): DataFrame =
    recordStream(ms) // shared record shape — TestKit is the one home

  private def kv(buf: ArrayBuffer[Row]): Seq[(String, Int)] =
    buf.synchronized {
      buf.map(r => (r.getAs[String]("key"), r.getAs[Int]("value"))).toSeq
    }

  test("running FoldAgg table: acc resumes from checkpoint, offsets too (no reset, no replay)") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
      ms.addData(("k", 2, 1100L), ("j", 5, 1050L)); q1.processAllAvailable()
    } finally q1.stop()
    assert(kv(buf1).sorted == Seq(("j", 5), ("k", 1), ("k", 3)))

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("tbl"), dir, "update", buf2)
    try {
      ms.addData(("k", 4, 1200L)); q2.processAllAvailable()
    } finally q2.stop()
    // acc restored (3 + 4 = 7, not 4), offsets restored (exactly ONE row:
    // no 1/3 re-emissions from a zero-offset replay, no recomputed "j")
    assert(kv(buf2) == Seq(("k", 7)))
  }

  test("live table-table join tree: the OTHER side's leaf state survives restart") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("a" -> "ta", "b" -> "tb", "ta" -> "jn", "tb" -> "jn", "jn" -> "out"),
      Map("a" -> Entity.Topic("a"), "b" -> Entity.Topic("b"),
        "ta" -> Entity.KTable(), "tb" -> Entity.KTable(),
        "jn" -> Entity.KStream(), "out" -> Entity.Topic("out")),
      Map(Seq("ta", "tb") -> JoinConfig(JoinType.Inner)))
    val aMs = MemoryStream[(String, Int, Long)]
    val bMs = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("a" -> src(aMs), "b" -> src(bMs)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("jn"), dir, "update", buf1)
    try {
      aMs.addData(("k", 1, 100L)); q1.processAllAvailable()
      bMs.addData(("k", 7, 150L)); q1.processAllAvailable()
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("jn"), dir, "update", buf2)
    try {
      aMs.addData(("k", 9, 300L)); q2.processAllAvailable()
    } finally q2.stop()
    // the update to ta joins tb's RESTORED latest (7): an inner join that
    // lost tb's leaf would emit nothing; a replay would also re-emit (1,7)
    val got2 = buf2.synchronized {
      buf2.map(r => (r.getAs[String]("key"),
        r.getAs[Row]("value").getInt(0), r.getAs[Row]("value").getInt(1))).toSeq
    }
    assert(got2 == Seq(("k", 9, 7)))
  }

  test("subtractor (KGroupedTable) aggregate: member map survives restart, replace retracts pre-kill value") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("u" -> "tbl", "tbl" -> "grp", "grp" -> "out"),
      Map("u" -> Entity.Topic("u"),
        "tbl" -> Entity.KTable(),
        "grp" -> Entity.KTable(
          groupBy = Some(lit("g0")),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (a, v) => a + v,
            subtractor = Some((a, v) => a - v)))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("u" -> src(ms)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("grp"), dir, "update", buf1)
    try {
      ms.addData(("k1", 10, 100L)); q1.processAllAvailable() // g0 = 10
      ms.addData(("mm", 5, 200L)); q1.processAllAvailable()  // g0 = 15
    } finally q1.stop()
    assert(kv(buf1) == Seq(("g0", 10), ("g0", 15)))

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("grp"), dir, "update", buf2)
    try {
      ms.addData(("k1", 3, 300L)); q2.processAllAvailable()
    } finally q2.stop()
    // retracting k1's OLD value needs the restored member map (k1 -> 10):
    // 15 - 10 + 3 = 8. A reset member map could not subtract (would give
    // 18); a zero-offset replay would re-emit 10 and 15 first.
    assert(kv(buf2) == Seq(("g0", 8)))
  }

  test("live stream-table join: table-side fold state survives restart for lookups") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("s" -> "j", "u" -> "tbl", "tbl" -> "j", "j" -> "out"),
      Map("s" -> Entity.Topic("s"), "u" -> Entity.Topic("u"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "j" -> Entity.KStream(), "out" -> Entity.Topic("out")),
      Map(Seq("s", "tbl") -> JoinConfig(JoinType.Left)))
    val sMs = MemoryStream[(String, Int, Long)]
    val uMs = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("s" -> src(sMs), "u" -> src(uMs)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("j"), dir, "update", buf1)
    try {
      uMs.addData(("k", 1, 100L)); q1.processAllAvailable() // acc := 1
      uMs.addData(("k", 2, 200L)); q1.processAllAvailable() // acc := 3
      sMs.addData(("k", 10, 250L)); q1.processAllAvailable() // lookup -> 3
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("j"), dir, "update", buf2)
    try {
      sMs.addData(("k", 20, 300L)); q2.processAllAvailable() // restored acc
      uMs.addData(("k", 4, 350L)); q2.processAllAvailable()  // acc := 7, no emit
      sMs.addData(("k", 30, 400L)); q2.processAllAvailable() // continued acc
    } finally q2.stop()
    val looked = buf2.synchronized {
      buf2.map(r => (r.getAs[Row]("value").getInt(0),
        r.getAs[Row]("value").get(1))).toSeq
    }
    // first post-restart lookup sees the PRE-KILL acc (3); the table then
    // keeps folding from it (3 + 4 = 7). Table updates alone emit nothing
    // (KStream⋈KTable lookup-at-arrival), and batch-1/2 lookups are not
    // re-emitted.
    assert(looked == Seq((20, 3), (30, 7)))
  }

  test("session fold (buffered): restored event buffer re-folds an out-of-order bridge merge") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(200L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "update", buf1)
    try {
      // two open sessions: [1000,1200) sum 1 and [1300,1500) sum 2
      ms.addData(("k", 1, 1000L), ("k", 2, 1300L)); q1.processAllAvailable()
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("tbl"), dir, "update", buf2)
    try {
      // the bridge event lands INSIDE the gap of both restored sessions
      ms.addData(("k", 4, 1150L)); q2.processAllAvailable()
    } finally q2.stop()
    // the merged emission needs the RESTORED per-session buffers (events
    // 1@1000 and 2@1300) to re-fold in event-time order: [1000,1500) = 7
    val merged = buf2.synchronized {
      buf2.filter(r => !r.isNullAt(r.fieldIndex("value")))
        .map(r => (r.getAs[String]("key"), r.getAs[Int]("value"),
          r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[java.sql.Timestamp]("window_end").getTime)).toSeq
    }
    assert(merged == Seq(("k", 7, 1000L, 1500L)))
    // the consumed session [1300,1500) is retracted via tombstone
    val tombs = buf2.synchronized {
      buf2.filter(r => r.isNullAt(r.fieldIndex("value")))
        .map(r => r.getAs[java.sql.Timestamp]("window_start").getTime).toSeq
    }
    assert(tombs == Seq(1300L))
  }

  test("suppressed COMBINABLE session fold: acc and armed event-time timeout survive restart") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(100L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v,
            combiner = Some((a: org.apache.spark.sql.Column,
              c: org.apache.spark.sql.Column) => a + c),
            commutative = true)),
          suppress = true),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)), watermarkMs = Some(0L))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "append", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
      // extends the open session across a batch boundary: acc = 3,
      // close = 1150, timeout armed; watermark (1050) has not reached it
      ms.addData(("k", 2, 1050L)); q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.synchronized(buf1.isEmpty)) // suppressed: nothing closed yet

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("tbl"), dir, "append", buf2)
    try {
      // advance the watermark far past k's close; the extra batch lets
      // the re-armed timeout fire (timeouts fire on the NEXT batch after
      // the watermark passes them)
      ms.addData(("z", 9, 100000L)); q2.processAllAvailable()
      ms.addData(("x", 1, 100001L)); q2.processAllAvailable()
    } finally q2.stop()
    // exactly-once emit-on-close AFTER restart, with the restored acc —
    // a lost acc emits 0/partial; a lost timeout never emits; a replay
    // would also emit only once here, but with offsets restored the
    // emission can only combine accs that crossed the kill
    val got = buf2.synchronized {
      buf2.map(r => (r.getAs[String]("key"), r.getAs[Int]("value"),
        r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[java.sql.Timestamp]("window_end").getTime)).toSeq
    }
    assert(got == Seq(("k", 3, 1000L, 1150L)))
  }

  test("tumbling windowed fold: per-(key,window) acc survives restart; expiry still fires") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.TimeWindows.tumbling(100L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)), watermarkMs = Some(0L))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable() // [1000,1100) = 1
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("tbl"), dir, "update", buf2)
    try {
      ms.addData(("k", 2, 1050L)); q2.processAllAvailable() // same window
      // close the window and let the expiry timeout fire post-restart
      ms.addData(("z", 9, 100000L)); q2.processAllAvailable()
      ms.addData(("x", 1, 100001L)); q2.processAllAvailable()
      val stateRows = stateRowsAfterData(q2)
      // k's closed window expired from the RESTARTED query's state; only
      // the two sentinels' open windows remain
      assert(stateRows == 2, s"expected 2 live windows in state, got $stateRows")
    } finally q2.stop()
    val kVals = kv(buf2).filter(_._1 == "k").map(_._2)
    // 1 (pre-kill) + 2 = 3: the window acc was restored, not reset
    assert(kVals == Seq(3))
  }

  test("first-per-id dedup: the seen-set survives restart (cross-restart duplicates dropped)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Rec[String, Int]]
    val ds = Streamed.firstPerIdState[String, Int, Int](ms.toDS(), _.value)
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(ds.toDF(), dir, "update", buf1)
    try {
      ms.addData(Rec("u1", 7, 100L), Rec("u1", 9, 200L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.synchronized(buf1.size) == 2)

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(ds.toDF(), dir, "update", buf2)
    try {
      // 7 was seen BEFORE the kill; 8 is new
      ms.addData(Rec("u1", 7, 300L), Rec("u1", 8, 400L))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = buf2.synchronized {
      buf2.map(r => (r.getAs[String]("key"), r.getAs[Int]("value"))).toSeq
    }
    assert(got == Seq(("u1", 8)))
  }

  test("funnelState: chain progress survives restart (post-kill step only matches restored state)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Rec[String, String]]
    val ds = Streamed.funnelState(ms.toDS(), Seq("view", "click", "purchase"))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(ds.toDF(), dir, "update", buf1)
    try {
      ms.addData(Rec("u1", "view", 100L)); q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.synchronized(buf1.size) == 1)

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(ds.toDF(), dir, "update", buf2)
    try {
      // "click" only advances if (done=1, ts=100) was restored — a
      // reset state would be waiting for "view"
      ms.addData(Rec("u1", "click", 200L), Rec("u1", "purchase", 300L))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = buf2.synchronized(buf2.map(r =>
      (r.getAs[Row]("value").getInt(0), r.getAs[Long]("tsMs"))).toSeq)
    assert(got == Seq((2, 200L), (3, 300L)))
  }

  test("sessionizeState: open session and index survive restart; gap still closes it") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Rec[String, Long]]
    val ds = Streamed.sessionizeState(ms.toDS(), gapMs = 100L)
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(ds.toDF(), dir, "update", buf1)
    try {
      ms.addData(Rec("u1", 1L, 100L)); q1.processAllAvailable()
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(ds.toDF(), dir, "update", buf2)
    try {
      // 150 is within the gap of the PRE-KILL event (pos 2 of session
      // 1 — a reset state would restart at session 1 pos 1); 400 opens
      // session 2
      ms.addData(Rec("u1", 2L, 150L), Rec("u1", 3L, 400L))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = buf2.synchronized(buf2.map { r =>
      val v = r.getAs[Row]("value"); (v.getLong(0), v.getLong(1))
    }.toSeq)
    assert(got == Seq((1L, 2L), (2L, 1L)))
  }

  test("trailingWindowState: the in-horizon buffer survives restart and still prunes") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Rec[String, Long]]
    val ds = Streamed.trailingWindowState(ms.toDS(), windowMs = 100L)
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(ds.toDF(), dir, "update", buf1)
    try {
      ms.addData(Rec("u1", 5L, 100L)); q1.processAllAvailable()
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(ds.toDF(), dir, "update", buf2)
    try {
      // 150: pre-kill event still in horizon -> (2, 12); 300: horizon
      // pruned both -> (1, 9)
      ms.addData(Rec("u1", 7L, 150L)); q2.processAllAvailable()
      ms.addData(Rec("u1", 9L, 300L)); q2.processAllAvailable()
    } finally q2.stop()
    val got = buf2.synchronized(buf2.map { r =>
      val v = r.getAs[Row]("value"); (v.getLong(0), v.getLong(1))
    }.toSeq)
    assert(got == Seq((2L, 12L), (1L, 9L)))
  }

  test("capPerGroupState: the admission counter survives restart (quota is lifetime, not per-run)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Rec[String, Int]]
    val ds = Streamed.capPerGroupState(ms.toDS(), n = 3L)
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(ds.toDF(), dir, "update", buf1)
    try {
      ms.addData(Rec("d1", 1, 100L), Rec("d1", 2, 200L), Rec("d2", 9, 100L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.synchronized(buf1.size) == 3) // all under quota

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(ds.toDF(), dir, "update", buf2)
    try {
      // d1 has 2 admitted pre-kill: only ONE of these may pass
      ms.addData(Rec("d1", 3, 300L), Rec("d1", 4, 400L), Rec("d1", 5, 500L))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = buf2.synchronized(buf2.map(r =>
      (r.getAs[String]("key"), r.getAs[Int]("value"))).toSeq)
    assert(got == Seq(("d1", 3))) // earliest-ts of the batch, quota then full
  }

  test("property: capPerGroupState vs batch capPerGroup — counts on ANY feed, exact membership on hash-ordered feeds, across a random restart (3 seeds)") {
    // Pins the documented relationship between the two cap contracts
    // (live = first-n-by-arrival, batch = hash-ranked subset): their
    // per-group COUNTS agree on every feed; their MEMBERSHIP agrees
    // exactly when arrival order happens to equal hash-rank order; and
    // both facts survive a kill + checkpoint restart at a random point.
    implicit val sql = spark.sqlContext
    val md = java.security.MessageDigest.getInstance("MD5")
    def rank52(seed: String, id: Long): Long =
      java.lang.Long.parseLong(md.digest((seed + id.toString)
        .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16) %
        (1L << 52)
    for (seed <- 41 to 43) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(4) // quota 1..4
      val rows: Seq[(String, Long)] = Seq("g1", "g2", "g3").zipWithIndex
        .flatMap { case (g, gi) => // sizes straddle the quota
          (0 until (1 + rnd.nextInt(2 * n + 2))).map(j => g -> (gi * 100L + j)) }
      val batchKeep = graft.ops.Sampling.capPerGroup(
        rows.toDF("grp", "id"), "grp", "id", n, seed = s"s$seed")
        .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("id"))).toSet
      val batchCounts = batchKeep.groupBy(_._1).view.mapValues(_.size).toMap

      def runLive(feed: Seq[Rec[String, Long]]): Seq[(String, Long)] = {
        val ms = MemoryStream[Rec[String, Long]]
        val ds = Streamed.capPerGroupState(ms.toDS(), n.toLong)
        val dir = ckpt()
        val cut = 1 + rnd.nextInt(feed.size) min (feed.size - 1) max 1
        val buf1 = ArrayBuffer.empty[Row]
        val q1 = start(ds.toDF(), dir, "update", buf1)
        try { ms.addData(feed.take(cut): _*); q1.processAllAvailable() }
        finally q1.stop()
        val buf2 = ArrayBuffer.empty[Row]
        val q2 = start(ds.toDF(), dir, "update", buf2)
        try { ms.addData(feed.drop(cut): _*); q2.processAllAvailable() }
        finally q2.stop()
        (buf1.synchronized(buf1.toSeq) ++ buf2.synchronized(buf2.toSeq))
          .map(r => (r.getAs[String]("key"), r.getAs[Long]("value")))
      }

      // (a) ANY arrival order: per-group admitted counts == batch counts
      val liveAny = runLive(rnd.shuffle(rows).zipWithIndex
        .map { case ((g, id), i) => Rec(g, id, (i + 1) * 10L) })
      assert(liveAny.groupBy(_._1).view.mapValues(_.size).toMap == batchCounts,
        s"seed=$seed: per-group admitted counts")

      // (b) arrival order == hash-rank order (heap tie-break included):
      // membership equals the batch cap's exactly
      val liveOrdered = runLive(
        rows.sortBy { case (_, id) => (rank52(s"s$seed", id), id) }
          .zipWithIndex.map { case ((g, id), i) => Rec(g, id, (i + 1) * 10L) })
      assert(liveOrdered.toSet == batchKeep, s"seed=$seed: membership")
    }
  }

  test("events arriving while the query is DOWN are caught up on restart (fold continues)") {
    implicit val sql = spark.sqlContext
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
    } finally q1.stop()

    // the source keeps producing while no query is running — the restart
    // must pick up from the committed offset and process the backlog
    ms.addData(("k", 2, 1100L))
    ms.addData(("k", 4, 1200L))

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("tbl"), dir, "update", buf2)
    try { q2.processAllAvailable() } finally q2.stop()
    // both down-time events fold onto the restored acc (1 + 2 + 4 = 7).
    // Spark may drain the backlog as one batch (emission: 7) or one batch
    // per addData (3, then 7) — both are correct continuation; what must
    // NOT appear is a replayed pre-kill emission (1) or a reset fold (2, 6)
    val vals = kv(buf2).map(_._2)
    assert(vals == Seq(7) || vals == Seq(3, 7), s"got $vals")
  }

  test("property: session fold finals match batch under RANDOM feeds, batching, and kill points") {
    implicit val sql = spark.sqlContext
    // the r9 out-of-order property, extended across a restart: wherever
    // the kill lands between micro-batches, the restored session buffers
    // must re-fold to exactly the batch twin's finals. The adder is
    // NON-commutative (2*acc + v), so any deviation in restored event
    // order or a lost/duplicated buffered event changes the result.
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(200L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc * 2 + v))),
        "out" -> Entity.Topic("out")))
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // unique ts per key (ties would make the event-time fold order
      // ambiguous between engines), shuffled arrival order
      val rows = Seq("a", "b", "c").flatMap { k =>
        rnd.shuffle((0 until 2000).toList).take(6 + rnd.nextInt(6))
          .map(t => (k, 1 + rnd.nextInt(9), 1000L + t * 3L))
      }
      val arrival = rnd.shuffle(rows)
      val nChunks = 3 + rnd.nextInt(3)
      val chunks = arrival.grouped(
        math.max(1, (arrival.size + nChunks - 1) / nChunks)).toSeq
      val killAt = 1 + rnd.nextInt(chunks.size - 1)
      // even seeds run under RocksDB: session buffers must round-trip the
      // production store's checkpoint (zip + changelog) across the kill
      val store = if (seed % 2 == 0) StreamCompiler.StateStore.RocksDB
        else StreamCompiler.StateStore.Inherit

      StreamCompiler.withStateStore(spark, store) {
        val ms = MemoryStream[(String, Int, Long)]
        val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)))
        val dir = ckpt()
        val buf1 = ArrayBuffer.empty[Row]
        val q1 = start(dfs("tbl"), dir, "update", buf1)
        var lastB1 = -1L
        try {
          chunks.take(killAt).foreach { c =>
            ms.addData(c); q1.processAllAvailable()
          }
          lastB1 = q1.lastProgress.batchId
        } finally q1.stop()
        val buf2 = ArrayBuffer.empty[Row]
        val q2 = start(dfs("tbl"), dir, "update", buf2)
        try {
          chunks.drop(killAt).foreach { c =>
            ms.addData(c); q2.processAllAvailable()
          }
          // continuation, not replay: the finals comparison below is
          // replay-invariant by construction (MemoryStream retains all
          // data), so pin the batchId sequence — a restart that ignored
          // the checkpoint would begin again at batch 0
          val firstB2 = q2.recentProgress.map(_.batchId).min
          assert(firstB2 > lastB1,
            s"seed=$seed: restart began at batch $firstB2, not after $lastB1")
        } finally q2.stop()

        // final state per (key, window_start): last emission wins —
        // TestKit.sessionFinalsOf, shared with the congruity suite
        val finals = sessionFinalsOf(
          buf1.synchronized(buf1.toVector) ++ buf2.synchronized(buf2.toVector))
        val batch = sessionBatchOf(graft.batch.BatchCompiler.run(topo,
          Map("in" -> records(rows: _*)))("tbl"))
        assert(finals == batch,
          s"seed=$seed killAt=$killAt/${chunks.size}: $finals != $batch")
      }
    }
  }

  test("property: suppressed session emissions are EXACTLY-ONCE across a random kill point") {
    implicit val sql = spark.sqlContext
    // sessions may close before the kill (timeout fired, state cleaned),
    // at the kill (timeout armed but not yet fired), or after — for any
    // kill position each session must emit exactly once, with the batch
    // twin's value: a lost armed timeout emits never, a replayed or
    // un-cleaned one emits twice
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(100L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc * 2 + v)),
          suppress = true),
        "out" -> Entity.Topic("out")))
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed + 100)
      // in-order global feed (watermark 0: out-of-order would be late-
      // dropped and diverge from batch by design, not by recovery bugs)
      val rows = Seq("a", "b", "c").flatMap { k =>
        var t = 1000L + rnd.nextInt(200)
        (0 until 5 + rnd.nextInt(5)).map { _ =>
          t += 20L + rnd.nextInt(300) // sometimes bridges, sometimes closes
          (k, 1 + rnd.nextInt(9), t)
        }
      }.sortBy(_._3)
      val nChunks = 3 + rnd.nextInt(3)
      val chunks = rows.grouped(
        math.max(1, (rows.size + nChunks - 1) / nChunks)).toSeq
      val killAt = 1 + rnd.nextInt(chunks.size - 1)
      // even seeds run under RocksDB: armed timeouts and session accs
      // must survive the production store's checkpoint across the kill
      val store = if (seed % 2 == 0) StreamCompiler.StateStore.RocksDB
        else StreamCompiler.StateStore.Inherit

      StreamCompiler.withStateStore(spark, store) {
        val ms = MemoryStream[(String, Int, Long)]
        val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)),
          watermarkMs = Some(0L))
        val dir = ckpt()
        val buf1 = ArrayBuffer.empty[Row]
        val q1 = start(dfs("tbl"), dir, "append", buf1)
        try {
          chunks.take(killAt).foreach { c =>
            ms.addData(c); q1.processAllAvailable()
          }
        } finally q1.stop()
        val buf2 = ArrayBuffer.empty[Row]
        val q2 = start(dfs("tbl"), dir, "append", buf2)
        try {
          chunks.drop(killAt).foreach { c =>
            ms.addData(c); q2.processAllAvailable()
          }
          // push the watermark past every close, plus the extra batch that
          // lets re-armed timeouts fire
          ms.addData(Seq(("z", 9, 1000000L))); q2.processAllAvailable()
          ms.addData(Seq(("x", 1, 1000001L))); q2.processAllAvailable()
        } finally q2.stop()

        val emitted = (buf1.synchronized(buf1.toVector) ++
          buf2.synchronized(buf2.toVector))
          .filter(r => r.getAs[String]("key") != "z" && r.getAs[String]("key") != "x")
          .map(r => (r.getAs[String]("key"), r.getAs[Int]("value"),
            r.getAs[java.sql.Timestamp]("window_start").getTime,
            r.getAs[java.sql.Timestamp]("window_end").getTime)).sorted
        val batch = sessionBatchOf(graft.batch.BatchCompiler.run(topo,
          Map("in" -> records(rows: _*)))("tbl"))
        // exact multiset equality: every batch session emitted exactly once
        assert(emitted == batch,
          s"seed=$seed killAt=$killAt/${chunks.size}: $emitted != $batch")
      }
    }
  }

  test("property: live stream-table join == arrival-order model across a RANDOM kill point") {
    implicit val sql = spark.sqlContext
    // the r9 arrival-order property with a kill inserted at a random
    // micro-batch boundary: the emissions across both query incarnations
    // must equal the unbroken model exactly — any replay duplicates an
    // emission, any lost table state changes a lookup. Even seeds run
    // under RocksDB.
    val topo = Topology(
      Seq("s" -> "j", "u" -> "tbl", "tbl" -> "j", "j" -> "out"),
      Map("s" -> Entity.Topic("s"), "u" -> Entity.Topic("u"),
        "tbl" -> Entity.KTable(), "j" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      Map(Seq("s", "tbl") -> JoinConfig(JoinType.Left)))
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed + 200)
      // generator, wiring, extraction, and model shared via TestKit with
      // the congruity property — this test IS that property plus a kill
      val (_, _, arrival) = streamTableRandomFeed(rnd)
      val nBatches = 2 + rnd.nextInt(3)
      val batches = arrival.grouped(
        math.max(1, (arrival.size + nBatches - 1) / nBatches)).toSeq
      val killAt = 1 + rnd.nextInt(batches.size - 1)
      val store = if (seed % 2 == 0) StreamCompiler.StateStore.RocksDB
        else StreamCompiler.StateStore.Inherit

      StreamCompiler.withStateStore(spark, store) {
        val (ms, sideOf) = dualTopicStream()
        val dfs = StreamCompiler.run(topo, Map("s" -> sideOf(1), "u" -> sideOf(0)))
        val dir = ckpt()
        val buf1 = ArrayBuffer.empty[Row]
        val q1 = start(dfs("j"), dir, "update", buf1)
        var lastB1 = -1L
        try {
          feedSides(ms, q1, batches.take(killAt))
          lastB1 = q1.lastProgress.batchId
        } finally q1.stop()
        val buf2 = ArrayBuffer.empty[Row]
        val q2 = start(dfs("j"), dir, "update", buf2)
        try {
          feedSides(ms, q2, batches.drop(killAt))
          val firstB2 = q2.recentProgress.map(_.batchId).min
          assert(firstB2 > lastB1,
            s"seed=$seed: restart began at batch $firstB2, not after $lastB1")
        } finally q2.stop()

        val live = streamTableRowsOf(
          buf1.synchronized(buf1.toVector) ++ buf2.synchronized(buf2.toVector))
        assert(live == streamTableArrivalModel(batches),
          s"seed=$seed killAt=$killAt/${batches.size}: " +
            s"$live != ${streamTableArrivalModel(batches)}")
      }
    }
  }

  /** The canonical session-bridge kill scenario, shared by the
    * rebuilt-topology and changelog-checkpointing tests: feed
    * (k,1,1000),(k,2,1300) (two open sessions, gap 200), kill, restart
    * from `mkDfs` (same or freshly compiled plan), bridge with
    * (k,4,1150). The NON-commutative adder (2*acc + v) means the merged
    * final — ((0*2+1)*2+4)*2+2 = 14 over [1000,1500) — is only reachable
    * by re-folding BOTH restored session buffers in event-time order.
    * Returns (checkpoint dir, finals) so callers can add their own pins. */
  private def runSessionBridge(
      mkDfs: () => Map[String, org.apache.spark.sql.DataFrame],
      ms: MemoryStream[(String, Int, Long)]): (String, Seq[(String, Int, Long, Long)]) = {
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(mkDfs()("tbl"), dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L), ("k", 2, 1300L)); q1.processAllAvailable()
    } finally q1.stop()
    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(mkDfs()("tbl"), dir, "update", buf2)
    try {
      ms.addData(("k", 4, 1150L)); q2.processAllAvailable() // bridges both
    } finally q2.stop()
    (dir, sessionFinalsOf(
      buf1.synchronized(buf1.toVector) ++ buf2.synchronized(buf2.toVector)))
  }

  private def sessionBridgeTopo() = Topology(
    Seq("in" -> "tbl", "tbl" -> "out"),
    Map("in" -> Entity.Topic("in"),
      "tbl" -> Entity.KTable(
        window = Some(WindowSpec.SessionWindows(200L)),
        aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc * 2 + v))),
      "out" -> Entity.Topic("out")))

  test("a REBUILT topology (fresh compile) resumes another build's checkpoint") {
    implicit val sql = spark.sqlContext
    // realistic restarts don't reuse the old DataFrame: the driver died,
    // the topology is re-COMPILED from the declarative spec and started
    // against the surviving checkpoint. This only works if compilation
    // is deterministic where it matters — same operator layout, same
    // state row encoding — for a structurally equal (but newly
    // constructed) Topology value. Session fold: the state-richest op.
    val ms = MemoryStream[(String, Int, Long)]
    // each call compiles FRESH: new Topology instance, new Column trees,
    // new plan — q2 runs a different compile than q1
    val (_, finals) = runSessionBridge(
      () => StreamCompiler.run(sessionBridgeTopo(), Map("in" -> src(ms))), ms)
    assert(finals == Seq(("k", 14, 1000L, 1500L)))
  }

  test("stream-stream interval join: the buffered side survives restart to match later arrivals") {
    implicit val sql = spark.sqlContext
    // the join buffers are Spark-native symmetric-hash state, but OUR
    // compilation (watermark + interval condition) must rebuild the same
    // operator on restart for the checkpoint to resume — pin the
    // match-across-the-kill case: the left event is buffered pre-kill,
    // its right partner arrives post-restart within the window
    val topo = Topology(
      Seq("a" -> "j", "b" -> "j", "j" -> "out"),
      Map("a" -> Entity.Topic("a"), "b" -> Entity.Topic("b"),
        "j" -> Entity.KStream(), "out" -> Entity.Topic("out")),
      Map(Seq("a", "b") -> JoinConfig(JoinType.Inner, Some(JoinWindow.of(100L)))))
    val aMs = MemoryStream[(String, Int, Long)]
    val bMs = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo,
      Map("a" -> src(aMs), "b" -> src(bMs)), watermarkMs = Some(10000L))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("j"), dir, "append", buf1)
    try {
      aMs.addData(("k", 1, 1000L)); q1.processAllAvailable() // buffered, unmatched
    } finally q1.stop()
    assert(buf1.synchronized(buf1.isEmpty))

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("j"), dir, "append", buf2)
    try {
      bMs.addData(("k", 2, 1050L)); q2.processAllAvailable() // within ±100ms
    } finally q2.stop()
    val got = buf2.synchronized {
      buf2.map(r => (r.getAs[String]("key"),
        r.getAs[Row]("value").getInt(0), r.getAs[Row]("value").getInt(1))).toSeq
    }
    // the restored left buffer matched the post-restart right arrival
    assert(got == Seq(("k", 1, 2)))
  }

  test("suppressed TUMBLING fold: armed window-close timeout survives restart (append op)") {
    implicit val sql = spark.sqlContext
    // the windowed (non-session) suppression op is its own append-mode
    // state operator — its armed close timeouts must re-arm across a
    // restart just like the session variant's
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.TimeWindows.tumbling(100L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v)),
          suppress = true),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)), watermarkMs = Some(0L))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "append", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
      ms.addData(("k", 2, 1050L)); q1.processAllAvailable() // same window, open
    } finally q1.stop()
    assert(buf1.synchronized(buf1.isEmpty)) // suppressed: not closed yet

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(dfs("tbl"), dir, "append", buf2)
    try {
      ms.addData(("z", 9, 100000L)); q2.processAllAvailable()
      ms.addData(("x", 1, 100001L)); q2.processAllAvailable()
    } finally q2.stop()
    val got = buf2.synchronized {
      buf2.map(r => (r.getAs[String]("key"), r.getAs[Int]("value"),
        r.getAs[java.sql.Timestamp]("window_start").getTime)).toSeq
    }
    // exactly one post-restart close with the restored acc (1 + 2)
    assert(got == Seq(("k", 3, 1000L)))
  }

  test("topology evolution: adding a stateless transform downstream keeps the checkpoint valid") {
    implicit val sql = spark.sqlContext
    // the common live-job upgrade: new stateless logic after the stateful
    // core. The state operator's position/shape is unchanged, so the
    // checkpoint resumes — pin it, because users need to know WHICH
    // edits are checkpoint-compatible
    val ms = MemoryStream[(String, Int, Long)]
    val v1 = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    // v2 adds a stateless ×10 map AFTER the fold table
    val v2 = Topology(
      Seq("in" -> "tbl", "tbl" -> "post", "post" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "post" -> Entity.KStream(Some(Xform.MapValue(col("value") * 10))),
        "out" -> Entity.Topic("out")))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(StreamCompiler.run(v1, Map("in" -> src(ms)))("tbl"),
      dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
      ms.addData(("k", 2, 1100L)); q1.processAllAvailable()
    } finally q1.stop()

    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(StreamCompiler.run(v2, Map("in" -> src(ms)))("post"),
      dir, "update", buf2)
    try {
      ms.addData(("k", 4, 1200L)); q2.processAllAvailable()
    } finally q2.stop()
    // the restored acc flows through the NEW stateless node: (3+4)*10
    assert(kv(buf2) == Seq(("k", 70)))
  }

  test("topology evolution: changing FUNCTION logic (the adder) resumes and applies new code to old accs") {
    implicit val sql = spark.sqlContext
    // the third evolution rule: state is data, code is code — a new
    // adder with the SAME state shape resumes the checkpoint and folds
    // new events with the new logic onto the old accs (normal upgrade
    // semantics; Kafka Streams behaves identically)
    def topoWith(adder: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      Topology(
        Seq("in" -> "tbl", "tbl" -> "out"),
        Map("in" -> Entity.Topic("in"),
          "tbl" -> Entity.KTable(aggregate = Some(AggSpec.FoldAgg(lit(0), adder))),
          "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(StreamCompiler.run(topoWith((acc, v) => acc + v),
      Map("in" -> src(ms)))("tbl"), dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
      ms.addData(("k", 2, 1100L)); q1.processAllAvailable() // acc = 3
    } finally q1.stop()

    // v2 deploys a NEW adder (same Int state shape)
    val buf2 = ArrayBuffer.empty[Row]
    val q2 = start(StreamCompiler.run(topoWith((acc, v) => acc + v * 100),
      Map("in" -> src(ms)))("tbl"), dir, "update", buf2)
    try {
      ms.addData(("k", 4, 1200L)); q2.processAllAvailable()
    } finally q2.stop()
    // old acc (3, folded by v1) + new-code contribution (4*100)
    assert(kv(buf2) == Seq(("k", 403)))
  }

  test("topology evolution: changing the state SHAPE is rejected by Spark's schema check") {
    implicit val sql = spark.sqlContext
    // the guardrail for the incompatible upgrade: swapping the stateful
    // core (unwindowed fold -> session-windowed fold = different state
    // row schema) against the old checkpoint must ERROR, not silently
    // decode old state as the new shape
    val ms = MemoryStream[(String, Int, Long)]
    val foldTopo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(StreamCompiler.run(foldTopo, Map("in" -> src(ms)))("tbl"),
      dir, "update", buf1)
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
    } finally q1.stop()

    val sessTopo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(200L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val buf2 = ArrayBuffer.empty[Row]
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = start(StreamCompiler.run(sessTopo, Map("in" -> src(ms)))("tbl"),
        dir, "update", buf2)
      try {
        ms.addData(("k", 2, 1100L)); q2.processAllAvailable()
      } finally q2.stop()
    }
    // Spark's state schema validation caught the shape change
    val msg = String.valueOf(e.getMessage) +
      Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).mkString(" ")
    assert(msg.toLowerCase.contains("schema") || msg.toLowerCase.contains("state"),
      s"unexpected failure mode: $msg")
    assert(buf2.synchronized(buf2.isEmpty)) // nothing emitted from bad resume
  }

  test("restart under a DIFFERENT session provider keeps the checkpoint's pinned provider") {
    implicit val sql = spark.sqlContext
    // Spark records the provider class in the checkpoint's offset
    // metadata: a restart under another session provider does NOT
    // corrupt or refuse the checkpoint — it keeps the original store
    // (and resets the session conf to it). Pin that: the scary failure
    // mode (RocksDB reading HDFS snapshots as sst files) cannot happen,
    // and the StateStore scaladoc documents the pinning.
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "update", buf1) // default: HDFSBacked
    try {
      ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
      ms.addData(("k", 2, 1100L)); q1.processAllAvailable()
    } finally q1.stop()

    StreamCompiler.withStateStore(spark, StreamCompiler.StateStore.RocksDB) {
      assert(spark.conf.get(confKey).contains("RocksDB"))
      val buf2 = ArrayBuffer.empty[Row]
      val q2 = start(dfs("tbl"), dir, "update", buf2)
      try {
        ms.addData(("k", 4, 1200L)); q2.processAllAvailable()
      } finally q2.stop()
      // state continued (not lost to a provider mismatch): the restarted
      // query overrode the RocksDB setting with the checkpoint's pinned
      // HDFSBacked provider — in its CLONED execution session (the
      // OffsetSeqMetadata warning); the user-visible session conf is
      // untouched and still says RocksDB
      assert(kv(buf2) == Seq(("k", 7)))
      assert(spark.conf.get(confKey).contains("RocksDB"))
    }
    // withStateStore still restores the pre-block conf afterwards
    assert(!spark.conf.getOption(confKey).exists(_.contains("RocksDB")))
  }

  test("restart under a DIFFERENT shuffle-partition count keeps the checkpoint's state layout") {
    implicit val sql = spark.sqlContext
    // the other operational pin: state-store partitioning is fixed at
    // the FIRST run — Spark checkpoints the DERIVED
    // spark.sql.streaming.internal.stateStore.partitions conf (seeded
    // from shuffle.partitions), visible in the restart's
    // OffsetSeqMetadata warning "from '16' to '4'". Scaling a stateful
    // job's state parallelism needs a new checkpoint + replay, not a
    // conf bump (shuffle.partitions itself is NOT pinned: stateless
    // exchanges may run at the new count). The test proves a restart
    // under a bumped conf still reads every key's state from the
    // original 4-partition layout.
    val confKey = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(confKey)
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)))
    val dir = ckpt()
    val buf1 = ArrayBuffer.empty[Row]
    val q1 = start(dfs("tbl"), dir, "update", buf1) // 4 partitions (TestKit)
    try {
      // keys spread over several state partitions
      ms.addData(("a", 1, 1000L), ("b", 2, 1000L), ("c", 3, 1000L),
        ("d", 4, 1000L), ("e", 5, 1000L))
      q1.processAllAvailable()
    } finally q1.stop()

    try {
      spark.conf.set(confKey, "16")
      val buf2 = ArrayBuffer.empty[Row]
      val q2 = start(dfs("tbl"), dir, "update", buf2)
      try {
        ms.addData(("a", 10, 2000L), ("b", 10, 2000L), ("c", 10, 2000L),
          ("d", 10, 2000L), ("e", 10, 2000L))
        q2.processAllAvailable()
        // every key continued from its restored acc — possible only if
        // the restarted query kept the original 4-partition state layout
        // (a 16-partition re-hash would look up most keys in the wrong
        // store and reset them)
        assert(kv(buf2).sorted ==
          Seq(("a", 11), ("b", 12), ("c", 13), ("d", 14), ("e", 15)))
        assert(stateRowsAfterData(q2) == 5)
      } finally q2.stop()
    } finally spark.conf.set(confKey, prior)
  }

  test("RocksDB + changelog checkpointing: session state restores via changelog replay") {
    implicit val sql = spark.sqlContext
    // changelog checkpointing is RocksDB's at-scale mode (per-batch
    // changelog uploads instead of full snapshot zips) with its own,
    // different restore path: the restart replays the changelog onto the
    // last snapshot. Recovery through THAT path is distinct code from
    // the snapshot-only restore the other RocksDB test exercises — pin
    // it with the state-richest operator (session buffers + merge).
    val ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prior = spark.conf.getOption(ck)
    try {
      spark.conf.set(ck, "true")
      StreamCompiler.withStateStore(spark, StreamCompiler.StateStore.RocksDB) {
        val ms = MemoryStream[(String, Int, Long)]
        val dfs = StreamCompiler.run(sessionBridgeTopo(), Map("in" -> src(ms)))
        val (dir, finals) = runSessionBridge(() => dfs, ms)
        assert(finals == Seq(("k", 14, 1000L, 1500L)))
        // prove the changelog path actually ENGAGED (a typo'd or ignored
        // conf would silently fall back to snapshot-zip restore and this
        // test would pass without pinning anything): changelog files must
        // exist in the checkpoint's state directory
        import scala.jdk.CollectionConverters._
        val changelogs = java.nio.file.Files
          .walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .count(_.getFileName.toString.endsWith(".changelog"))
        assert(changelogs > 0,
          s"no *.changelog files under $dir - changelog checkpointing never ran")
      }
    } finally prior match {
      case Some(p) => spark.conf.set(ck, p)
      case None    => spark.conf.unset(ck)
    }
  }

  test("RocksDB provider: fold state restores across restart under the production store") {
    implicit val sql = spark.sqlContext
    StreamCompiler.withStateStore(spark, StreamCompiler.StateStore.RocksDB) {
      val topo = Topology(
        Seq("in" -> "tbl", "tbl" -> "out"),
        Map("in" -> Entity.Topic("in"),
          "tbl" -> Entity.KTable(aggregate =
            Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc + v))),
          "out" -> Entity.Topic("out")))
      val ms = MemoryStream[(String, Int, Long)]
      val dfs = StreamCompiler.run(topo, Map("in" -> src(ms)),
        stateStore = StreamCompiler.StateStore.RocksDB)
      val dir = ckpt()
      val buf1 = ArrayBuffer.empty[Row]
      val q1 = start(dfs("tbl"), dir, "update", buf1)
      try {
        ms.addData(("k", 1, 1000L)); q1.processAllAvailable()
        ms.addData(("k", 2, 1100L)); q1.processAllAvailable()
      } finally q1.stop()

      val buf2 = ArrayBuffer.empty[Row]
      val q2 = start(dfs("tbl"), dir, "update", buf2)
      try {
        ms.addData(("k", 4, 1200L)); q2.processAllAvailable()
      } finally q2.stop()
      // RocksDB checkpoints (zip + changelog) restored the acc
      assert(kv(buf2) == Seq(("k", 7)))
    }
  }

  /** Feed the running-fold topology through one checkpoint, one query
    * incarnation per entry of `managers` (the session's
    * checkpoint-manager conf for that incarnation; None = Spark's
    * default), one micro-batch each, and return every (key, value) the
    * sink saw, in emission order. */
  private def restartsAcrossManagers(managers: Seq[Option[String]],
      store: StreamCompiler.StateStore): (String, Seq[(String, Int)]) = {
    implicit val sql = spark.sqlContext
    val key = graft.stream.CheckpointFiles.ConfKey
    val topo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0), (acc, v) => acc * 2 + v))),
        "out" -> Entity.Topic("out")))
    val ms = MemoryStream[(String, Int, Long)]
    val dir = ckpt()
    val prior = spark.conf.getOption(key)
    val seen = try managers.zipWithIndex.flatMap { case (m, i) =>
      m.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val dfs = StreamCompiler.withStateStore(spark, store) {
        StreamCompiler.run(topo, Map("in" -> src(ms)))
      }
      val buf = ArrayBuffer.empty[Row]
      StreamCompiler.withStateStore(spark, store) {
        val q = start(dfs("tbl"), dir, "update", buf)
        try {
          ms.addData(("k", i + 1, 1000L + i), (s"j${i % 2}", 10 * (i + 1), 1000L + i))
          q.processAllAvailable()
        } finally q.stop()
      }
      kv(buf).sorted
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    (dir, seen)
  }

  /** Spark's default manager, named explicitly: the session factory
    * installs the fork-free one, so unsetting alone would not restore it
    * once StreamCompiler.run reinstalls it. */
  private val sparkDefaultManager = Some(classOf[org.apache.spark.sql.execution
    .streaming.checkpointing.FileContextBasedCheckpointFileManager].getName)
  private val forkFreeManager = Some(graft.stream.CheckpointFiles.ManagerClass)

  /** Expected emissions of [[restartsAcrossManagers]] over 3 incarnations
    * of the non-commutative fold 2·acc + v: k 1 → 4 → 11, j0 10 → 50. */
  private val acrossManagers =
    Seq(("j0", 10), ("k", 1), ("j1", 20), ("k", 4), ("j0", 50), ("k", 11))

  test("HDFSBacked: a checkpoint resumes across Spark's default and the fork-free checkpoint manager, both ways") {
    val (_, mixed) = restartsAcrossManagers(
      Seq(sparkDefaultManager, forkFreeManager, sparkDefaultManager),
      StreamCompiler.StateStore.HDFSBacked)
    val (_, plain) = restartsAcrossManagers(Seq.fill(3)(sparkDefaultManager),
      StreamCompiler.StateStore.HDFSBacked)
    assert(mixed == plain)
    assert(mixed == acrossManagers)
  }

  test("RocksDB + changelog: a checkpoint resumes across Spark's default and the fork-free checkpoint manager, both ways") {
    val ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prior = spark.conf.getOption(ck)
    try {
      spark.conf.set(ck, "true")
      val (dir, mixed) = restartsAcrossManagers(
        Seq(forkFreeManager, sparkDefaultManager, forkFreeManager),
        StreamCompiler.StateStore.RocksDB)
      val (_, plain) = restartsAcrossManagers(Seq.fill(3)(sparkDefaultManager),
        StreamCompiler.StateStore.RocksDB)
      assert(mixed == plain)
      assert(mixed == acrossManagers)
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val changelogs = try walk.iterator().asScala
        .count(_.getFileName.toString.endsWith(".changelog")) finally walk.close()
      assert(changelogs > 0, s"no *.changelog files under $dir")
    } finally prior match {
      case Some(p) => spark.conf.set(ck, p)
      case None    => spark.conf.unset(ck)
    }
  }
}
