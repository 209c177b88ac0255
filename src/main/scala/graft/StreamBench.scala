package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.dsl._
import graft.stream.StreamCompiler

/** Streaming-throughput micro-bench for the custom state operators
  * (round-9 verdict task 3): the batch suite (`graft.Bench`) never
  * exercises `tableChainState` / `streamTableState` /
  * `sessionWindowedFold`, so their events/sec had no recorded number.
  *
  * Method: N events across K keys feed a MemoryStream in B chunks, each
  * chunk drained with `processAllAvailable` (= B micro-batches, so state
  * genuinely round-trips the store between chunks); elapsed covers first
  * `addData` to last drain; noop sink (full execution, no result
  * materialization). One JSON line:
  * `{"metric":"streaming_throughput","unit":"events_per_sec","ops":{...}}`.
  * Recorded per round in `BASELINE_LOCAL.json` under `streaming`.
  *
  * Scenarios: `chain_fold` = running FoldAgg table (1-leaf chain state);
  * `chain_fold_rocksdb` = the same under RocksDBStateStoreProvider (the
  * provider-swap cost made visible); `stream_table` = live stream ⋈
  * running-fold table (emit-per-stream-record, table side folds);
  * `session_fold` = merging session windows with the per-event buffer;
  * `session_fold_combinable` = the same sessions on the O(1) acc-merge
  * path (buffer vs no-buffer, same workload). */
object StreamBench {

  /** Drive one topology: feed `rows` to `topic` in `batches` chunks and
    * return events/sec (total events / wall elapsed). */
  private def drive(
      spark: SparkSession,
      topo: Topology,
      feeds: Map[String, Seq[(String, Long, Long)]],
      sink: String,
      mode: String,
      batches: Int,
      watermarkMs: Option[Long] = None): Double = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val streams = feeds.map { case (id, _) =>
      val ms = MemoryStream[(String, Long, Long)]
      id -> (ms, ms.toDF().toDF("key", "value", "__ms")
        .withColumn("ts", timestamp_millis(col("__ms"))).drop("__ms"))
    }
    val dfs = StreamCompiler.run(topo, streams.map { case (k, v) => k -> v._2 },
      watermarkMs = watermarkMs)
    val q = dfs(sink).writeStream.format("noop").outputMode(mode).start()
    val chunks: Map[String, Seq[Seq[(String, Long, Long)]]] = feeds.map {
      case (id, rows) =>
        id -> rows.grouped(math.max(1, (rows.size + batches - 1) / batches)).toSeq
    }
    val n = feeds.values.map(_.size).sum
    val t0 = System.nanoTime()
    // elapsed samples BEFORE stop(): query teardown (thread join, sink
    // close) is not part of the drain being measured
    var t1 = t0
    try {
      (0 until batches).foreach { b =>
        chunks.foreach { case (id, cs) =>
          if (b < cs.size) streams(id)._1.addData(cs(b))
        }
        q.processAllAvailable()
      }
      t1 = System.nanoTime()
    } finally q.stop()
    n / ((t1 - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "100000").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_STREAM_KEYS", "1000").toInt
    val b = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt

    // round-robin keys, monotone ts: the common in-order hot path
    def inOrder(n: Int): Seq[(String, Long, Long)] =
      (0 until n).map(i => (s"k${i % k}", 1L, 1000L + i))

    val foldTopo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0L), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))

    def sessTopo(comb: Boolean) = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(50L)),
          aggregate = Some(AggSpec.FoldAgg(lit(0L), (acc, v) => acc + v,
            combiner = if (comb) Some((a: org.apache.spark.sql.Column,
              c: org.apache.spark.sql.Column) => a + c) else None,
            commutative = comb))),
        "out" -> Entity.Topic("out")))
    // ~10 sessions per key, session length derived from n/k (not a fixed
    // 100, which with the defaults would never be reached and leave one
    // eternally-open session per key): consecutive events 1 ms apart, then
    // a >gap jump closes the session and the watermark expires its state.
    // The jump scales WITH the session length (sessLen + 1000) so the
    // inter-session gap stays 1000 ms > the 50 ms session gap at any n/k —
    // a fixed 1000 ms stride would shrink the gap to (1001 - sessLen) ms
    // and chain sessions back together once n/k grows past ~10k
    def sessRows(n: Int): Seq[(String, Long, Long)] = {
      val perKey = math.max(1, n / k)
      val sessLen = math.max(1, perKey / 10)
      (0 until n).map { i =>
        val per = i / k  // per-key sequence number
        val jump = (per / sessLen) * (sessLen + 1000L)
        (s"k${i % k}", 1L, 1000L + jump + (per % sessLen))
      }
    }

    val joinTopo = Topology(
      Seq("s" -> "j", "u" -> "tbl", "tbl" -> "j", "j" -> "out"),
      Map("s" -> Entity.Topic("s"), "u" -> Entity.Topic("u"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0L), (acc, v) => acc + v))),
        "j" -> Entity.KStream(),
        "out" -> Entity.Topic("out")),
      Map(Seq("s", "tbl") -> JoinConfig(JoinType.Left)))

    // the two dedupe fragments over the same 50%-duplicate workload:
    // `dedupe` keeps every id forever (unbounded state), `dedupe_within`
    // expires ids with the watermark (bounded) — the throughput delta is
    // the price/win of the horizon. Ids collide across the stream's halves
    // so half the records are cross-batch duplicates.
    def dedupeTopo(within: Boolean) = {
      val (edges, ents) =
        if (within) Fragments.dedupeWithin("in", "out", col("value"))
        else Fragments.dedupe("in", "out", col("value"))
      Topology(edges,
        Map("in" -> Entity.Topic("in"), "out" -> Entity.Topic("out")) ++ ents)
    }
    def dupRows(n: Int): Seq[(String, Long, Long)] = {
      val ids = math.max(1, n / 2) // n=1 still yields a valid (dup-free) feed
      (0 until n).map(i => (s"k${i % k}", (i % ids).toLong, 1000L + i))
    }

    // warmup: one small run absorbs codegen/session init
    drive(spark, foldTopo, Map("in" -> inOrder(2000)), "tbl", "update", 2)

    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    ops("chain_fold") =
      drive(spark, foldTopo, Map("in" -> inOrder(n)), "tbl", "update", b)
    ops("chain_fold_rocksdb") =
      StreamCompiler.withStateStore(spark, StreamCompiler.StateStore.RocksDB) {
        drive(spark, foldTopo, Map("in" -> inOrder(n)), "tbl", "update", b)
      }
    ops("stream_table") =
      drive(spark, joinTopo,
        Map("s" -> inOrder(n / 2), "u" -> inOrder(n / 2)), "j", "update", b)
    ops("session_fold") =
      drive(spark, sessTopo(comb = false), Map("in" -> sessRows(n)), "tbl",
        "update", b, watermarkMs = Some(500L))
    ops("session_fold_combinable") =
      drive(spark, sessTopo(comb = true), Map("in" -> sessRows(n)), "tbl",
        "update", b, watermarkMs = Some(500L))
    // r10 verdict task 4: the provider cost per-op, not just for the
    // chain fold — same workloads as session_fold / stream_table above
    ops("session_fold_rocksdb") =
      StreamCompiler.withStateStore(spark, StreamCompiler.StateStore.RocksDB) {
        drive(spark, sessTopo(comb = false), Map("in" -> sessRows(n)), "tbl",
          "update", b, watermarkMs = Some(500L))
      }
    ops("stream_table_rocksdb") =
      StreamCompiler.withStateStore(spark, StreamCompiler.StateStore.RocksDB) {
        drive(spark, joinTopo,
          Map("s" -> inOrder(n / 2), "u" -> inOrder(n / 2)), "j", "update", b)
      }
    // r10 verdict task 5: the expensive paths had no recorded number —
    // a SHUFFLED session feed (every batch re-merges/re-folds sessions;
    // no watermark: shuffled arrival would otherwise just measure
    // late-drop) and a single-hot-key chain (one state row takes the
    // whole feed; per-key batch buffer at its worst)
    ops("session_fold_ooo") =
      drive(spark, sessTopo(comb = false),
        Map("in" -> new scala.util.Random(42L).shuffle(sessRows(n))), "tbl",
        "update", b)
    ops("chain_fold_hotkey") =
      drive(spark, foldTopo,
        Map("in" -> (0 until n).map(i => ("hot", 1L, 1000L + i))), "tbl",
        "update", b)
    // same mode for both; the horizon (watermark delay) is DERIVED from n
    // so it always spans the whole feed (duplicate pairs sit n/2 ms apart
    // on the 1ms-spaced timeline) and both variants dedup every duplicate
    // — the delta is pure overhead. A fixed horizon would silently stop
    // covering the duplicate gap at larger n (the sessRows stride-bug
    // class).
    ops("dedupe") =
      drive(spark, dedupeTopo(within = false), Map("in" -> dupRows(n)), "out",
        "append", b)
    ops("dedupe_within") =
      drive(spark, dedupeTopo(within = true), Map("in" -> dupRows(n)), "out",
        "append", b, watermarkMs = Some(n.toLong))

    // r14 additions drive the Streamed API directly (no topology):
    // sharded Space-Saving heavy keys and the per-event decayed score
    def driveDs[T](mk: MemoryStream[graft.stream.Rec[String, T]] =>
        org.apache.spark.sql.Dataset[_], rows: Seq[graft.stream.Rec[String, T]])(
        implicit enc: org.apache.spark.sql.Encoder[graft.stream.Rec[String, T]]): Double = {
      implicit val sql = spark.sqlContext
      val ms = MemoryStream[graft.stream.Rec[String, T]]
      val q = mk(ms).writeStream.format("noop").outputMode("update").start()
      val chunks = rows.grouped(math.max(1, (rows.size + b - 1) / b)).toSeq
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
        t1 = System.nanoTime()
      } finally q.stop()
      rows.size / ((t1 - t0) / 1e9)
    }
    import spark.implicits._
    ops("heavy_keys") = driveDs[Long](
      ms => graft.stream.Streamed.heavyKeysState(ms.toDS(), k = 64, shards = 32),
      (0 until n).map(i => graft.stream.Rec(s"k${i % k}", 1L, 1000L + i)))
    ops("decayed_score") = driveDs[(Long, Double)](
      ms => graft.stream.Streamed.decayedState(ms.toDS(), bucketUs = 1000L),
      (0 until n).map(i => graft.stream.Rec(s"k${i % k}",
        ((1000L + i) * 1000L, 1.0), 1000L + i)))
    // 7-day presence replication: each event fans out to 7 state keys,
    // so events/s here carries a built-in 7x state-write amplification.
    // This feed (1000 users x 30 days -> 36 day groups holding ~1000-user
    // sets) is STATE-SERIALIZATION-bound: per-batch wall is dominated by
    // rewriting the big per-day user sets, so the map-side (user, day)
    // pre-aggregation inside rollingActiveState barely moves it
    ops("rolling_active") = driveDs[Long](
      ms => graft.stream.Streamed.rollingActiveState(ms.toDS(), windowDays = 7),
      (0 until n).map(i => graft.stream.Rec(s"k${i % k}", 0L,
        (i % 30).toLong * 86400000L + i)))
    // clumped-arrival twin — 100 users x 300 days: ~33 same-(user, day)
    // events per batch collapse before the x7 expansion and the day
    // groups hold small sets, so THIS feed measures the exchange-bound
    // regime the pre-aggregation exists for
    ops("rolling_active_clumped") = driveDs[Long](
      ms => graft.stream.Streamed.rollingActiveState(ms.toDS(), windowDays = 7),
      (0 until n).map(i => graft.stream.Rec(s"k${i % 100}", 0L,
        (i % 300).toLong * 86400000L + i)))

    val opsJson = ops.map { case (name, eps) => s"\"$name\":${math.round(eps)}" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"streaming_throughput","unit":"events_per_sec",""" +
      s""""ops":$opsJson,"n":$n,"keys":$k,"batches":$b}""")
    spark.stop()
  }
}
