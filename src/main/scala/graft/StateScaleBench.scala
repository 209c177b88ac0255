package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.dsl._
import graft.stream.StreamCompiler

/** Streaming STATE-AT-SCALE bench (round-12 verdict task 1): the regular
  * `StreamBench` runs 100k events over ≤1,000 keys — state far below any
  * memory pressure, so the "RocksDB is the 100 TB provider" claim in
  * `OPERATIONS.md` had architecture behind it but no measurement. This
  * suite pushes key cardinality two orders up (defaults: 2M events /
  * 500k distinct fold keys; 2M-event dedupe feed with 1M distinct ids)
  * and records, per provider, BOTH throughput and the state operator's
  * own telemetry (`stateOperators`: numRowsTotal, memoryUsedBytes, and
  * the provider's memory/size custom metrics) from the last progress
  * entry that processed data.
  *
  * Scenarios (fold = running FoldAgg table, the tableChainState custom
  * op; dedupe = unbounded first-per-id `dropDuplicates` fragment;
  * dedupe_within = bounded-horizon `dropDuplicatesWithinWatermark`
  * fragment whose state expires with the watermark):
  *   - `fold_hdfs` / `fold_rocksdb` — 2M events round-robin over 500k
  *     keys; final state = 500k fold accs.
  *   - `dedupe_hdfs` / `dedupe_rocksdb` — each id appears twice in
  *     adjacent events (1M distinct ids); unbounded seen-set state grows
  *     to 1M rows by design.
  *   - `dedupe_within_rocksdb` / `dedupe_within_hdfs` — the SAME feed
  *     under a horizon (default 20k ms on the 1 ms-spaced timeline) that
  *     still covers every adjacent duplicate pair but expires ids as the
  *     watermark passes: live state stays ~horizon-sized instead of
  *     distinct-ids-ever. The rows/memory delta vs `dedupe_*` is the
  *     measured 100 TB trade.
  *
  * RocksDB runs enable `spark.sql.streaming.stateStore.rocksdb
  * .changelogCheckpointing.enabled` — the at-scale checkpoint mode
  * (per-batch changelog uploads instead of full snapshot zips), the
  * configuration `OPERATIONS.md` prescribes for large state.
  *
  * Output: ONE JSON line
  * `{"metric":"state_scale","scenarios":{name:{"eps":…,"state_rows":…,
  * "state_mem_bytes":…,"custom":{…}}},…}`, recorded per round in
  * `BASELINE_LOCAL.json` under `streaming.state_scale`.
  *
  * (Reference analogue: Kafka Streams defaults every materialized store
  * to RocksDB precisely for this regime — willa delegates state to it
  * via `streams.clj:34-39`; this suite measures the Spark-side
  * equivalent of that default actually mattering.) */
object StateScaleBench {

  final case class Result(
      eps: Double, stateRows: Long, stateMemBytes: Long,
      custom: Map[String, Long])

  /** Drive one topology and sample the state operator's telemetry from
    * the last progress entry that actually processed data (the final
    * `processAllAvailable` can leave a trailing no-data batch as
    * `lastProgress`, whose metrics lag the drain — ADVICE r11).
    *
    * The feed arrives as a chunk GENERATOR, not a materialized Seq: the
    * boundary runs (`SPARK_GRAFT_SCALE_SCENARIO` under a constrained
    * heap) push 8M+ events, and a driver-resident 8M-tuple vector would
    * charge ~1 GB of feed memory against the very heap limit the run is
    * probing — the generator keeps driver feed memory O(one chunk). */
  private def drive(
      spark: SparkSession,
      topo: Topology,
      chunks: () => Iterator[Seq[(String, Long, Long)]],
      total: Long,
      sink: String,
      mode: String,
      watermarkMs: Option[Long]): Result = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(String, Long, Long)]
    val src = ms.toDF().toDF("key", "value", "__ms")
      .withColumn("ts", timestamp_millis(col("__ms"))).drop("__ms")
    val dfs = StreamCompiler.run(topo, Map("in" -> src), watermarkMs = watermarkMs)
    val q = dfs(sink).writeStream.format("noop").outputMode(mode).start()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      chunks().foreach { c => ms.addData(c); q.processAllAvailable() }
      t1 = System.nanoTime()
      val so = graft.stream.Progress.lastDataProgress(q).stateOperators
      val custom = so.flatMap { op =>
        import scala.jdk.CollectionConverters._
        op.customMetrics.asScala.collect {
          case (k, v) if k.toLowerCase.matches(".*(memory|size).*") && v != 0L =>
            k -> Long2long(v)
        }
      }.groupMapReduce(_._1)(_._2)(_ + _)
      Result(
        total / ((t1 - t0) / 1e9),
        so.map(_.numRowsTotal).sum,
        so.map(_.memoryUsedBytes).sum,
        custom)
    } finally q.stop()
  }

  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Wrap a RocksDB run with changelog checkpointing enabled, restoring
    * the prior setting after (same scoping discipline as
    * [[StreamCompiler.withStateStore]], which this composes with). */
  private def withChangelog[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(ChangelogKey)
    spark.conf.set(ChangelogKey, "true")
    try body
    finally prior match {
      case Some(p) => spark.conf.set(ChangelogKey, p)
      case None    => spark.conf.unset(ChangelogKey)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2000000").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_KEYS", "500000").toInt
    val b = sys.env.getOrElse("SPARK_GRAFT_SCALE_BATCHES", "10").toInt
    val horizon = sys.env.getOrElse("SPARK_GRAFT_SCALE_HORIZON_MS", "20000").toLong
    // boundary mode (r12 verdict task 2): run a SUBSET of scenarios in a
    // heap-constrained child JVM (SPARK_DRIVER_MEM=2g) at 4–8M ids to
    // find where the heap-resident HDFSBacked provider degrades while
    // RocksDB (native, off-heap) holds. Comma-separated scenario names.
    val only = sys.env.get("SPARK_GRAFT_SCALE_SCENARIO")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    val foldTopo = Topology(
      Seq("in" -> "tbl", "tbl" -> "out"),
      Map("in" -> Entity.Topic("in"),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0L), (acc, v) => acc + v))),
        "out" -> Entity.Topic("out")))

    def dedupeTopo(within: Boolean) = {
      val (edges, ents) =
        if (within) Fragments.dedupeWithin("in", "out", col("value"))
        else Fragments.dedupe("in", "out", col("value"))
      Topology(edges,
        Map("in" -> Entity.Topic("in"), "out" -> Entity.Topic("out")) ++ ents)
    }

    // Chunk GENERATORS, not materialized vectors: each scenario re-derives
    // its feed lazily, keeping driver feed memory O(one chunk) — essential
    // for the heap-constrained boundary runs where an 8M-tuple resident
    // vector would consume the probed heap itself.
    def chunked(rows: Int, batches: Int)(row: Int => (String, Long, Long))
        : () => Iterator[Seq[(String, Long, Long)]] = {
      val c = math.max(1, (rows + batches - 1) / batches)
      () => (0 until rows).grouped(c).map(_.map(row))
    }
    // round-robin over k keys: every micro-batch touches ~n/b distinct
    // state rows; final state cardinality = k
    def foldRow(i: Int) = (s"k${i % k}", 1L, 1000L + i)
    // each id appears on two ADJACENT events (1 ms apart on the 1 ms
    // timeline): n/2 distinct ids, every duplicate within any horizon
    // ≥ a few ms — so bounded and unbounded variants do the same dedup
    // WORK and differ only in what they retain
    def dupRow(i: Int) = (s"k${i % 1000}", (i / 2).toLong, 1000L + i)
    val foldFeed = chunked(n, b)(foldRow)
    val dupFeed = chunked(n, b)(dupRow)
    val warmFold = chunked(2000, 2)(foldRow)
    val warmDup = chunked(2000, 2)(dupRow)

    import StreamCompiler.{withStateStore, StateStore}

    def rocks[A](body: => A): A =
      withChangelog(spark) { withStateStore(spark, StateStore.RocksDB) { body } }

    val scenarios: Seq[(String, () => Result)] = Seq(
      "fold_hdfs" -> (() =>
        drive(spark, foldTopo, foldFeed, n, "tbl", "update", None)),
      "fold_rocksdb" -> (() => rocks {
        drive(spark, foldTopo, foldFeed, n, "tbl", "update", None) }),
      "dedupe_hdfs" -> (() =>
        drive(spark, dedupeTopo(within = false), dupFeed, n, "out", "append", None)),
      "dedupe_rocksdb" -> (() => rocks {
        drive(spark, dedupeTopo(within = false), dupFeed, n, "out", "append", None) }),
      "dedupe_within_hdfs" -> (() =>
        drive(spark, dedupeTopo(within = true), dupFeed, n, "out", "append",
          watermarkMs = Some(horizon))),
      "dedupe_within_rocksdb" -> (() => rocks {
        drive(spark, dedupeTopo(within = true), dupFeed, n, "out", "append",
          watermarkMs = Some(horizon)) }),
    )
    val selected = scenarios.filter { case (name, _) => only.forall(_.contains(name)) }
    require(selected.nonEmpty,
      s"SPARK_GRAFT_SCALE_SCENARIO matched nothing; known: ${scenarios.map(_._1)}")
    val names = selected.map(_._1).toSet

    // Warm up EVERY selected (topology shape × provider) one-time cost
    // outside the timed windows: each distinct plan pays codegen/analysis
    // on its first-ever run, and the first RocksDB run additionally pays
    // native library + provider init. Warming only the fold topology (as
    // this main originally did) hands each *_hdfs scenario a cold plan
    // its rocksdb twin then skips, and hands fold_rocksdb the native
    // init — systematically skewing single-run provider comparisons.
    if (names("fold_hdfs") || names("fold_rocksdb"))
      drive(spark, foldTopo, warmFold, 2000, "tbl", "update", None)
    if (names("dedupe_hdfs") || names("dedupe_rocksdb"))
      drive(spark, dedupeTopo(within = false), warmDup, 2000, "out", "append", None)
    if (names("dedupe_within_hdfs") || names("dedupe_within_rocksdb"))
      drive(spark, dedupeTopo(within = true), warmDup, 2000, "out", "append",
        watermarkMs = Some(horizon))
    if (names.exists(_.endsWith("rocksdb")))
      rocks { drive(spark, foldTopo, warmFold, 2000, "tbl", "update", None) }

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Result]]
    var poisoned: Option[String] = None
    selected.foreach { case (name, run) =>
      out(name) = poisoned match {
        // a VM-level death (OOM) leaves this JVM in an arbitrary state —
        // executor threads and the provider cache may be half-alive, so a
        // number measured after it would be indistinguishable garbage in
        // the output JSON. Record the remaining scenarios as unmeasured
        // instead of measuring them in the wreckage (the boundary
        // protocol is one scenario per child JVM; this enforces it when
        // someone runs the full suite under a constrained heap anyway).
        case Some(killer) => Left(s"NOT RUN: JVM poisoned by " +
          s"VirtualMachineError in earlier scenario '$killer' - rerun " +
          "in a fresh JVM (SPARK_GRAFT_SCALE_SCENARIO)")
        case None =>
          try Right(run())
          catch {
            // an OOM/degradation-killed scenario IS the boundary datum
            // the constrained-heap runs exist to find — record it
            case e: Throwable =>
              // depth-bounded cause walk: Throwable only guards SELF-
              // cause, so a deserialized chain can cycle at length >= 2
              def vm(t: Throwable): Boolean =
                Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
                  .take(20).exists(_.isInstanceOf[VirtualMachineError])
              if (vm(e)) poisoned = Some(name)
              Left(s"${e.getClass.getName}: " +
                Option(e.getMessage).getOrElse("")
                  .replaceAll("[\"\\\\\\s]+", " ").take(300))
          }
      }
    }

    val scen = out.map {
      case (name, Right(r)) =>
        val custom = r.custom.toSeq.sortBy(_._1)
          .map { case (ck, cv) => s"\"$ck\":$cv" }.mkString("{", ",", "}")
        s""""$name":{"eps":${math.round(r.eps)},"state_rows":${r.stateRows},""" +
          s""""state_mem_bytes":${r.stateMemBytes},"custom":$custom}"""
      case (name, Left(err)) =>
        s""""$name":{"error":"$err"}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"state_scale","unit":"events_per_sec",""" +
      s""""scenarios":$scen,"n":$n,"keys":$k,"batches":$b,""" +
      s""""horizon_ms":$horizon,"max_heap_mb":${Runtime.getRuntime.maxMemory >> 20}}""")
    spark.stop()
  }
}
