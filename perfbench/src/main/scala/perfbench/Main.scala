package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line arguments, as passed by `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    small: String, large: String, work: String, out: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("small"), need("large"), need("work"), need("out"),
      need("cores").toInt)
  }
}

/** The run's session, tracer and (on traced runs) probe. */
final class Ctx(val args: Args, val tracer: Tracer) {
  var cores: Int = args.cores
  var spark: SparkSession = _
  var probe: Option[Probe] = None

  /** Stop the current session (if any) and start a fresh one at
    * `local[cores]`, with shuffle partitions = cores. */
  def newSession(c: Int): SparkSession = {
    if (spark != null) spark.stop()
    cores = c
    val tmp = s"${args.work}/spark"
    spark = SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    probe = if (tracer.enabled) Some(Probe.attach(spark)) else None
    spark
  }
}

object Main {

  /** One timed batch pass per this many seconds of `--seconds` (at
    * least 2): the pass count depends on the run length only, so every
    * run on every commit measures the same work. */
  private val PassSeconds = 5.0

  /** Untimed passes on the large input before the timed ones. */
  private val SettlePasses = 2

  /** Writes every number with the JDK's own formatting, which does not
    * depend on the default locale. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val runId = f"${args.workload}-${args.seed}-${System.currentTimeMillis()}%x"
    val ctx = new Ctx(args, new Tracer(runId, args.trace))
    val result =
      try run(ctx)
      finally if (ctx.spark != null) ctx.spark.stop()
    Files.writeString(Paths.get(args.out), json.writeValueAsString(result))
  }

  /** Session set-up: a session at `local[cores]` that has read the
    * schema of the workload's input tables, so it is ready to plan.
    * Returns the wall-clock time (epoch seconds) it became ready;
    * `run.py` takes set-up time from the process start to that. */
  def setup(ctx: Ctx, tables: Seq[String]): Double = {
    ctx.tracer.span("setup") {
      val s = ctx.newSession(ctx.args.cores)
      tables.foreach(t => s.read.parquet(s"${ctx.args.large}/$t.parquet").schema)
    }
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }


  def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

  def run(ctx: Ctx): Map[String, Any] = ctx.args.workload match {
    case "batch_queries" => runBatch(ctx, BatchWorkload.Queries)
    case "stream_events" => StreamWorkload.run(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val BatchTables = Seq("lineitem", "orders", "part", "customer", "supplier",
    "nation", "region", "events", "documents", "embeddings")

  def runBatch(ctx: Ctx, w: BatchWorkload): Map[String, Any] = {
    val a = ctx.args
    val ready = setup(ctx, BatchTables)
    val r = new BatchRunner(w, ctx)
    val verifyDir = s"${a.work}/verify"
    val tw = System.nanoTime()
    val warm = ctx.tracer.span("warmup") { r.warmup(a.small, verifyDir) }
    val warmupS = (System.nanoTime() - tw) / 1e9
    val nPasses = math.max(2, math.round(a.seconds / PassSeconds).toInt)
    // untimed passes on the large input first: the small warm-up leaves
    // the JIT far from steady state at the large size (the first passes on
    // it run 20-30% slower, and use 30-40% more CPU, than later ones)
    val settle = ctx.tracer.span("settle") {
      (1 to SettlePasses).flatMap(i => r.pass(a.large, r.order(a.seed, -i)).execs)
    }

    // untraced passes give the end-to-end numbers; a traced run needs
    // only one, as the base of the tracing overhead
    val probe = ctx.probe
    ctx.probe = None
    ctx.tracer.on = false
    val untraced = (0 until (if (a.trace) 1 else nPasses))
      .map(i => r.pass(a.large, r.order(a.seed, i)))
    ctx.tracer.on = ctx.tracer.enabled
    ctx.probe = probe
    val e2e = batchE2e(warmupS, untraced, r)
    val report = mutable.LinkedHashMap[String, Any](
      "passes" -> nPasses,
      "pass_wall_s" -> untraced.map(_.wallS),
      "pass_cpu_s" -> untraced.map(_.cpuS),
      // per pass, (query, seconds) in the order the pass ran them
      "pass_query_s" -> untraced.map(_.execs.map(e => Seq(e.query, e.totalS))),
      "queries" -> r.names.size,
      "warmup_query_s" -> warm.map(e => e.query -> e.totalS).toMap,
      "timed_query_s" -> untraced.flatMap(_.execs).groupBy(_.query)
        .map { case (q, es) => q -> Stats.median(es.map(_.totalS)) })
    var attempted = warm.size + settle.size + untraced.map(_.execs.size).sum
    var failed = r.failures(warm) + r.failures(settle) +
      untraced.map(p => r.failures(p.execs)).sum
    var metrics: Map[String, Any] = e2e

    if (a.trace) {
      val traced = r.pass(a.large, r.order(a.seed, nPasses))
      // the same JVM runs one more pass WITHOUT dropping the model memos
      // the traced pass fitted: the per-query difference is what a memo
      // shared across queries and passes saves
      val memo = r.pass(a.large, traced.execs.map(_.query), keepMemo = true)
      val layers = traced.layers ++ StreamWorkload.compileProbe(ctx)
      // single-threaded baseline: a fresh local[1] session, one pass
      ctx.newSession(1)
      val single = r.pass(a.large, r.order(a.seed, nPasses + 1))
      attempted += traced.execs.size + memo.execs.size + single.execs.size
      failed += r.failures(traced.execs) + r.failures(memo.execs) + r.failures(single.execs)
      metrics = perLayer(layers, peakRss = Jvm.peakRssMb)
      report ++= Map(
        "end_to_end" -> e2e,
        "tracing_overhead_s" -> (traced.wallS - untraced.head.wallS),
        "wall_traced_s" -> traced.wallS,
        "local1_wall_s" -> single.wallS,
        "local1_cpu_s" -> single.cpuS,
        "local1_speedup" -> single.wallS / e2e("wall_s")("value").asInstanceOf[Double],
        "memo_subsidy_s" -> memo.execs.zip(traced.execs).map { case (m, f) =>
          m.query -> (m.totalS - f.totalS) }.toMap,
        "per_query_s" -> traced.execs.map(e => e.query -> e.totalS).toMap,
        "per_query_build_s" -> traced.execs.map(e => e.query -> e.buildS).toMap,
        "spans" -> spanSummary(ctx.tracer))
      writeTrace(ctx, report)
    }
    result(w.name, attempted, failed, metrics, report, ready,
      Map("kind" -> "oracle", "dir" -> verifyDir, "small" -> a.small))
  }

  private def batchE2e(warmupS: Double, passes: Seq[BatchWorkload.Pass],
      r: BatchRunner): Map[String, Map[String, Any]] = {
    val lat = r.latencyMs(passes)
    Map(
      "warmup_s" -> metric(warmupS, "s"),
      "wall_s" -> metric(Stats.median(passes.map(_.wallS)), "s"),
      "cpu_s" -> metric(Stats.median(passes.map(_.cpuS)), "s"),
      "latency_p50_ms" -> metric(Stats.median(lat), "ms"))
  }

  /** What the JVM hands back to `run.py`: counts, never lists, and the
    * time its session became ready. */
  def result(workload: String, attempted: Int, failed: Int, metrics: Map[String, Any],
      report: scala.collection.Map[String, Any], readyEpochS: Double,
      check: Map[String, Any] = Map.empty): Map[String, Any] =
    Map("workload" -> workload, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "report" -> report, "ready_epoch_s" -> readyEpochS,
      "check" -> check)

  /** Units of the per-layer metrics; every one is reported on every
    * workload (0 where the workload does not exercise the layer). */
  val LayerUnits: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count",
    "dsl.validate_ms" -> "ms", "batch.compile_ms" -> "ms", "stream.compile_ms" -> "ms",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_delay_s" -> "s", "ops.iterative_jobs" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.core_util" -> "ratio", "spark.input_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.broadcast_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "stream.batches" -> "count", "stream.state_rows" -> "count",
    "stream.state_mem_bytes" -> "bytes", "stream.rows_dropped_late" -> "count",
    "stream.backlog_max_events" -> "count", "stream.busy_ratio" -> "ratio",
    "jvm.jit_s" -> "s", "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB")

  def perLayer(layers: Map[String, Double], peakRss: Double): Map[String, Map[String, Any]] =
    LayerUnits.map { case (k, u) =>
      val v = if (k == "jvm.peak_rss_mb") peakRss else layers.getOrElse(k, 0.0)
      k -> metric(v, u)
    }.toMap

  def spanSummary(t: Tracer): Map[String, Map[String, Any]] =
    Tracer.summary(t.spans).map { case (n, (c, tot, self)) =>
      n -> Map("count" -> c, "total_ms" -> tot, "self_ms" -> self)
    }

  /** Write the spans and the per-layer report of a traced run. */
  def writeTrace(ctx: Ctx, report: mutable.Map[String, Any]): Unit = {
    val path = s"${ctx.args.work}/trace.json"
    val spans = ctx.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Files.writeString(Paths.get(path), json.writeValueAsString(Map(
      "run_id" -> ctx.tracer.runId, "report" -> report, "spans" -> spans)))
    report("trace_file") = path
  }
}
