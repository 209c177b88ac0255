package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.SparkEntry
import graft.batch.BatchCompiler
import graft.dsl._
import graft.stream.StreamCompiler

/** One event of the feed: purchases update the per-user spend table,
  * every other event is a click. `tsMs` is the event time. */
final case class Ev(eventId: Long, user: String, buy: Boolean, cents: Long, tsMs: Long)

/** The open-loop load generator. It owns the arrival order: from the
  * seed it re-delivers some clicks a few positions later (same id, same
  * payload) and, when `shifts`, moves some events a few positions later
  * (out of order). After `ramp` arrivals (fed closed loop by the
  * caller) it paces the next `rate * pacedS` arrivals on a fixed
  * schedule in its own thread, never waiting on the engine: each is due
  * at `start + i / rate`. Every tick it hands over the arrivals due by
  * then and records how late it woke. */
final class Generator(events: IndexedSeq[Ev], seed: Long, rate: Double, ramp: Int,
    pacedS: Double, shifts: Boolean) {

  val arrivals: IndexedSeq[Ev] = {
    val r = new scala.util.Random(seed)
    val out = ArrayBuffer.from(events)
    // re-deliveries: 2% of clicks are sent again 1-5 positions later
    val redeliver = events.indices.filter(i => !events(i).buy && r.nextDouble() < 0.02)
    redeliver.reverse.foreach { i =>
      out.insert(math.min(out.size, i + 1 + r.nextInt(5)), events(i))
    }
    // small out-of-order shifts: 2% of arrivals move 1-5 positions later
    if (shifts) out.indices.foreach { i =>
      if (r.nextDouble() < 0.02) {
        val j = math.min(out.size - 1, i + 1 + r.nextInt(5))
        val e = out.remove(i)
        out.insert(j, e)
      }
    }
    out.toIndexedSeq
  }

  val paced: Int = math.round(rate * pacedS).toInt
  require(ramp + paced <= arrivals.size,
    s"feed of ${arrivals.size} arrivals is shorter than $ramp + $paced")

  def rampArrivals: IndexedSeq[Ev] = arrivals.take(ramp)
  /** Paced arrival i. */
  def pacedArrival(i: Int): Ev = arrivals(ramp + i)

  /** Due time (nanoTime) of paced arrival i, once [[start]] ran. */
  val dueNs: Array[Long] = new Array[Long](paced)
  val lateMs: ArrayBuffer[Double] = ArrayBuffer.empty
  /** Arrivals handed over but not yet processed, at every tick. */
  val queued: ArrayBuffer[Long] = ArrayBuffer.empty

  def maxBacklog: Long = if (queued.isEmpty) 0L else queued.max

  /** The backlog's peak over the first quarter of the paced phase and
    * its trough over the last quarter. */
  def backlogEnds: (Long, Long) = {
    val q = math.max(1, queued.size / 4)
    if (queued.isEmpty) (0L, 0L) else (queued.take(q).max, queued.takeRight(q).min)
  }

  /** The backlog built up during the paced phase. Every micro-batch takes
    * all that has arrived, so an engine that keeps up drains, after each
    * batch, to about the arrivals of one batch time (`batchS`, the
    * phase's median); a trough over the last quarter above the arrivals
    * of three batch times is a queue, not the sawtooth. Measuring against
    * the run's own batch time keeps a host that slows every batch alike
    * from reading as a queue. */
  def backlogGrew(batchS: Double): Boolean = backlogEnds._2 > 3 * rate * batchS

  /** Start pacing on a new thread; `add` hands a group of arrivals to
    * the sources, `processed` reports how many the engine has taken. */
  def start(add: Seq[Ev] => Unit, processed: () => Long): Thread = {
    val t0 = System.nanoTime() + 20L * 1000 * 1000
    var i = 0
    while (i < paced) { dueNs(i) = t0 + (i * 1e9 / rate).toLong; i += 1 }
    val th = new Thread(() => {
      var next = 0
      var tick = t0
      while (next < paced) {
        val wait = tick - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        val now = System.nanoTime()
        var end = next
        while (end < paced && dueNs(end) <= now) end += 1
        if (end > next) add(arrivals.slice(ramp + next, ramp + end))
        lateMs += (now - tick) / 1e6
        queued += ramp + end - processed()
        next = end
        tick += TickNs
      }
    }, "perfbench-generator")
    th.setDaemon(true)
    th.start()
    th
  }

  /** Hand-over period. Each hand-over is one MemoryStream block, and a
    * micro-batch unions every block it reads, so per-event hand-over
    * would make the source, not the engine, the bottleneck. Latency is
    * still measured from each event's own due time. */
  private val TickNs = 50L * 1000 * 1000
}

/** The stream workload: sf events replayed in ts order into ONE topology
  * compiled by `StreamCompiler`: a dedupe-within fragment on event_id, a
  * running FoldAgg spend table per user (chain state), a live
  * stream-table left join, and a session-window fold. Its two sinks run
  * as two queries over the same sources. */
object StreamWorkload {

  val WatermarkMs: Long = 3600L * 1000
  val SessionGapMs: Long = 6L * 3600 * 1000
  /** Paced arrival rate, events/s: at most a sixth of the drain capacity
    * the seed code measured (1,510-2,010 events/s in 2,000-event rounds
    * on a 4-vCPU box at local[2]; see README), so latency is micro-batch
    * time, not queueing. A run whose paced backlog builds up fails its
    * check. */
  val Rate = 250.0
  /** Arrivals fed closed loop, in chunks of `RampChunk`, to the fresh
    * queries before the timed phases, so these time neither their first
    * micro-batches nor the JIT compiling their hot paths. Every
    * micro-batch generates new code (the watermark is a literal in it),
    * so the JIT is busy throughout, and a first region timed after a
    * 3,000-event ramp ran 20-40% slower, and spread three times as much
    * between runs, as one timed ~50 s later in the same JVM. Later
    * regions in a JVM (traced, local[1]) need only `RampWarm`. */
  val Ramp = 10000
  val RampWarm = 3000
  val RampChunk = 500
  /** Arrivals per closed-loop chunk in the warm-up. */
  val WarmChunk = 2000
  /** Share of `--seconds` paced; the drain rounds take about the rest. */
  val PacedShare = 0.5
  /** Events per closed-loop drain round, and rounds per run. */
  val DrainRound = 2000
  val DrainRounds = 4

  def topology: Topology = {
    val (dEdges, dEnts) = Fragments.dedupeWithin("clicks", "c", col("value"))
    Topology(
      workflow = dEdges ++ Seq(
        "events" -> "clicks", "events" -> "buys", "buys" -> "spend",
        "c" -> "enriched", "spend" -> "enriched", "enriched" -> "out",
        "c" -> "sess", "sess" -> "sessions"),
      entities = dEnts ++ Map(
        "events" -> Entity.Topic("events"),
        "clicks" -> Entity.KStream(Some(Xform.Filter(!col("value.buy"))
          .andThen(Xform.MapValue(col("value.event_id"))))),
        "buys" -> Entity.KStream(Some(Xform.Filter(col("value.buy"))
          .andThen(Xform.MapValue(col("value.cents"))))),
        "c" -> Entity.KStream(),
        "spend" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0L), (acc, v) => acc + v))),
        "enriched" -> Entity.KStream(),
        "out" -> Entity.Topic("out"),
        "sess" -> Entity.KTable(
          window = Some(WindowSpec.SessionWindows(SessionGapMs)),
          aggregate = Some(AggSpec.FoldAgg(lit(0L), (acc, _) => acc + 1L))),
        "sessions" -> Entity.Topic("sessions")),
      joins = Map(Seq("c", "spend") -> JoinConfig(JoinType.Left)))
  }

  /** Events of one data set, in ts order, read through the registry's
    * events normalization. */
  def events(spark: SparkSession, dir: String, tracer: Tracer): IndexedSeq[Ev] =
    tracer.span("entry.build") { SparkEntry.eventsDf(spark, dir) }
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long"), unix_millis(col("ts")))
      .orderBy(col("ts"), col("event_id"))
      .collect().toIndexedSeq
      .map(r => Ev(r.getLong(0), "u" + r.getLong(1), r.getString(2) == "purchase",
        r.getLong(3), r.getLong(4)))

  private type In = (String, Long, Long, Boolean, Long)

  private def in(e: Ev): In = (e.user, e.eventId, e.cents, e.buy, e.tsMs)

  /** Record shape of the events topic: key = user, value = (event_id,
    * cents, buy), ts = event time. */
  private def records(df: DataFrame): DataFrame =
    df.toDF("key", "event_id", "cents", "buy", "__ms").select(col("key"),
      struct(col("event_id"), col("cents"), col("buy")).as("value"),
      timestamp_millis(col("__ms")).as("ts"))

  /** Two live queries, one per sink, each over its own MemoryStream of
    * events (a MemoryStream drops what one reader commits, so readers
    * cannot share one). One source per query keeps every micro-batch a
    * prefix of the arrival order across event types. The sinks record
    * what each micro-batch emitted and when it was written. */
  final class Live(spark: SparkSession, ckpt: String, keepRows: Boolean) {
    implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val sources = Seq.fill(2)(MemoryStream[In])
    private def compiled(i: Int) = StreamCompiler.run(topology,
      Map("events" -> records(sources(i).toDF())), watermarkMs = Some(WatermarkMs))

    /** (event id, sink write time) of every enriched click emitted. */
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val outRows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val sessRows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Row)]()
    val batchSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    @volatile var error: Option[Throwable] = None

    /** The phase later [[add]]s belong to (warmup, ramp, paced, drain). */
    @volatile var phase: String = "warmup"

    /** Events handed over up to and including each source block, and the
      * phase of each block; a MemoryStream offset is the index of its
      * last block. */
    private val blockEnds = ArrayBuffer.empty[Long]
    private val blockPhase = ArrayBuffer.empty[String]
    private val committed = new AtomicLong()
    private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

    /** Every progress report of both queries, with the phase of the last
      * block its micro-batch read. Kept here rather than taken from
      * `recentProgress`, which holds only the last hundred. */
    private val reports = new java.util.concurrent.ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (ids.contains(p.id)) {
          val block = p.sources.headOption.flatMap(src => Option(src.endOffset))
            .flatMap(_.trim.toLongOption).filter(_ >= 0).map(_.toInt)
          val (n, ph) = block.map(b => blockEnds.synchronized((blockEnds(b), blockPhase(b))))
            .getOrElse((0L, phase))
          reports.add((ph, p))
          if (p.id == outQ.id) committed.accumulateAndGet(n, (a: Long, b: Long) => math.max(a, b))
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(m => error = Some(new RuntimeException(m)))
    }
    spark.streams.addListener(listener)

    private val mode = StreamCompiler.modeFor(topology)

    val outQ: StreamingQuery = compiled(0)("out").writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$ckpt/out")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        val rows = df.select(col("key"), col("value.v1").as("v1"), col("value.v2").as("v2"))
          .collect()
        val t1 = System.nanoTime()
        rows.foreach(r => emitted.add((r.getLong(1), t1)))
        if (keepRows) rows.foreach(outRows.add)
        batchSpans.add(("sink.out", t0, t1))
        ()
      }.start()
    ids.add(outQ.id)

    // the windowed table itself: its sink topic carries no window columns
    val sessQ: StreamingQuery = compiled(1)("sess").writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$ckpt/sessions")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        val rows = df.select(col("key"), col("value"), col("window_start"), col("window_end"))
          .collect()
        if (keepRows) rows.foreach(r => sessRows.add((id, r)))
        batchSpans.add(("sink.sessions", t0, System.nanoTime()))
        ()
      }.start()
    ids.add(sessQ.id)

    def add(evs: Seq[Ev]): Unit = {
      val rows = evs.map(in)
      blockEnds.synchronized {
        blockEnds += blockEnds.lastOption.getOrElse(0L) + rows.size
        blockPhase += phase
        sources.foreach(_.addData(rows))
      }
    }

    /** Events the enrichment query has committed. */
    def processed: Long = committed.get

    def drain(): Unit = { outQ.processAllAvailable(); sessQ.processAllAvailable() }

    /** Stop both queries once the listener has seen their last report. */
    def stop(): Unit = {
      val last = Seq(outQ, sessQ).flatMap(q => Option(q.lastProgress).map(p => (q.id, p.batchId)))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def seen = reports.asScala.map { case (_, p) => (p.id, p.batchId) }.toSet
      while (!last.forall(seen) && System.nanoTime() < deadline) Thread.sleep(5)
      outQ.stop(); sessQ.stop()
      spark.streams.removeListener(listener)
    }

    /** Progress reports of the micro-batches that read data, of the given
      * phases (all phases when none is given). */
    def batches(phases: String*): Seq[StreamingQueryProgress] = reports.asScala.toSeq.collect {
      case (ph, p) if p.numInputRows > 0 && (phases.isEmpty || phases.contains(ph)) => p
    }

    /** Every progress report of the given phases, empty triggers included. */
    def reportsOf(phases: String*): Seq[StreamingQueryProgress] =
      reports.asScala.toSeq.collect { case (ph, p) if phases.contains(ph) => p }
  }

  /** The phases a timed region measures. */
  val TimedPhases: Seq[String] = Seq("paced", "drain")

  /** Final state of the sessions sink: the last emission per (key,
    * window start), dropped when it is a tombstone. */
  private def sessionFinals(rows: Seq[(Long, Row)]): Seq[(String, Long, Long, Long)] =
    rows.zipWithIndex.groupBy { case ((_, r), _) =>
      (r.getString(0), r.getTimestamp(2).getTime)
    }.toSeq.flatMap { case ((k, ws), es) =>
      val ((_, last), _) = es.maxBy { case ((b, r), i) =>
        (r.getTimestamp(3).getTime, if (r.isNullAt(1)) 1 else 0, b, i) }
      if (last.isNullAt(1)) None
      else Some((k, last.getLong(1), ws, last.getTimestamp(3).getTime))
    }.sorted

  /** Congruity of the live run with the batch interpretation of the same
    * topology over the same arrivals (willa's experiment congruity check):
    * the enriched-click rows and the final session state must be equal.
    * Returns the number of mismatching sinks. */
  private def congruity(spark: SparkSession, live: Live, feed: Seq[Ev]): Int = {
    import spark.implicits._
    val ref = BatchCompiler.run(topology, Map("events" -> records(feed.map(in).toDF())))
    val outRef = ref("out").select(col("key"), col("value.v1"), col("value.v2")).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.toString))).toSeq.sorted
    val outLive = live.outRows.asScala.toSeq
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.toString))).sorted
    val sessRef = ref("sess").select(col("key"), col("value"), col("window_start"),
      col("window_end")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime)).toSeq.sorted
    val sessLive = sessionFinals(live.sessRows.asScala.toSeq)
    def diff[A](sink: String, live: Seq[A], ref: Seq[A]): Int =
      if (live == ref && ref.nonEmpty) 0
      else {
        System.err.println(s"[perfbench] stream/batch congruity failed on sink $sink: " +
          s"${live.size} live rows, ${ref.size} batch rows; live only: " +
          live.diff(ref).take(3).mkString(", ") + "; batch only: " +
          ref.diff(live).take(3).mkString(", "))
        1
      }
    diff("out", outLive, outRef) + diff("sessions", sessLive, sessRef)
  }

  private var ckptN = 0
  private def ckptDir(ctx: Ctx): String = { ckptN += 1; s"${ctx.args.work}/ckpt-$ckptN" }

  /** Time `Topology.validated()`, `BatchCompiler.run` and
    * `StreamCompiler.run` on the stream topology (plan building only,
    * nothing executes); medians of five, in ms. */
  def compileProbe(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val static = records(Seq(("u0", 0L, 1L, true, 0L)).toDF())
    def ms(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
    val runs = (0 until 5).map { _ =>
      val live = records(MemoryStream[In].toDF())
      (ms(topology.validated()),
        ms(BatchCompiler.run(topology, Map("events" -> static))),
        ms(StreamCompiler.run(topology, Map("events" -> live), watermarkMs = Some(WatermarkMs))))
    }
    Map("dsl.validate_ms" -> Stats.median(runs.map(_._1)),
      "batch.compile_ms" -> Stats.median(runs.map(_._2)),
      "stream.compile_ms" -> Stats.median(runs.map(_._3)))
  }

  /** One timed stream phase pair (closed-loop drain rounds, then the
    * paced open loop) on a fresh pair of queries, after a closed-loop
    * ramp of `ramp` arrivals. The paced phase goes last, as it is the
    * more sensitive to JIT warm-up. */
  final case class Timed(latMs: Seq[Double], drainRoundS: Seq[Double], cpuS: Double,
      wallS: Double, gen: Generator, live: Live, failed: Int, lostOrDup: Int)

  private def timed(ctx: Ctx, evs: IndexedSeq[Ev], pacedS: Double, ramp: Int): Timed = {
    val spark = ctx.spark
    // the generator's closed-loop prefix is the ramp, then the drain rounds
    val gen = new Generator(evs, ctx.args.seed, Rate, ramp + DrainRound * DrainRounds,
      pacedS, shifts = true)
    val live = new Live(spark, ckptDir(ctx), keepRows = false)
    var failed = 0
    val rounds = ArrayBuffer.empty[Double]
    var cpu0 = Jvm.cpuS
    var t0 = System.nanoTime()
    try {
      live.phase = "ramp"
      ctx.tracer.span("stream.ramp") {
        gen.rampArrivals.take(ramp).grouped(RampChunk).foreach { c => live.add(c); live.drain() }
      }
      live.phase = "drain"
      cpu0 = Jvm.cpuS
      t0 = System.nanoTime()
      ctx.tracer.span("stream.drain") {
        gen.rampArrivals.drop(ramp).grouped(DrainRound).foreach { chunk =>
          val r0 = System.nanoTime()
          live.add(chunk)
          live.drain()
          rounds += (System.nanoTime() - r0) / 1e9
        }
      }
      live.phase = "paced"
      ctx.tracer.span("stream.paced") {
        gen.start(live.add, () => live.processed).join()
        live.drain()
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] stream query failed: ${e.getMessage}")
        failed += 1
    } finally live.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.cpuS - cpu0
    live.batchSpans.asScala.foreach { case (n, a, b) => ctx.tracer.record(n, a, b) }
    // every distinct click must come out of the join exactly once
    val fed = (gen.rampArrivals ++ (0 until gen.paced).map(gen.pacedArrival)).filterNot(_.buy)
      .map(_.eventId).distinct.sorted
    val got = live.emitted.asScala.toSeq.map(_._1).sorted
    val lostOrDup = if (got == fed) 0 else 1
    if (lostOrDup > 0) System.err.println(
      s"[perfbench] enriched clicks: ${got.size} emitted, ${fed.size} distinct fed")
    // latency: due time of an event's first paced delivery to the write
    // of the sink batch that emitted it
    val due = mutable.HashMap.empty[Long, Long]
    val early = gen.rampArrivals.map(_.eventId).toSet
    (0 until gen.paced).foreach { i =>
      val e = gen.pacedArrival(i)
      if (!e.buy && !early(e.eventId) && !due.contains(e.eventId)) due(e.eventId) = gen.dueNs(i)
    }
    val lat = live.emitted.asScala.toSeq.collect {
      case (id, t) if due.contains(id) => (t - due(id)) / 1e6
    }
    val pacedBatch = dur(live.batches("paced"), "triggerExecution")
    val batchS = if (pacedBatch.isEmpty) 0.0 else Stats.median(pacedBatch) / 1e3
    val grew = gen.backlogGrew(batchS)
    if (grew) System.err.println("[perfbench] paced backlog built up: (first-quarter peak, " +
      s"last-quarter trough) = ${gen.backlogEnds}, batch p50 $batchS s")
    Timed(lat, rounds.toSeq, cpu, wall, gen, live, failed + live.error.size,
      lostOrDup + (if (grew) 1 else 0))
  }

  private def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))

  /** Per-layer stream numbers over the timed phases (paced and drain). */
  private def layers(t: Timed): Map[String, Double] = {
    val ps = t.live.reportsOf(TimedPhases: _*)
    val lastOut = t.live.outQ.recentProgress.lastOption
    val lastSess = t.live.sessQ.recentProgress.lastOption
    val ops = (lastOut.toSeq ++ lastSess.toSeq).flatMap(_.stateOperators)
    Map(
      "stream.batches" -> t.live.batches(TimedPhases: _*).size.toDouble,
      "stream.state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
      "stream.state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
      "stream.rows_dropped_late" -> ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
      "stream.backlog_max_events" -> t.gen.maxBacklog.toDouble,
      "stream.busy_ratio" -> dur(ps, "triggerExecution").sum / 1e3 / (2 * t.wallS))
  }

  /** Medians per micro-batch over the timed phases, and the generator's
    * own figures. */
  private def streamTimes(t: Timed): Map[String, Double] = {
    val ps = t.live.batches(TimedPhases: _*)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val (firstPeak, lastTrough) = t.gen.backlogEnds
    Map(
      "stream.batch_p50_ms" -> med(dur(ps, "triggerExecution")),
      "stream.add_batch_ms" -> med(dur(ps, "addBatch")),
      "stream.query_planning_ms" -> med(dur(ps, "queryPlanning")),
      "stream.wal_commit_ms" -> med(dur(ps, "walCommit")),
      "stream.state_commit_ms" -> med(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "stream.generator_late_ms" -> (if (t.gen.lateMs.isEmpty) 0.0 else t.gen.lateMs.max),
      "stream.generator_late_p50_ms" -> med(t.gen.lateMs.toSeq),
      "stream.backlog_first_quarter_peak" -> firstPeak.toDouble,
      "stream.backlog_last_quarter_trough" -> lastTrough.toDouble,
      "stream.drain_eps" -> DrainRound / Stats.median(t.drainRoundS))
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val a = ctx.args
    val ready = Main.setup(ctx, Seq("events"))
    val spark = ctx.spark
    // warm-up and congruity: the small feed, in ts order with re-deliveries,
    // fed closed loop in chunks so state crosses micro-batches
    val tw = System.nanoTime()
    val (warmFailed, warmBatches) = ctx.tracer.span("warmup") {
      val small = events(spark, a.small, ctx.tracer)
      val feed = new Generator(small, a.seed, Rate, 0, 0.0, shifts = false).arrivals
      val live = new Live(spark, ckptDir(ctx), keepRows = true)
      var failed = 0
      try feed.grouped(WarmChunk).foreach { c => live.add(c); live.drain() }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up stream failed: ${e.getMessage}"); failed += 1 }
      finally live.stop()
      val n = live.batches().size
      (failed + live.error.size + congruity(spark, live, feed), n)
    }
    val warmupS = (System.nanoTime() - tw) / 1e9
    val large = events(spark, a.large, ctx.tracer)
    val pacedS = a.seconds * PacedShare

    val probe = ctx.probe
    ctx.probe = None
    ctx.tracer.on = false
    val t = timed(ctx, large, pacedS, Ramp)
    ctx.tracer.on = ctx.tracer.enabled
    ctx.probe = probe
    val (tail, pct) = Stats.tail(t.latMs)
    val e2e = Map(
      "warmup_s" -> Main.metric(warmupS, "s"),
      "wall_s" -> Main.metric(Stats.median(t.drainRoundS), "s"),
      "cpu_s" -> Main.metric(t.cpuS, "s"),
      "latency_p50_ms" -> Main.metric(Stats.median(t.latMs), "ms"))
    val report = mutable.LinkedHashMap[String, Any](
      "latency_tail_ms" -> tail, "latency_tail_percentile" -> pct,
      "latency_samples" -> t.latMs.size,
      "paced_s" -> pacedS, "rate_eps" -> Rate, "paced_events" -> t.gen.paced,
      "drain_round_events" -> DrainRound, "drain_rounds_s" -> t.drainRoundS,
      "paced_batch_ms" -> dur(t.live.batches("paced"), "triggerExecution")) ++
      streamTimes(t)
    // micro-batches, plus one congruity or delivery-and-backlog check per feed
    var attempted = warmBatches + 1 + t.live.batches().size + 1
    var failed = warmFailed + t.failed + t.lostOrDup
    var metrics: Map[String, Any] = e2e
    if (a.trace) {
      val probe = ctx.probe.get
      probe.drain()
      val before = probe.snapshot()
      val jvm0 = (Jvm.jitS, Jvm.gcS)
      probe.resetPeak()
      val tt = ctx.tracer.span("timed") { timed(ctx, large, pacedS, RampWarm) }
      probe.drain()
      val d = Probe.delta(probe.snapshot(), before)
      val compile = compileProbe(ctx)
      val lay = d ++ layers(tt) ++ compile ++ Map(
        // the registry calls that normalize the warm-up and timed feeds
        "entry.build_s" -> ctx.tracer.spans.filter(_.name == "entry.build").map(_.durNs).sum / 1e9,
        "entry.build_jobs" -> 0.0,
        "spark.peak_exec_mem_bytes" -> probe.peakExecMemBytes.toDouble,
        "spark.core_util" -> d.getOrElse("spark.executor_run_s", 0.0) / (tt.wallS * ctx.cores),
        "jvm.jit_s" -> (Jvm.jitS - jvm0._1),
        "jvm.gc_s" -> (Jvm.gcS - jvm0._2))
      // single-threaded baseline: the same phases on a fresh local[1] session
      ctx.newSession(1)
      val single = timed(ctx, large, pacedS, RampWarm)
      attempted += tt.live.batches().size + 1 + single.live.batches().size + 1
      failed += tt.failed + tt.lostOrDup + single.failed + single.lostOrDup
      metrics = Main.perLayer(lay, Jvm.peakRssMb)
      val (stail, spct) = Stats.tail(tt.latMs)
      report ++= Map(
        "end_to_end" -> e2e,
        "stream_times_traced" -> streamTimes(tt),
        "tracing_overhead_s" -> (Stats.median(tt.drainRoundS) - Stats.median(t.drainRoundS)),
        "latency_traced_p50_ms" -> Stats.median(tt.latMs),
        "latency_traced_tail_ms" -> stail, "latency_traced_tail_pct" -> spct,
        "local1_drain_round_s" -> Stats.median(single.drainRoundS),
        "local1_latency_p50_ms" -> Stats.median(single.latMs),
        "local1_cpu_s" -> single.cpuS,
        "local1_speedup" -> Stats.median(single.drainRoundS) / Stats.median(t.drainRoundS),
        "per_batch" -> tt.live.batches(TimedPhases: _*).map(p => Map(
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0),
          "add_batch_ms" -> Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0))),
        "spans" -> Main.spanSummary(ctx.tracer))
      Main.writeTrace(ctx, report)
    }
    Main.result("stream_events", attempted, failed, metrics, report, ready)
  }
}
