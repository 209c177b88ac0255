package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.CacheScope

/** A batch workload: a fixed list of registered queries
  * (`SparkEntry.queries`), run as whole passes. */
final case class BatchWorkload(name: String, ids: Seq[String], iterative: Set[String]) {

  /** Registered query names, matched by their `qNN` id so a renamed
    * suffix does not drop a query silently. */
  def queryNames: Seq[String] = ids.map { id =>
    val hits = SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq
    require(hits.size == 1, s"query id $id matches ${hits.mkString(",")}")
    hits.head
  }
}

object BatchWorkload {

  /** Registered queries from both halves of the registry. Topology-DSL
    * queries compiled by `BatchCompiler`: an as-of join (q10), a session
    * window (q15) and an order-sensitive fold (q36). Curation operators,
    * including the two iterative ones: n-gram near-dup pairs into
    * connected components (q47), an int8 k-means fit behind a model memo
    * (q155), and per-row text-quality kernels (q29). */
  val Queries = BatchWorkload("batch_queries",
    Seq("q10", "q15", "q36", "q47", "q155", "q29"),
    iterative = Set("q47", "q155"))

  /** One query execution: plan building through the registry, then the
    * sink. */
  final case class Exec(query: String, buildS: Double, totalS: Double, ok: Boolean)

  /** One pass over every query. */
  final case class Pass(wallS: Double, cpuS: Double, execs: Seq[Exec],
      layers: Map[String, Double])
}

/** Runs passes of one batch workload against one session. */
final class BatchRunner(w: BatchWorkload, ctx: Ctx) {
  import BatchWorkload._

  val names: Seq[String] = w.queryNames

  private def spark: SparkSession = ctx.spark

  private def runOne(name: String, dir: String, sink: DataFrame => Unit): Exec = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var tb = t0
    val ok =
      try ctx.tracer.span("query") {
        sc.setLocalProperty(Probe.TagKey, s"$name/build")
        val df = ctx.tracer.span("entry.build") { SparkEntry.queries(name)(spark, dir) }
        tb = System.nanoTime()
        sc.setLocalProperty(Probe.TagKey, s"$name/exec")
        ctx.tracer.span("exec") { sink(df) }
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
      } finally sc.setLocalProperty(Probe.TagKey, null)
    val t1 = System.nanoTime()
    // a query's persist()s must not subsidize later queries' reads
    spark.sharedState.cacheManager.clearCache()
    Exec(name, (tb - t0) / 1e9, (t1 - t0) / 1e9, ok)
  }

  /** Untimed first pass on the small input: writes every result as
    * parquet under `outDir` with the oracle SQL beside it, for the
    * DuckDB comparison. */
  def warmup(dir: String, outDir: String): Seq[Exec] = {
    val execs = names.map { n =>
      runOne(n, dir, _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n"))
    }
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Main.json.writeValueAsString(oracle))
    execs
  }

  /** One timed pass with the noop sink, queries in `order`. Unless
    * `keepMemo`, fitted-model memos from earlier passes are dropped first,
    * so every pass pays for its own fits. */
  def pass(dir: String, order: Seq[String], keepMemo: Boolean = false): Pass = {
    if (!keepMemo) CacheScope.session.close()
    ctx.probe.foreach { p => p.drain(); p.resetPeak() }
    val before = ctx.probe.map(_.snapshot()).getOrElse(Map.empty)
    val tagsBefore = ctx.probe.map(_.jobsTagged).getOrElse(Map.empty)
    val jvm0 = (Jvm.jitS, Jvm.gcS)
    val cpu0 = Jvm.cpuS
    val t0 = System.nanoTime()
    val execs = ctx.tracer.span("pass") {
      order.map(n => runOne(n, dir, _.write.format("noop").mode("overwrite").save()))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.cpuS - cpu0
    val layers = ctx.probe match {
      case None => Map.empty[String, Double]
      case Some(p) =>
        p.drain()
        val d = Probe.delta(p.snapshot(), before)
        val tags = p.jobsTagged
        def jobs(pred: String => Boolean) =
          tags.collect { case (t, n) if pred(t) => n - tagsBefore.getOrElse(t, 0L) }.sum.toDouble
        d ++ Map(
          "entry.build_s" -> execs.map(_.buildS).sum,
          "entry.build_jobs" -> jobs(_.endsWith("/build")),
          "ops.iterative_jobs" -> jobs(t => w.iterative.exists(id => t.startsWith(id + "_"))),
          "spark.peak_exec_mem_bytes" -> p.peakExecMemBytes.toDouble,
          "spark.core_util" -> d.getOrElse("spark.executor_run_s", 0.0) / (wall * ctx.cores),
          "jvm.jit_s" -> (Jvm.jitS - jvm0._1),
          "jvm.gc_s" -> (Jvm.gcS - jvm0._2))
    }
    Pass(wall, cpu, execs, layers)
  }

  /** The pass order for pass `i` of a run: a seeded permutation. */
  def order(seed: Long, i: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + i).shuffle(names)

  def failures(execs: Seq[Exec]): Int = execs.count(!_.ok)

  /** Per query, its median latency over the passes, in ms. */
  def latencyMs(passes: Seq[Pass]): Seq[Double] =
    passes.flatMap(_.execs).groupBy(_.query).values.map(es => Stats.median(es.map(_.totalS * 1e3))).toSeq
}
