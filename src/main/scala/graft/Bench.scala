package graft
import java.util.Locale
object Bench {
  /** The compact line's length cap: a 2000-char stdout tail minus sbt's
    * trailing [success] line. */
  val CompactBudget = 1450
  /** Failed names the compact line lists; `failed_total` counts them all. */
  val CompactFailed = 5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)
    // untimed warmup: absorbs one-time session costs (codegen compiler,
    // parquet committer, shuffle service init) so per-query numbers
    // measure the queries, not JVM warmup
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    // The shared box injects multi-second noise into single observations
    // (three rounds of driver runs swung 126-317 s on an unchanged
    // binary; a trivial one-shuffle aggregate has been observed at 18 s
    // under contention vs 0.8 s steady). Run the whole suite `reps`
    // times and grade each query by its MINIMUM — the observation least
    // polluted by external load — reporting every rep's raw total
    // alongside so the number stays self-describing.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // iteration aid: time a subset without paying for the whole suite
    // (the driver never sets this — full-suite totals stay comparable)
    val names = SparkEntry.selectQueries(SparkEntry.queries.keys,
      sys.env.get("SPARK_GRAFT_BENCH_ONLY"), "SPARK_GRAFT_BENCH_ONLY")
    val runs: Seq[Map[String, (Double, Boolean)]] = (1 to reps).map { _ =>
      names.map { name =>
        val t0 = System.nanoTime()
        // noop sink: full execution of every operator without result
        // materialization, and no Catalyst pruning-under-count shortcuts
        // (a bare .count() lets the optimizer drop unreferenced projections).
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        // a query's persist()s must not subsidize later queries' reads
        spark.sharedState.cacheManager.clearCache()
        name -> ((System.nanoTime() - t0) / 1e9, ok)
      }.toMap
    }
    val best = names.map(n => n -> runs.map(_(n)._1).min)
    val failed = names.filter(n => runs.exists(!_(n)._2))
    val repTotals = runs.map(_.values.map(_._1).sum)
    val fullFile = s"BENCH_FULL_c$cpus.json"
    val (fullLine, compactLine) =
      lines(best, failed, reps, repTotals, sfDir, fullFile)
    println(fullLine)
    java.nio.file.Files.write(java.nio.file.Paths.get(fullFile),
      (fullLine + "\n").getBytes("UTF-8"))
    spark.stop() // before the compact line, so no engine logging trails it
    println(compactLine)
  }

  /** The bench's (full, compact) JSON lines from per-query minimum
    * seconds (`best`, in run order), the names of queries that failed in
    * any rep, and each rep's raw total. Every number is written in
    * `Locale.ROOT`, so the lines parse whatever the JVM's locale.
    *
    * The full line keeps every query at full precision and the whole
    * `failed` list: "failed" makes a crash self-describing, since a
    * failed query's elapsed is meaningless and a non-empty list
    * invalidates the total for grading. At 178 queries it runs ~8 KB,
    * and a consumer that keeps only a stdout tail loses its head, so
    * `main` also writes it to `fullFile` and then prints the COMPACT
    * line LAST: same contract keys, 3-decimal times, total/reps over
    * ALL queries, `failed` capped at its first [[CompactFailed]] names
    * plus `failed_total`, and a per-query map holding only the most
    * expensive entries that fit [[CompactBudget]] (178 full names alone
    * exceed 3 KB, so the whole map can never fit; the heavy queries are
    * the ones whose timings carry information at bench scale). */
  def lines(best: Seq[(String, Double)], failed: Seq[String], reps: Int,
      repTotals: Seq[Double], sfDir: String, fullFile: String)
      : (String, String) = {
    def r3(v: Double) = "%.3f".formatLocal(Locale.ROOT, v)
    def strs(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = best.map(_._2).sum
    val qs = best.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val totals = repTotals.map(r3).mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":${strs(failed)},"reps":$reps,"agg":"min","rep_totals":$totals,"sf":"$sfDir"}"""
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{"""
    def rest(k: Int) = s"""},"failed":${strs(failed.take(CompactFailed))},""" +
      s""""failed_total":${failed.size},"reps":$reps,"agg":"min",""" +
      s""""rep_totals":$totals,"sf":"$sfDir","queries_total":${best.size},""" +
      s""""queries_in_line":$k,"full_json":"$fullFile"}"""
    val sb = new StringBuilder(head)
    var k = 0
    val it = best.sortBy(-_._2).iterator
    var full = false
    while (it.hasNext && !full) {
      val (n, v) = it.next()
      val e = (if (k == 0) "" else ",") + "\"" + n + "\":" + r3(v)
      if (sb.length + e.length + rest(k + 1).length <= CompactBudget) {
        sb.append(e); k += 1
      } else full = true
    }
    sb.append(rest(k))
    (fullLine, sb.toString)
  }
}
