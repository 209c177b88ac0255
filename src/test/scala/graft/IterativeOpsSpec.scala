package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity}

/** The Spark-job and plan budget of the two iterative curation
  * operators: a connected-components run learns convergence from an
  * `Observation` riding each checkpoint (no separate sum action), and a
  * k-means Lloyd round is one aggregate with one exchange after the
  * scatter. Small local inputs: the counts depend on plan shape, not
  * data size. */
class IterativeOpsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  import TestKit._
  import spark.implicits._

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      ListenerBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** `f`'s result and the query executions that completed during it. */
  private def executionsOf[A](f: => A): (A, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val a = f
      ListenerBusDrain(spark.sparkContext)
      (a, seen.toArray(Array.empty[QueryExecution]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** Children through the adaptive wrappers: the current plan of an
    * adaptive root and the plan inside each query stage. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }

  /** Root-to-node path of the first `CollectMetricsExec`, if any. */
  private def pathToMetrics(p: SparkPlan): Option[List[SparkPlan]] = p match {
    case c: CollectMetricsExec => Some(List(c))
    case _ => kids(p).iterator.map(pathToMetrics).collectFirst { case Some(t) => p :: t }
  }

  private def isExchange(p: SparkPlan): Boolean =
    p.isInstanceOf[ShuffleQueryStageExec] || p.isInstanceOf[ShuffleExchangeLike]

  private def subtree(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(subtree)

  // two stars centred on their minimum ids: labels are final after the
  // fused init, and one round confirms them
  private val shallowPairs = Seq((1L, 2L), (1L, 3L), (5L, 6L))
  private val shallowVertices = (1L to 7L)

  test("connectedComponents on a shallow graph: one action per checkpoint, no sum actions") {
    val pairs = shallowPairs.toDF("a", "b")
    val vertices = shallowVertices.toDF("id")
    val (labels, jobs) = jobsOf(Dedup.connectedComponents(pairs, vertices, "id"))
    // two checkpoints, the fused init and the confirming round. The init builds the pair cache, runs its one exchange
    // and its result stage (3 jobs); the round broadcasts the labels, runs
    // its exchange and its result stage (3 jobs). The label sums ride the
    // checkpoints: a separate sum or count action would add jobs here.
    assert(jobs === 6)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("connectedComponents on an edgeless graph learns it from the init checkpoint") {
    val (labels, jobs) = jobsOf(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), shallowVertices.toDF("id"), "id"))
    assert(jobs <= 3, "the init checkpoint alone")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      shallowVertices.map(v => v -> v).toMap)
    spark.sharedState.cacheManager.clearCache()
  }

  test("connectedComponents' observed label sum is collected in the result stage") {
    val pairs = shallowPairs.toDF("a", "b")
    val (_, execs) = executionsOf(
      Dedup.connectedComponents(pairs, shallowVertices.toDF("id"), "id"))
    val paths = execs.flatMap(qe => pathToMetrics(qe.executedPlan))
    assert(paths.size === 2, "one observed checkpoint per round (init + 1)")
    paths.foreach { path =>
      // above the round's last exchange: Spark applies a result task's
      // accumulator update once, so a retried task cannot double count
      assert(!path.init.exists(isExchange),
        s"an exchange sits above CollectMetrics:\n${path.head}")
      assert(subtree(path.last).exists(isExchange),
        s"CollectMetrics is below the round's exchange:\n${path.head}")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  private val vecs = Seq(
    (1L, Array(1.0f, 0.1f, -0.2f)), (2L, Array(0.5f, 0.0f, 0.3f)),
    (3L, Array(0.1f, 1.0f, 0.0f)), (4L, Array(-0.2f, 0.9f, 0.4f)),
    (5L, Array(0.7f, 0.7f, 0.7f)))
  private val seeds = Seq(0 -> Array(1.0f, 0.0f, 0.0f), 1 -> Array(0.0f, 1.0f, 0.0f))

  test("a Lloyd round is one action: the scatter, one exchange, the collect") {
    val df = vecs.toDF("id", "v").repartition(3) // the caller's scatter
    val (fit, jobs) = jobsOf(Similarity.kmeansFitInt8(df, "v", seeds, iters = 1))
    assert(jobs === 3)
    assert(fit.map(_._1) === Seq(0, 1))
  }

  test("a Lloyd round plans one exchange after the scatter and no lambda") {
    val df = vecs.toDF("id", "v").repartition(3)
    val plan = Similarity.kmeansStepInt8(df, "v", seeds).queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.count(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]) === 1)
    assert(exchanges.size === 2, plan.toString)
    assert(collect(plan) { case g: GenerateExec => g }.isEmpty, plan.toString)
    assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty, plan.toString)
    assert(collect(plan) { case a: ObjectHashAggregateExec => a }.size === 2, plan.toString)
    val lambdas = collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case h: HigherOrderFunction => h })
    assert(lambdas.isEmpty, plan.toString)
  }
}
