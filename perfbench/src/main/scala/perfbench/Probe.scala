package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters gathered from outside the program: a Spark
  * listener (jobs, stages, tasks and their metrics), a query-execution
  * listener (planning phases, broadcast sizes) and the JVM's own beans.
  * Registered only on traced runs. Jobs carry the local property
  * [[Probe.TagKey]], set by the workload before each call into the
  * program, so job counts can be split by what submitted them. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Probe._

  private val sums = new ConcurrentHashMap[String, java.lang.Double]()
  private val jobsByTag = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var peakExecMem = 0L
  @volatile private var barriersSeen = 0L
  private val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
  private val barrierStages = ConcurrentHashMap.newKeySet[Int]()
  private var barriersSent = 0L

  private def add(k: String, v: Double): Unit =
    sums.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => a + b)

  private def barrier(props: java.util.Properties): Boolean =
    props != null && props.getProperty(BarrierKey) != null

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (barrier(e.properties)) barrierJobs.add(e.jobId)
    else {
      add("spark.jobs", 1)
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      jobsByTag.merge(tag, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (barrierJobs.remove(e.jobId)) barriersSeen += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!barrierStages.contains(e.stageInfo.stageId)) add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info == null || barrierStages.contains(e.stageId)) return
    add("spark.tasks", 1)
    if (!info.successful) add("spark.failed_tasks", 1)
    if (m != null) {
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (barrier(e.properties)) barrierStages.add(e.stageInfo.stageId)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"plan.${p}_s", s.durationMs / 1e3))
    }
    val bytes = PlanWalk.collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }
    add("spark.broadcast_bytes", bytes.sum.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted before this call has reached the
    * listeners: run a one-task marker job and wait for its end event,
    * which the bus delivers after all earlier events of its queue. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    barriersSent += 1
    val want = barriersSent
    val prev = sc.getLocalProperty(BarrierKey)
    sc.setLocalProperty(BarrierKey, want.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(BarrierKey, prev)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (barriersSeen < want && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def snapshot(): Map[String, Double] =
    sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  def jobsTagged: Map[String, Long] =
    jobsByTag.asScala.map { case (k, v) => k -> v.longValue }.toMap

  def resetPeak(): Unit = peakExecMem = 0L
  def peakExecMemBytes: Long = peakExecMem
}

object Probe {
  val TagKey = "perfbench.tag"
  val BarrierKey = "perfbench.barrier"

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Register a probe on the session's listener buses. */
  def attach(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).map(k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
}

/** Process-level counters from the JVM's management beans and /proc. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set size (VmHWM), or 0 where /proc is absent. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(0.0)
      finally src.close()
    }
  }

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
