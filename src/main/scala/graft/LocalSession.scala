package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft main and the test kit run on: in-process
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * the UI off and WARN logging. `spark.sql.legacy.parquet.nanosAsLong`
  * is on because `events.parquet` carries TIMESTAMP(NANOS), which Spark
  * reads only as a long ([[SparkEntry.eventsDf]] converts it). Streaming
  * queries checkpoint through [[graft.stream.CheckpointFiles]]' fork-free
  * manager unless a manager class is already configured. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    require(n >= 1, s"SPARK_GRAFT_CPUS must be >= 1 (got $n)")
    n
  }

  def apply(): SparkSession = apply(cpus)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.stream.CheckpointFiles.install(spark)
    spark
  }
}
