package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The oracle map as one JSON object. Jackson escapes quotes,
    * backslashes and every control character, so a tab or CR in an
    * oracle string cannot make the file unreadable to the DuckDB
    * compare that parses it. */
  def oracleJson(oracles: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(oracles.asJava)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only subset knob (unset for a full verification run)
    val names = SparkEntry.selectQueries(SparkEntry.queries.keys,
      sys.env.get("SPARK_GRAFT_ONLY"), "SPARK_GRAFT_ONLY")
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
