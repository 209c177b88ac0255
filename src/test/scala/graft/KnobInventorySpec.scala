package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The environment variables the program reads, as one explicit list: a
  * new knob fails this spec until it is added here and to the knob table
  * in OPERATIONS.md. Scans the source text; no Spark session. */
class KnobInventorySpec extends AnyFunSuite {

  /** Every env key `src/main` reads. The first five are the inputs of
    * `Verify` and `Bench` and keep their names and meaning; the rest
    * size the dev meters. */
  val Knobs: Set[String] = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_STREAM_N", "SPARK_GRAFT_STREAM_KEYS",
    "SPARK_GRAFT_STREAM_BATCHES",
    "SPARK_GRAFT_SCALE_N", "SPARK_GRAFT_SCALE_KEYS",
    "SPARK_GRAFT_SCALE_BATCHES", "SPARK_GRAFT_SCALE_HORIZON_MS",
    "SPARK_GRAFT_SCALE_SCENARIO",
    "SPARK_GRAFT_PROBE_SCALE", "SPARK_GRAFT_PROBE_REPS",
    "SPARK_GRAFT_PROBE_DIR", "SPARK_GRAFT_PROBE_OPS")

  private val root = Paths.get(sys.props("user.dir"))

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  private val sources: Seq[String] = {
    val dir = root.resolve("src/main/scala")
    assert(Files.isDirectory(dir), s"$dir not found")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map(read).toList
    finally walk.close()
  }

  test("src/main reads exactly the listed env knobs") {
    val access = """sys\.env|System\.getenv""".r
    val keyed = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val found = sources.flatMap(s => keyed.findAllMatchIn(s).map(_.group(1))).toSet
    // a key built at run time would slip past the scan
    val reads = sources.map(access.findAllMatchIn(_).size).sum
    val literal = sources.map(keyed.findAllMatchIn(_).size).sum
    assert(reads == literal, "an env read whose key is not a string literal")
    assert(found == Knobs,
      s"unlisted: ${found -- Knobs}; listed but unread: ${Knobs -- found}")
  }

  test("OPERATIONS.md documents every knob") {
    val ops = read(root.resolve("OPERATIONS.md"))
    assert(Knobs.filterNot(k => ops.contains(s"`$k`")).isEmpty)
  }
}
