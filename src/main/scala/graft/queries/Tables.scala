package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dsl._
import graft.batch.BatchCompiler
import graft.SparkEntry.eventsDf

/** Table reads and shared column helpers for the query builders. A leaf:
  * no value here reads the registry or a family object (`evRecords` calls
  * the def `SparkEntry.eventsDf`, and only when a builder runs), so any
  * family may use it while it initialises. */
object Tables {

  /** Read one of the driver-provided tables. */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Cheap corpus fingerprint folded into every session-lifetime model
    * key of the query builders (r17 ADVICE):
    * [[graft.ops.CacheScope.model]] memoizes fitted models for the JVM
    * lifetime, and a key of (name, dir, params) alone goes silently
    * stale if a harness REGENERATES the data under the same dir
    * mid-session — a stale model is silently
    * wrong where a stale cache is merely slow. The stamp walks the
    * local dir (name, length, mtime per file — a handful of stat
    * calls, no data read) so any rewrite changes the key. Non-local
    * paths (no such File) stamp 0 and fall back to dir identity —
    * cluster deployments own their model lifecycle via
    * [[graft.ops.CacheScope.using]] scopes. */
  private[queries] def corpusStamp(dir: String): Long = {
    // depth-bounded and null-safe (r18 review catch): listFiles()
    // returns null on an unreadable/racing directory — stamp what is
    // visible rather than NPE-ing every fit query; the depth bound
    // makes a symlink cycle terminate (fixture dirs are 1 level deep)
    def walk(f: java.io.File, depth: Int): Long =
      if (f.isDirectory && depth < 8) {
        val kids = f.listFiles()
        if (kids == null)
          f.getName.hashCode.toLong * 31 + f.lastModified()
        else kids.sortBy(_.getName)
          .foldLeft(f.getName.hashCode.toLong)(
            (a, c) => a * 31 + walk(c, depth + 1))
      }
      else (f.getName.hashCode.toLong * 31 + f.length()) * 31 +
        f.lastModified()
    val root = new java.io.File(dir)
    if (root.exists()) walk(root, 0) else 0L
  }

  /** Read a table that feeds CPU-heavy per-row work (shingling, hashing,
    * cosine). The testdata files are single-row-group parquet —
    * unsplittable, so a bare scan plans ONE partition and serializes all
    * that work onto one core; [[graft.sources.Sources.scatter]]
    * redistributes when (and only when) the scan is narrower than the
    * cluster. Shuffle-bound queries keep the plain `table` read: the
    * first shuffle re-spreads them anyway, and the extra exchange would
    * just add latency. */
  def cpuTable(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.scatter(table(s, dir, name))

  // Exact-sum idiom: sum doubles through DECIMAL(18,2) so the result is
  // order-independent (fp sums are not associative), then cast back to
  // DOUBLE so the schema matches DuckDB's.
  private[queries] def dsum(c: Column) = sum(c.cast("decimal(18,2)")).cast("double")

  private[queries] val DsumSql = "CAST(SUM(CAST(%s AS DECIMAL(18,2))) AS DOUBLE)"

  private[queries] def dsumSql(c: String) = DsumSql.format(c)

  /** events normalized to records: key=user_id, value=(event_type, value). */
  private[queries] def evRecords(s: SparkSession, dir: String): DataFrame =
    Records.fromTable(eventsDf(s, dir),
      col("user_id"), struct(col("event_type"), col("value")), col("ts"))

  private[queries] def run1(t: Topology, inputs: Map[String, DataFrame], sink: String): DataFrame =
    BatchCompiler.run(t, inputs)(sink)
}
