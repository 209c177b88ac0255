package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once WAREHOUSE ARTIFACTS — the shared discipline behind the
  * registered queries that probe a PERSISTED standing structure (the
  * q171 span index, the q174 quantizer model) instead of rebuilding it
  * in-query: the artifact is written to the session catalog at most
  * once per (corpus fingerprint, dir), and every later probe reads the
  * files back — the amortization a deployment's ingest loop rests on.
  *
  * Convention (stated in the [[graft.SparkEntry.queries]] scaladoc too): a
  * query routed through [[ensureTable]] has a WRITE SIDE EFFECT on its
  * first run in a session catalog. The build is `synchronized` on this
  * object, so registered queries executing in PARALLEL in one driver
  * cannot race the check-then-act (the r18 q171 convention break);
  * runs after the first see `tableExists` and pay nothing. Two
  * DRIVERS sharing one external warehouse path must own the build
  * step explicitly (run it once at ingest) — cross-process fencing is
  * [[Sources.idempotentBatchWriter]]'s job, not this helper's. */
object Artifacts {

  /** Per-artifact MODEL GENERATION — the invalidation token coupling
    * [[refreshTable]] to the JVM model memos derived from the artifact
    * (r19 verdict item 2: a refit rebuilt the files, but
    * `CacheScope.session.model` entries fitted FROM the old model —
    * q173's derived index, q169's refined centroid list — keyed on
    * (dir, corpusStamp) alone and kept serving the stale geometry; on
    * non-local dirs the stamp is constant 0, so NOTHING distinguished
    * pre- from post-refit). Every memo whose value derives from an
    * artifact (or from the fit that artifact persists) must fold
    * `generation(name)` into its key: [[refreshTable]] bumps it BEFORE
    * rebuilding, so the rebuild itself — and every later consumer —
    * re-derives instead of hitting the old entry. Monotone per (JVM,
    * name); 0 until the first refresh, matching the build-once world
    * where no refit has happened. */
  private val gens =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The current model generation of artifact `name` — fold into every
    * model-memo key derived from it. */
  def generation(name: String): Long = gens.getOrElse(name, 0L)

  /** Catalog table name pinning CORPUS IDENTITY: prefix + the content
    * fingerprint + a hash of the dir string. The dir hash matters
    * because `graft.queries.Tables.corpusStamp` stamps 0 for any non-local path
    * (r18 ADVICE: two remote corpora in one catalog would otherwise
    * share a name and the second query would silently probe the
    * first's stale artifact); on local fixtures the stamp alone
    * already separates regenerated data under the same dir. */
  def tableName(prefix: String, dir: String, stamp: Long): String =
    prefix + "_" + java.lang.Long.toHexString(stamp & Long.MaxValue) +
      "_" + Integer.toHexString(dir.hashCode)

  /** Ensure catalog table `name` exists, building it at most once per
    * session catalog from `build` (evaluated lazily — never when the
    * table already exists). `nBuckets > 0` writes through
    * [[Sources.writeBucketedTable]] (probe joins on `bucketCols` scan
    * pre-bucketed files with no exchange on the artifact side);
    * otherwise a plain external parquet table. */
  def ensureTable(s: SparkSession, name: String, path: String,
      nBuckets: Int = 0, bucketCols: Seq[String] = Nil)(
      build: => DataFrame): Unit = synchronized {
    if (!s.catalog.tableExists(name)) {
      if (nBuckets > 0)
        Sources.writeBucketedTable(build, name, nBuckets, bucketCols,
          path = Some(path))
      else
        build.write.mode("overwrite").format("parquet")
          .option("path", path).saveAsTable(name)
    }
  }

  /** REBUILD an artifact in place — the refit step of the maintenance
    * loop ([[ensureTable]] builds once; when the drift report says
    * `needs_refit` — `Similarity.ivfDrift`/`ivfRefitReport`'s verdict
    * — the deployment re-derives the model and the artifact must
    * follow, or every consumer keeps probing the stale one): drops the
    * catalog entry and re-creates it from `build`. Shares
    * [[ensureTable]]'s lock, so a concurrent build-once cannot
    * interleave with the rebuild; consumers that already RESOLVED the
    * old table keep their snapshot (Spark reads the file listing at
    * plan time), new resolutions see the new files. Frames derived
    * from the OLD table must not be reused across the refresh — the
    * same read-your-own-writes contract as `Dedup.spanIndexAppend`.
    *
    * MEMO COUPLING (r19 verdict item 2): [[generation]]`(name)` is
    * bumped FIRST, before the drop+rebuild, so (a) `build` itself —
    * which typically calls a generation-keyed fit memo — re-derives
    * the model instead of persisting the stale one back, and (b) every
    * consumer memo keyed on the generation re-derives at its next
    * resolution. A bump without a completed rebuild (build threw) is
    * safe: the old memo entries are merely abandoned, and the next
    * refresh retries the fit. */
  def refreshTable(s: SparkSession, name: String, path: String,
      nBuckets: Int = 0, bucketCols: Seq[String] = Nil)(
      build: => DataFrame): Unit = synchronized {
    gens.update(name, generation(name) + 1L)
    s.sql(s"DROP TABLE IF EXISTS `$name`")
    if (nBuckets > 0)
      Sources.writeBucketedTable(build, name, nBuckets, bucketCols,
        path = Some(path))
    else
      build.write.mode("overwrite").format("parquet")
        .option("path", path).saveAsTable(name)
  }
}
