package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.dsl.Records
import graft.stream.CheckpointFiles

/** Source/sink builders producing record-shaped DataFrames — the physical
  * layer behind [[graft.dsl.Entity.Topic]] (the reference's topics,
  * `core.clj:14-15,75-78`). Batch topics are parquet paths; streaming
  * topics are file/rate/kafka streams. All normalize to (key, value, ts).
  *
  * Scale notes: parquet readers get partition pruning + filter pushdown
  * from Catalyst for free; file-stream sources bound per-batch work with
  * `maxFilesPerTrigger`; sinks partition output by a key expression when
  * given so downstream consumers co-locate reads. */
object Sources {

  /** Redistribute an under-partitioned scan across the cluster.
    *
    * Parquet scans parallelize at row-group granularity; a table written
    * as a few single-row-group files plans fewer scan partitions than the
    * session has cores, and then every per-row operator downstream (hash,
    * shingle, JSON parse) runs on a handful of cores no matter how wide
    * the cluster is. When that happens — and only then — insert one
    * round-robin exchange so the CPU-heavy work after the scan scales
    * with the cluster, not with the writer's file layout. At production
    * scale (files ≫ cores) the condition is false and this is a no-op,
    * so it never adds a shuffle to a healthy scan. */
  def scatter(df: DataFrame): DataFrame = {
    // Streaming plans have no static partitioning to inspect (`df.rdd`
    // throws) and micro-batches re-plan per trigger anyway — pass through.
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (numPartitions(df) < target) df.repartition(target) else df
  }

  /** The partition count `df` scans with. A bare file scan reads it off
    * the planned scan's input RDD; anything else asks `df.rdd`, which
    * also plans (and compiles) a row-deserializer stage on the Spark
    * driver. */
  private def numPartitions(df: DataFrame): Int =
    df.queryExecution.sparkPlan match {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
        scan.inputRDD.getNumPartitions
      case _ => df.rdd.getNumPartitions
    }

  /** Batch topic source: parquet path → records. No scatter here: topic
    * reads feed shuffle-bound topology ops (joins/aggs re-spread at their
    * first exchange) or tiny dimension tables where an extra exchange is
    * pure cost — callers with CPU-heavy per-row work scatter explicitly. */
  def parquetTopic(s: SparkSession, path: String,
      key: Column, value: Column, ts: Column): DataFrame =
    Records.fromTable(s.read.parquet(path), key, value, ts)

  /** Batch topic sink. `partitionBy` co-locates downstream reads on the
    * given columns (e.g. a date derived from ts). */
  def writeParquetTopic(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** [[writeParquetTopic]] honoring a Topic's admin config: the declared
    * `partitionCount` fixes the file count (a Kafka topic's partition
    * count is fixed at creation; on the parquet transport the file count
    * IS the scan parallelism floor downstream readers see), and
    * `partitionBy` lays out directories for partition-pruned reads.
    * `replicationFactor` is storage-level provisioning, not a write-path
    * concern — surfaced through [[Admin.topicSpecs]]. */
  def writeTopic(df: DataFrame, basePath: String, topic: graft.dsl.Entity.Topic): Unit = {
    val sized = topic.partitionCount.fold(df)(df.repartition)
    writeParquetTopic(sized, s"$basePath/${topic.name}", topic.partitionBy)
  }

  /** Write every SINK topic of a compiled topology to the parquet
    * transport, honoring each topic's admin config ([[writeTopic]]):
    * the batch analogue of the reference's "run the app, outputs land in
    * the output topics" contract. `results` is the compiler's output map
    * (node id → DataFrame); sinks are the Topic nodes with parents. */
  def writeSinks(topology: graft.dsl.Topology,
      results: Map[String, DataFrame], baseDir: String): Unit = {
    val preds = topology.predecessors
    topology.entities.foreach {
      case (id, t: graft.dsl.Entity.Topic) if preds.getOrElse(id, Nil).nonEmpty =>
        writeTopic(results(id), baseDir, t)
      case _ => ()
    }
  }

  /** Write a DataFrame as a BUCKETED parquet table: rows are hash-split
    * on `bucketCols` into `nBuckets` files per write task, and the bucket
    * spec is recorded in the catalog. Two tables bucketed the same way
    * (same columns, same count) equi-join on those columns WITHOUT a
    * shuffle — each task reads matching bucket files from both sides —
    * and an aggregate keyed on the bucket columns skips its exchange
    * too. At 100 TB this is the difference between re-shuffling the fact
    * table on every join and shuffling it once at ingest; the batch-side
    * analogue of Kafka's co-partitioned topics (which is exactly what the
    * reference relies on for its table–table joins). `sortCols` addition-
    * ally sorts within each bucket file (merge-join without a sort when
    * one file per bucket). Requires a catalog table name; `path` makes it
    * external. */
  def writeBucketedTable(df: DataFrame, name: String, nBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one bucket column")
    var w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(name)
  }

  /** Streaming topic source over a directory of parquet files (the
    * broker-less streaming transport: each appended file is a batch of
    * records). `maxFilesPerTrigger` bounds micro-batch size. */
  def fileStreamTopic(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      key: Column, value: Column, ts: Column,
      maxFilesPerTrigger: Int = 10): DataFrame =
    Records.fromTable(
      s.readStream.schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(path),
      key, value, ts)

  /** The serde half of [[kafkaStreamTopic]] — decode a Kafka WIRE-schema
    * DataFrame (`key`/`value` binary, `timestamp`) into records
    * (`streams.clj:12-14` serde decode ↔ `from_json` here). Factored out
    * of the transport so the wiring is testable without a broker: any
    * stand-in with the wire columns (a MemoryStream in tests) exercises
    * exactly the projection the Kafka connector output flows through. */
  def decodeKafkaRecords(raw: DataFrame,
      valueSchema: org.apache.spark.sql.types.DataType): DataFrame =
    Records.fromTable(raw,
      col("key").cast("string"),
      from_json(col("value").cast("string"), valueSchema),
      col("timestamp"))

  /** Corrupt-tolerant JSON field extraction — the quarantine policy
    * every messy ingest needs: parse `json` against `schema`, flag the
    * unparseable rows instead of failing the job or silently dropping
    * them. A malformed payload yields `is_corrupt = true` with every
    * schema field null (detected via PERMISSIVE mode's corrupt-record
    * column — since Spark 3 a bad parse is a row of nulls, not a null
    * struct, so the struct itself can't be the signal);
    * a well-formed payload missing a field parses with that field null
    * and is NOT corrupt (schema drift ≠ corruption — count the two
    * separately). Stateless projection: runs identically on a batch
    * backfill and a live `readStream` (same plan, no state), which is
    * the point — one quarantine rule for both paths. Output: `df`'s
    * columns + each schema field + is_corrupt. */
  def parseJsonQuarantine(df: DataFrame, json: Column,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(!schema.fieldNames.contains("__corrupt"),
      "__corrupt is reserved for the quarantine flag")
    // since Spark 3, PERMISSIVE from_json yields a row of NULLS (not a
    // null struct) for malformed input — columnNameOfCorruptRecord is
    // the reliable corruption signal; a NULL payload stays not-corrupt
    // (absent != malformed)
    val parsed = df.withColumn("__p", from_json(json,
      schema.add("__corrupt", org.apache.spark.sql.types.StringType),
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "__corrupt")))
    schema.fieldNames.foldLeft(
      parsed.withColumn("is_corrupt", col("__p.__corrupt").isNotNull))(
      (d, f) => d.withColumn(f, col(s"__p.$f")))
      .drop("__p")
  }

  /** The serde half of [[kafkaSinkTopic]] — encode records into the Kafka
    * writer's expected columns: message `key` string, `value` JSON of
    * (value, ts) (`to_json` ↔ the serde encode in `streams.clj:12-14`).
    * [[decodeKafkaRecords]] over a `valueSchema` of
    * `struct<value: V, ts: timestamp>` round-trips this encoding. */
  def encodeKafkaRecords(df: DataFrame): DataFrame =
    df.select(
      col(Records.KeyCol).cast("string").as("key"),
      to_json(struct(col(Records.ValueCol), col(Records.TsCol))).as("value"))

  /** Kafka topic source (the reference's native transport). Requires the
    * spark-sql-kafka connector on the classpath; value payloads are JSON
    * decoded against `valueSchema` ([[decodeKafkaRecords]]). */
  def kafkaStreamTopic(s: SparkSession, bootstrap: String, topic: String,
      valueSchema: org.apache.spark.sql.types.DataType): DataFrame =
    decodeKafkaRecords(
      s.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load(),
      valueSchema)

  /** Kafka topic sink — the write half of [[kafkaStreamTopic]]
    * ([[encodeKafkaRecords]] for the serde). Honors the topology's
    * declared partition count only insofar as the BROKER topic was
    * provisioned with it ([[Admin.topicSpecs]]); Kafka's default
    * partitioner routes by key hash, preserving per-key ordering.
    * Requires the spark-sql-kafka connector on the classpath (not
    * present in this sandbox — the serde halves are covered by the
    * MemoryStream stand-in test; only the broker I/O itself is not). */
  def kafkaSinkTopic(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): StreamingQuery = {
    CheckpointFiles.install(df.sparkSession)
    encodeKafkaRecords(df)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Streaming parquet sink with checkpointing; `availableNow` processes
    * the backlog and stops (the batch-replay trigger). Like every stream
    * starter here, it installs [[CheckpointFiles]]' fork-free checkpoint
    * manager unless the session names one. */
  def writeStreamTopic(df: DataFrame, path: String, checkpoint: String,
      availableNow: Boolean = false): StreamingQuery = {
    CheckpointFiles.install(df.sparkSession)
    val w: DataStreamWriter[Row] = df.writeStream
      .format("parquet").option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Idempotence guard for `foreachBatch` sinks, Spark's own documented
    * exactly-once recipe: after a CRASH (not a graceful stop) the engine
    * re-delivers the last batch whose offsets were logged but whose
    * commit wasn't — at-least-once delivery — and a non-transactional
    * sink double-writes it on restart. This wraps the user's writer so a
    * (re)delivered `batchId` at the durably recorded high-water mark is
    * skipped; the mark is persisted AFTER the write succeeds, so a crash
    * between write and record re-runs the write — the sink function must
    * therefore still be idempotent PER BATCH (e.g. overwrite-by-batch-
    * path, the standard contract). Returns a function suitable for
    * `.foreachBatch(...)`.
    *
    * `trackDir` goes through the Hadoop FileSystem API resolved from the
    * batch's session — like Spark's own checkpoint files it may live on
    * HDFS/S3 (`hdfs://…`, `s3a://…`), which it MUST in any deployment
    * where the driver can fail over to another node: a driver-local path
    * survives only same-machine restarts. Co-locate it with the
    * checkpoint and wipe the two together: batchIds are only monotone
    * within one checkpoint lineage, so the guard throws (loudly, rather
    * than silently skipping data) if a delivered batchId is BELOW the
    * mark — under one lineage the engine only ever re-delivers the LAST
    * batch, so a lower id means the trackDir belongs to a different or
    * wiped checkpoint, or is shared by two queries. Durability note: the
    * mark swap is `FileContext.rename(OVERWRITE)` — atomic on
    * HDFS/local, best-effort on object stores, where a crash inside the
    * swap can lose the mark; the next incarnation then re-runs one
    * batch, it never skips one. The swap runs under a bounded jittered
    * retry (concurrent incarnations in the takeover window race the
    * non-atomic local-FS rename internals), and a failed attempt that
    * finds the mark already advanced to this batch by a racer treats
    * the swap as moot — the mark is a monotone batchId of one lineage.
    *
    * Zombie fencing: each writer incarnation CLAIMS an epoch in
    * `trackDir` before its first durable mark read — a UNIQUE file
    * `epoch.<n>.<uid>` with `n` above the highest existing claim and
    * `uid` random per incarnation; ownership is the lexicographically
    * greatest `(n, uid)` (the file-based equivalent of Kafka's
    * producer-epoch fencing, the reference ecosystem's own answer to
    * split-brain). The unique name means claiming does NOT rely on an
    * atomic create-if-absent — `create(overwrite = false)` is
    * check-then-act on the local FS and object stores, so two racers
    * CAN both claim the same `n`; the `uid` tie-break resolves that
    * deterministically, the loser fencing at its next delivery.
    * Before every batch write, and again between the write and the mark
    * swap, the incarnation re-lists the claims and FAILS FAST with
    * [[FencedWriterException]] if a greater claim exists: a zombie old
    * driver surviving a failover stops at its next delivery instead of
    * writing forever from its stale cached mark. The fence closes the
    * steady-state split-brain; the one batch a zombie may have IN FLIGHT
    * at the instant the new incarnation claims (checked fence, then lost
    * the race) can still land — the new incarnation claims BEFORE
    * reading the mark, so that batch is either reflected in the mark it
    * reads or re-run by it under the per-batch-idempotent contract:
    * a takeover can re-run one batch, it never skips or interleaves one.
    * Claim files STRICTLY BELOW the claimer's own `(n, uid)` are
    * garbage-collected at claim time — never above, so a concurrent
    * racer's greater claim cannot be swept and the globally greatest
    * claim always survives (every deletion is by a strictly greater
    * claim, and nothing outranks the maximum); the directory stays
    * O(live incarnations). The claim-file format is versioned with this
    * library: a zombie running an OLDER build does not parse newer
    * claim names and cannot be fenced by them (nor can its own GC bugs
    * be fixed from here) — upgrading the writer means draining the old
    * incarnation, not failing over onto a live one.
    *
    * {{{
    * df.writeStream.option("checkpointLocation", ckpt)
    *   .foreachBatch(Sources.idempotentBatchWriter(s"$ckpt/__sink_mark") {
    *     (batch, id) => batch.write.mode("overwrite").parquet(s"$out/b=$id")
    *   }).start()
    * }}} */
  def idempotentBatchWriter(trackDir: String)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    var cached = Long.MinValue // sentinel: not yet loaded from durable storage
    var epoch = -1L            // this incarnation's fencing claim number
    // per-incarnation claim tie-break: unique claim file names need no
    // atomic create-if-absent (local FS / object-store create is
    // check-then-act), and same-`n` collisions resolve by (n, uid) order
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    // fs/paths resolved ONCE from the first batch's session (trackDir
    // never changes; newHadoopConf clones the full conf per call and
    // doesn't belong on a per-trigger hot path)
    var fsCtx: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.FileContext,
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = null

    // claim total order: (n, uid) lexicographic — the greatest claim owns
    // the sink. A bare legacy `epoch.<n>` (no uid) orders lowest for its n.
    def claimGt(a: (Long, String), b: (Long, String)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)

    def epochsIn(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path): Seq[(Long, String, org.apache.hadoop.fs.Path)] =
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("epoch."))
        .flatMap { p =>
          val rest = p.getName.stripPrefix("epoch.")
          val (numS, u) = rest.indexOf('.') match {
            case -1 => (rest, "")
            case i  => (rest.take(i), rest.drop(i + 1))
          }
          numS.toLongOption.map(n => (n, u, p))
        }

    // Bounded retry for the mark-path FS operations: in the takeover
    // window, concurrent incarnations race each other's creates, GC
    // sweeps, and renames, and a checksummed local FS surfaces those
    // races as assorted IOExceptions from NON-atomic internals (create
    // then chmod, rename data then crc, list then stat). Every operation
    // here is idempotent (write a fixed string / list a tiny dir), so
    // retry-with-backoff resolves transient races; after `max` attempts
    // the fault is real and propagates.
    def retrying[A](max: Int)(body: => A): A = {
      var attempts = 0
      while (true) {
        try return body
        catch {
          case e: java.io.IOException =>
            attempts += 1
            if (attempts >= max) throw e
            Thread.sleep(5L * attempts)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    // fail fast when a greater claim exists on this trackDir — one
    // tiny-dir listStatus, cheap on a per-trigger path. Own-claim absence
    // is itself proof of fencing: only a strictly greater claim's GC
    // deletes it, and that greater claim (or a yet greater one) survives
    // to show up in this listing.
    def fence(fs: org.apache.hadoop.fs.FileSystem,
        dir: org.apache.hadoop.fs.Path, at: String): Unit = {
      val newest = retrying(5)(epochsIn(fs, dir)).map(e => (e._1, e._2))
        .foldLeft((epoch, uid))((a, b) => if (claimGt(b, a)) b else a)
      if (claimGt(newest, (epoch, uid)))
        throw new FencedWriterException(
          s"writer claim ($epoch, $uid) fenced $at by greater claim " +
            s"(${newest._1}, ${newest._2}) in $trackDir - that " +
            "incarnation owns this sink; this (zombie) incarnation " +
            "must stop")
    }

    (batch: DataFrame, batchId: Long) => {
      if (fsCtx == null) {
        val dir = new org.apache.hadoop.fs.Path(trackDir)
        val hconf = batch.sparkSession.sessionState.newHadoopConf()
        val fs = dir.getFileSystem(hconf)
        fs.mkdirs(dir)
        val qualified = fs.makeQualified(dir)
        fsCtx = (fs,
          org.apache.hadoop.fs.FileContext.getFileContext(qualified.toUri, hconf),
          qualified, new org.apache.hadoop.fs.Path(qualified, "committed_batch_id"))
        // claim the next epoch ABOVE every existing claim as the UNIQUE
        // file epoch.<next>.<uid> — no name collision is possible, so no
        // atomicity is asked of the FS; a concurrent claimer landing on
        // the same `next` is resolved by the (n, uid) order, the lesser
        // claim fencing at its next delivery. The claim happens BEFORE
        // the mark read below, so any batch a soon-to-be-fenced zombie
        // lands after this point is re-run, not lost.
        var claimed = false
        var attempts = 0
        while (!claimed) {
          val existing = retrying(5)(epochsIn(fs, qualified))
          val next = existing.map(_._1).foldLeft(0L)(math.max) + 1L
          try {
            fs.create(new org.apache.hadoop.fs.Path(qualified,
              s"epoch.$next.$uid"), false).close()
            epoch = next
            claimed = true
            // GC claims STRICTLY BELOW our own (n, uid) — never an equal
            // or greater claim, so a racer's greater claim can't be swept
            // and the globally greatest claim always survives (a stale
            // incarnation fences on the evidence of ANY greater claim).
            // Also sweep stale swap tmps (a zombie mid-swap loses its tmp
            // and lands in the fenced/retry path — see the rename catch
            // below). Deletes are best-effort: a concurrent claimer may
            // sweep the same files first.
            retrying(5)(epochsIn(fs, qualified)).foreach { case (n, u, p) =>
              if (claimGt((next, uid), (n, u)))
                try fs.delete(p, false)
                catch { case _: java.io.IOException => () }
            }
            retrying(5)(fs.listStatus(qualified)).foreach { st =>
              val nm = st.getPath.getName
              if (nm.startsWith("committed_batch_id.tmp") &&
                  nm != s"committed_batch_id.tmp.$epoch.$uid")
                try fs.delete(st.getPath, false)
                catch { case _: java.io.IOException => () }
            }
          } catch {
            // a concurrent claimer's GC swept our file mid-create (local
            // FS create+chmod is not atomic and surfaces that race as
            // assorted IOEs): re-list and claim higher, bounded
            case e: java.io.IOException =>
              attempts += 1
              if (attempts >= 50) throw e
              Thread.sleep(5L * math.min(attempts, 10))
          }
        }
      }
      val (fs, fc, dir, mark) = fsCtx
      def readMark(): Long =
        if (!fs.exists(mark)) -1L
        else {
          val in = fs.open(mark)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
          try s.toLong
          catch { case _: NumberFormatException => -1L } // torn mark: re-run
        }
      fence(fs, dir, "before write")
      if (cached == Long.MinValue) // restart: one durable read, then memory
        // retried: a concurrent incarnation's overwrite rename is delete-
        // then-rename on the local FS, so a read landing inside that
        // window sees exists-then-FileNotFound — transient, not a fault
        cached = retrying(5)(readMark())
      if (batchId < cached)
        throw new IllegalStateException(
          s"foreachBatch delivered batchId $batchId below the committed mark " +
            s"$cached in $trackDir - under one checkpoint lineage only the " +
            "last batch is ever re-delivered, so this trackDir belongs to a " +
            "different or wiped checkpoint (or is shared by two queries); " +
            "wipe it together with its checkpoint")
      if (batchId > cached) {
        write(batch, batchId)
        // Persist the mark: PER-INCARNATION tmp name (concurrent
        // incarnations — even two that raced onto the same epoch number —
        // must not steal each other's tmp file),
        // then an ATOMIC overwrite rename — no delete-then-rename window
        // where the mark doesn't exist; a crash leaves at most one stray
        // tmp per incarnation, swept by the next claimer's GC. Each
        // attempt re-checks the fence first: a zombie that lost the race
        // mid-batch must NOT advance the mark (its sink effect just
        // landed, but the new incarnation claimed before reading the
        // mark, so it re-runs this batch idempotently) — it exits here
        // with the clean FENCED outcome. Transient races with concurrent
        // incarnations (their GC sweeping this tmp mid-swap, local-FS
        // crc-rename interleavings) retry; real faults propagate.
        var persisted = false
        var attempts = 0
        while (!persisted) {
          fence(fs, dir, "at mark swap")
          try {
            val tmp = new org.apache.hadoop.fs.Path(dir,
              s"committed_batch_id.tmp.$epoch.$uid")
            val out = fs.create(tmp, true)
            try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
            fc.rename(tmp, mark, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            persisted = true
          } catch {
            case e: java.io.IOException =>
              // the local-FS overwrite rename is delete-then-rename
              // internally, so a concurrent incarnation can recreate the
              // mark inside the window and this attempt reports dst-
              // exists / src-missing. The mark is a monotone batchId of
              // ONE lineage: if a durable read shows a racer already
              // advanced it to >= this batch, this swap is moot — done.
              // Otherwise retry with jitter (lockstep racers starve a
              // fixed schedule); a fault that persists is real.
              if ((try readMark() catch { case _: java.io.IOException => -1L })
                  >= batchId) persisted = true
              else {
                attempts += 1
                if (attempts >= 10) throw e
                Thread.sleep(2L + java.util.concurrent.ThreadLocalRandom
                  .current().nextLong(8L * attempts))
              }
          }
        }
        cached = batchId
      }
      // batchId == cached: the crash-window re-delivery — skip
    }
  }

  /** Thrown by [[idempotentBatchWriter]] when a newer incarnation has
    * claimed the writer's `trackDir`: the receiving (zombie) incarnation
    * must stop — its durable mark and sink ownership now belong to the
    * fencer. The split-brain analogue of Kafka's `ProducerFencedException`. */
  final class FencedWriterException(msg: String)
    extends IllegalStateException(msg)

  /** Stage one batch's rows into `targetDir` TRANSACTIONALLY for a
    * downstream FILE-SOURCE reader (r19 ADVICE: the streaming file
    * source tracks processed files BY NAME, so a crash between a
    * partial parquet write and [[idempotentBatchWriter]]'s mark swap
    * must not let the re-run — which writes fresh random part-file
    * names — double the batch's rows downstream). Two rules close it:
    *
    *  - ALL-OR-NOTHING VISIBILITY: the plan is written to a sibling
    *    dot-prefixed tmp dir (Spark's file listing skips `.`/`_` paths,
    *    so a partial attempt is invisible to the reader) and RENAMED
    *    into `targetDir` — one atomic metadata op on a real FS, so the
    *    reader sees either nothing or the complete batch.
    *  - AT-MOST-ONCE PUBLICATION: if `targetDir` already exists, a
    *    previous attempt's rename committed — the batch's staged output
    *    is complete (rename-after-full-write) and deterministic, so the
    *    re-run SKIPS the write instead of replacing already-tracked
    *    file names with new ones.
    *
    * Call only from an idempotent per-batch context (foreachBatch under
    * [[idempotentBatchWriter]]) with a per-batch-unique `targetDir`
    * (`.../b=<batchId>`). `df` is evaluated lazily, never when the
    * target already exists. */
  def stageBatchAtomically(s: SparkSession, targetDir: String)(
      df: => DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) {
      val tmp = new org.apache.hadoop.fs.Path(target.getParent,
        "." + target.getName + ".staging")
      df.write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(tmp, target)) {
        // rename refuses when target appeared concurrently (another
        // incarnation committed first under the writer's one-batch
        // takeover window): the committed copy is the same rows —
        // drop ours
        if (!fs.exists(target))
          throw new java.io.IOException(
            s"staging rename $tmp -> $target failed with no committed copy")
        fs.delete(tmp, true)
      }
    }
  }
}
