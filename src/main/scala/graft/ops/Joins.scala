package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join operators: batch forms of the reference's 10 join variants
  * (willa `streams.clj:58-123`, semantics `experiment.clj:84-131`).
  *
  * Scale notes baked into each builder:
  *  - equi-keys always appear in the join condition first so Catalyst
  *    plans a hash/sort-merge join partitioned on the key, with the time
  *    predicate as a post-join filter inside the same stage — never a
  *    cartesian;
  *  - broadcast variants wrap the dimension side in `broadcast()`;
  *  - as-of joins avoid per-row subqueries: union + one window function
  *    = one shuffle on the key, linear scan within partitions.
  */
object Joins {

  /** Stream–stream windowed join (#22-24): equal keys and
    * `ts_r ∈ [ts_l − before, ts_l + after]` (`experiment.clj:10-24`);
    * output ts = max of the two (`experiment.clj:87-91`). */
  def interval(
      left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTs: Column, rightTs: Column,
      beforeMs: Long, afterMs: Long,
      joinType: String = "inner"): DataFrame = {
    val cond = leftKey === rightKey &&
      rightTs >= (leftTs - expr(s"INTERVAL $beforeMs MILLISECONDS")) &&
      rightTs <= (leftTs + expr(s"INTERVAL $afterMs MILLISECONDS"))
    left.join(right, cond, joinType)
  }

  /** Stream–table as-of join (#29, `experiment.clj:64-81`): for each left
    * record, the latest right value with `right.ts <= left.ts`, equal key.
    *
    * Implementation: union both sides tagged, one window
    * `last(right_value) ignoreNulls over (partition by key order by ts,
    * side)` — right rows sort before left rows at equal ts so a same-ts
    * table update is visible (reference resolves equal-ts by processing
    * table records first in its sorted fold, `experiment.clj:64-81`).
    * One shuffle on the key; no per-row lookup.
    *
    * @param leftCols  columns of `left` to carry through (record shape)
    * @param rightVal  single column of `right` to expose as `rightAs`
    */
  def asOf(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightVal: String, rightAs: String,
      inner: Boolean): DataFrame = {
    val lTag = left.withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(rightVal).dataType))
      .withColumnRenamed(leftKey, "__k").withColumnRenamed(leftTs, "__t")
    val carried = lTag.columns.filterNot(Set("__side", "__rv", "__k", "__t"))
    val rTag = right.select(
      col(rightKey).as("__k"), col(rightTs).as("__t"),
      lit(0).as("__side"), col(rightVal).as("__rv"))
    val unioned = lTag.select(
      (Seq("__k", "__t", "__side", "__rv") ++ carried).map(col): _*)
      .unionByName(rTag.select(
        (Seq("__k", "__t", "__side", "__rv").map(col) ++
          carried.map(c => lit(null).cast(lTag.schema(c).dataType).as(c))): _*))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = unioned
      .withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__rv")
      .withColumnRenamed("__asof", rightAs)
      .withColumnRenamed("__k", leftKey).withColumnRenamed("__t", leftTs)
    if (inner) joined.filter(col(rightAs).isNotNull) else joined
  }

  /** Forward as-of join — the pandas `merge_asof(direction="forward")`
    * / QuestDB LT-JOIN-mirrored shape [[asOf]] doesn't cover: for each
    * left record, the EARLIEST right value with `right.ts >= left.ts`,
    * equal key ("what happened next": the first fill after an order,
    * the next session after a signup). Same one-union-one-window plan
    * as [[asOf]] mirrored — `first(right_value) ignoreNulls` over a
    * current-row-to-unbounded-FOLLOWING frame, ordered (ts, side desc)
    * so a same-ts right row sorts after the left row and stays visible
    * (inclusive, like the backward form). One shuffle on the key. */
  def asOfForward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightVal: String, rightAs: String,
      inner: Boolean): DataFrame =
    asOfDirectional(left, right, leftKey, rightKey, leftTs, rightTs,
      rightVal, rightAs, inner, nearest = false)

  /** Nearest as-of join — pandas `merge_asof(direction="nearest")`: for
    * each left record, the right value whose timestamp is CLOSEST in
    * either direction (ties, including an exact-ts match, resolve
    * BACKWARD — the pandas convention). Both candidate scans share the
    * single union and key exchange (two in-partition window sorts, no
    * second shuffle, no join-back). Requires timestamp-typed ts
    * columns: the distance compare is exact integer µs. */
  def asOfNearest(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightVal: String, rightAs: String,
      inner: Boolean): DataFrame =
    asOfDirectional(left, right, leftKey, rightKey, leftTs, rightTs,
      rightVal, rightAs, inner, nearest = true)

  /** Backward as-of join WITH a staleness bound — pandas
    * `merge_asof(tolerance=...)`: the latest right value with
    * `right.ts <= left.ts`, but only if it is at most `toleranceUs`
    * old; a staler match reads as NO match (null / dropped under
    * `inner`). The real-world contract of most lookups ("the quote as
    * of the trade — unless the feed was down for an hour, in which
    * case don't price off it"). Same single union + window plan as
    * [[asOf]], carrying (ts, value) structs so the age check is an
    * exact integer-µs compare; requires timestamp-typed ts columns. */
  def asOfWithin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightVal: String, rightAs: String,
      toleranceUs: Long, inner: Boolean): DataFrame = {
    require(toleranceUs >= 0, s"toleranceUs >= 0, got $toleranceUs")
    asOfDirectional(left, right, leftKey, rightKey, leftTs, rightTs,
      rightVal, rightAs, inner, nearest = false, backward = true,
      toleranceUs = Some(toleranceUs))
  }

  private def asOfDirectional(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightVal: String, rightAs: String,
      inner: Boolean, nearest: Boolean, backward: Boolean = false,
      toleranceUs: Option[Long] = None): DataFrame = {
    val lTag = left.withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(rightVal).dataType))
      .withColumnRenamed(leftKey, "__k").withColumnRenamed(leftTs, "__t")
    val carried = lTag.columns.filterNot(Set("__side", "__rv", "__k", "__t"))
    val rTag = right.select(
      col(rightKey).as("__k"), col(rightTs).as("__t"),
      lit(0).as("__side"), col(rightVal).as("__rv"))
    val unioned = lTag.select(
      (Seq("__k", "__t", "__side", "__rv") ++ carried).map(col): _*)
      .unionByName(rTag.select(
        (Seq("__k", "__t", "__side", "__rv").map(col) ++
          carried.map(c => lit(null).cast(lTag.schema(c).dataType).as(c))): _*))
    // right rows carried as (ts, value) structs so nearest can compare
    // distances; null for left rows (ignoreNulls skips them)
    val rStruct = when(col("__side") === 0,
      struct(col("__t").as("t"), col("__rv").as("v")))
    val wF = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withFwd = unioned.withColumn("__mf", first(rStruct, ignoreNulls = true).over(wF))
    val resolved =
      if (backward) {
        val wB = Window.partitionBy(col("__k"))
          .orderBy(col("__t"), col("__side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val aged = unioned
          .withColumn("__mb", last(rStruct, ignoreNulls = true).over(wB))
        val fresh = toleranceUs.map(tol =>
          unix_micros(col("__t")) - unix_micros(col("__mb.t")) <= tol)
          .getOrElse(lit(true))
        aged.withColumn("__m", when(col("__mb").isNotNull && fresh,
          col("__mb.v")))
      } else if (!nearest) withFwd.withColumn("__m", col("__mf.v"))
      else {
        val wB = Window.partitionBy(col("__k"))
          .orderBy(col("__t"), col("__side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        withFwd
          .withColumn("__mb", last(rStruct, ignoreNulls = true).over(wB))
          .withColumn("__m",
            when(col("__mb").isNull, col("__mf.v"))
              .when(col("__mf").isNull, col("__mb.v"))
              .when(unix_micros(col("__t")) - unix_micros(col("__mb.t")) <=
                unix_micros(col("__mf.t")) - unix_micros(col("__t")),
                col("__mb.v"))
              .otherwise(col("__mf.v")))
      }
    val joined = resolved
      .filter(col("__side") === 1)
      .select((Seq(col("__k").as(leftKey), col("__t").as(leftTs)) ++
        carried.map(col) :+ col("__m").as(rightAs)): _*)
    if (inner) joined.filter(col(rightAs).isNotNull) else joined
  }

  /** Skew-resistant as-of join: identical semantics to [[asOf]], but a
    * hot key no longer serializes into one window task. Two passes:
    *
    *  1. bucket the timeline per key into `bucketMs` ranges; within each
    *     (key, bucket) run the same union+window scan — parallelism is now
    *     keys × buckets, so one key's history splits across tasks;
    *  2. the per-(key, bucket) LAST right-value (one row per bucket — tiny)
    *     is prefix-scanned per key (a window over the small bucket table)
    *     to produce each bucket's carry-in, joined back and coalesced
    *     with the in-bucket running value.
    *
    * Cost: one extra shuffle of the bucket-summary table (|keys| ×
    * |buckets| rows) against pass 1's full shuffle — negligible — in
    * exchange for bounding any task at one bucket of one key. */
  def asOfBucketed(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightVal: String, rightAs: String,
      inner: Boolean, bucketMs: Long): DataFrame = {
    val lTag = left.withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(rightVal).dataType))
      .withColumnRenamed(leftKey, "__k").withColumnRenamed(leftTs, "__t")
    val carried = lTag.columns.filterNot(Set("__side", "__rv", "__k", "__t"))
    val rTag = right.select(
      col(rightKey).as("__k"), col(rightTs).as("__t"),
      lit(0).as("__side"), col(rightVal).as("__rv"))
    val unioned = lTag.select(
      (Seq("__k", "__t", "__side", "__rv") ++ carried).map(col): _*)
      .unionByName(rTag.select(
        (Seq("__k", "__t", "__side", "__rv").map(col) ++
          carried.map(c => lit(null).cast(lTag.schema(c).dataType).as(c))): _*))
      .withColumn("__b", (unix_millis(col("__t")) / bucketMs).cast("long"))

    // pass 1: in-bucket running last right-value; parallel in (key, bucket)
    val wIn = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = unioned.withColumn("__in", last(col("__rv"), ignoreNulls = true).over(wIn))

    // pass 2: carry-in per bucket = last right-value of any EARLIER bucket
    // (one row per (key, bucket); the prefix window runs over a tiny table)
    val bucketLast = unioned.filter(col("__side") === 0)
      .groupBy(col("__k"), col("__b"))
      .agg(graft.functions.ArgExtremum.maxBy(
        col("__rv"), struct(col("__t"), col("__side"))).as("__bl"))
    // occupied buckets (including left-only ones, which have no bucketLast
    // row) get their carry from the latest earlier bucket's last value
    val carryAll = unioned.select(col("__k"), col("__b")).distinct()
      .join(bucketLast.select(col("__k"), col("__b"), col("__bl")), Seq("__k", "__b"), "left")
      .withColumn("__carry",
        last(col("__bl"), ignoreNulls = true).over(
          Window.partitionBy(col("__k")).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__k").as("__ck"), col("__b").as("__cb"), col("__carry"))

    val joined = scanned
      .join(carryAll,
        col("__k") === col("__ck") && col("__b") === col("__cb"), "left")
      .withColumn("__res", coalesce(col("__in"), col("__carry")))
      .filter(col("__side") === 1)
      .drop("__side", "__rv", "__in", "__b", "__ck", "__cb", "__carry")
      .withColumnRenamed("__res", rightAs)
      .withColumnRenamed("__k", leftKey).withColumnRenamed("__t", leftTs)
      .select((Seq(leftKey, leftTs) ++ carried :+ rightAs).map(col): _*)
    if (inner) joined.filter(col(rightAs).isNotNull) else joined
  }

  /** Skew-resistant equi-join for when BOTH sides are too big to
    * broadcast and the big side's key distribution is skewed: a hot key
    * hashes its entire partition onto one reducer, and that one task
    * dominates the stage. Salting splits each key into `nSalts` synthetic
    * sub-keys — the big (probe) side gets a uniform salt per ROW, the
    * small (build) side is replicated once per salt VALUE — so a hot
    * key's rows spread over `nSalts` reducers. Results are identical to
    * the plain join: every probe row meets exactly one copy of each
    * matching build row (the one sharing its salt).
    *
    * Cost model: build side shuffles `nSalts`× its size; probe side
    * shuffles once, as it must. Use when probe skew dominates build
    * replication — the standard regime at 100 TB (multi-TB fact table,
    * GB-scale but above-broadcast-threshold dimension). AQE's skew-join
    * splitting handles the sort-merge case at runtime; explicit salting
    * also covers hash aggregates downstream and engines/configs where AQE
    * can't kick in (e.g. a skewed key feeding a stateful op).
    *
    * The probe salt only affects placement, never results, so any
    * near-uniform assignment works; the per-partition row index cycles
    * through all salts even when a hot key's rows are byte-identical
    * (a content hash would re-collapse those onto one reducer).
    * Supported join types: `inner` and `left` (probe side preserved);
    * build-side-preserving types would need the unmatched build rows
    * deduplicated across their `nSalts` copies. */
  def salted(
      big: DataFrame, small: DataFrame, keys: Seq[String],
      nSalts: Int, joinType: String = "inner"): DataFrame = {
    require(nSalts >= 1, s"nSalts must be >= 1, got $nSalts")
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"salted join preserves the probe side only: inner/left, got $joinType")
    val saltedBig = big.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(nSalts.toLong)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until nSalts).map(lit): _*)))
    saltedBig.join(saltedSmall, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Point-in-range join without a nested loop: `points.pointVal ∈
    * [ranges.lo, ranges.hi]` (inclusive both ends), optionally with equal
    * `keys` first. Spark plans a bare non-equi predicate as
    * BroadcastNestedLoopJoin (or a cartesian when neither side fits in
    * memory) — every point row is tested against every range. This
    * builder turns it into an EQUI-join: bin the number line into
    * `bucketWidth`-sized buckets, land each point in its one bucket,
    * explode each range over the buckets it overlaps, equi-join on the
    * bucket (+ keys), and keep the exact range predicate as a residual
    * filter in the same stage. Each (point, range) match is produced
    * exactly once — a point lives in exactly one bucket — so no dedup
    * pass is needed.
    *
    * Scale shape: one hash shuffle on (keys, bucket); range replication =
    * `(hi-lo)/bucketWidth + 1` copies, so pick `bucketWidth` near the
    * typical range length (replication stays O(1)). `maxBucketsPerRange`
    * fail-fasts on a degenerate range that would explode into an unbounded
    * bucket list (the analogue of the LSH bucket cap — at 100 TB one
    * open-ended range otherwise replicates across the whole number line).
    * Long/integer domains only (timestamps as epoch ms/µs) — floats bin
    * unreliably at bucket edges. */
  def rangeJoin(
      points: DataFrame, pointVal: String,
      ranges: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Long, keys: Seq[String] = Nil,
      maxBucketsPerRange: Long = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val pB = points.withColumn("__b", floor(col(pointVal) / bucketWidth))
    val bLo = floor(col(loCol) / bucketWidth)
    val bHi = floor(col(hiCol) / bucketWidth)
    // the guard is the sequence's own end bound so column pruning can
    // never optimize it away
    val bHiChecked = when(bHi - bLo >= maxBucketsPerRange,
      raise_error(concat(lit(s"rangeJoin: range wider than $maxBucketsPerRange" +
        s" buckets of $bucketWidth at "), col(loCol).cast("string"),
        lit(".."), col(hiCol).cast("string"))).cast("long"))
      .otherwise(bHi)
    val rB = ranges.withColumn("__b", explode(sequence(bLo, bHiChecked)))
    pB.join(rB, keys :+ "__b")
      .filter(col(pointVal) >= col(loCol) && col(pointVal) <= col(hiCol))
      .drop("__b")
  }

  /** Interval-overlap join — [[rangeJoin]]'s interval × interval
    * sibling: every (left, right) pair whose closed spans
    * `[lLo, lHi] ∩ [rLo, rHi] ≠ ∅` (optionally also matching on equi
    * `keys`), the "which maintenance windows did this session touch"
    * shape Spark's equi-joins cannot express and a naive `ON lLo <= rHi
    * AND rLo <= lHi` plans as a cartesian.
    *
    * Scale shape: both sides explode onto a fixed time grid
    * (`bucketWidth` units per cell) and equi-join on the cell, so the
    * exchange is keyed and replication is O(span / bucketWidth) per row
    * — pick bucketWidth near the typical span, as [[rangeJoin]]'s doc
    * says. A pair spanning several shared cells would surface once per
    * cell; instead of a post-join `distinct` (a second full shuffle of
    * the output), each pair is emitted ONLY in its first shared cell —
    * `max(floor(lLo/w), floor(rLo/w))`, a cell both sides provably
    * occupy when they overlap — an exactly-once filter inside the join
    * stage. `maxBucketsPerRange` fail-fasts degenerate spans on BOTH
    * sides. Long/integer domains only. Output: all left columns + all
    * right columns (names must be disjoint). */
  def intervalOverlapJoin(
      left: DataFrame, lLoCol: String, lHiCol: String,
      right: DataFrame, rLoCol: String, rHiCol: String,
      bucketWidth: Long, keys: Seq[String] = Nil,
      maxBucketsPerRange: Long = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    def buckets(df: DataFrame, lo: String, hi: String, side: String) = {
      val bLo = floor(col(lo) / bucketWidth)
      val bHi = floor(col(hi) / bucketWidth)
      val bHiChecked = when(bHi - bLo >= maxBucketsPerRange,
        raise_error(concat(lit(s"intervalOverlapJoin: $side span wider than " +
          s"$maxBucketsPerRange buckets of $bucketWidth at "),
          col(lo).cast("string"), lit(".."), col(hi).cast("string")))
          .cast("long"))
        .otherwise(bHi)
      df.withColumn("__b", explode(sequence(bLo, bHiChecked)))
    }
    buckets(left, lLoCol, lHiCol, "left")
      .join(buckets(right, rLoCol, rHiCol, "right"), keys :+ "__b")
      .filter(col(lLoCol) <= col(rHiCol) && col(rLoCol) <= col(lHiCol) &&
        col("__b") === greatest(floor(col(lLoCol) / bucketWidth),
          floor(col(rLoCol) / bucketWidth)))
      .drop("__b")
  }
}
