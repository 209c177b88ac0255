package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.{dsum, dsumSql, table}
import Query.Light

/** Relational analytics over the TPC-H tables: skew-salted and range
  * joins, top-n, rollups and cubes, sketches, set operations, quantiles
  * and audits. */
object RelationalQueries {

  /** Skew-salted fact-to-dimension equi-join ([[Joins.salted]]): lineitem
    * (probe) × orders (build) on the order key, spread over 8 salts, then
    * aggregated per priority. Result identical to the plain join — the
    * salt only changes row placement. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("orderkey"), col("l_quantity"))
    val ord = table(s, dir, "orders")
      .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
    graft.ops.Joins.salted(li, ord, Seq("orderkey"), nSalts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
  }

  /** Bucketed point-in-range join ([[Joins.rangeJoin]]): orders priced
    * into $50k bands (a 12-row ranges table Spark would otherwise plan as
    * BroadcastNestedLoop with a per-row range test). Prices as exact
    * cents (round half-up matches DuckDB on IEEE doubles). */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bandW = 5000000L // $50k in cents
    val bands = s.range(12).select(col("id").as("band_id"),
      (col("id") * bandW).as("lo"), ((col("id") + 1) * bandW - 1).as("hi"))
    val pts = table(s, dir, "orders").select(
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_totalprice"))
    graft.ops.Joins.rangeJoin(pts, "cents", bands, "lo", "hi",
      bucketWidth = 1000000L)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Grouped top-n via the bounded-heap aggregator ([[Rank.topNPerGroup]]):
    * top-3 suppliers by shipped quantity per nation. Quantities are
    * integral doubles, so the double-score ordering is exact on both
    * engines; ties break by ascending supplier id. */
  private def qTopNPerGroup(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem").select(col("l_suppkey"), col("l_quantity"))
    val sup = table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val nat = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val byNation = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
    graft.ops.Rank.topNPerGroup(byNation, Seq("n_name"), "s_suppkey", "sum_qty", 3)
      .select(col("n_name"), col("id").as("s_suppkey"),
        col("score").as("sum_qty"), col("rank"))
  }

  /** Multi-grain aggregate in one pass: ROLLUP over (returnflag,
    * linestatus) — detail rows, per-flag subtotals, and the grand total
    * from a single shuffle (each input row expands to its grouping
    * sets map-side; partial aggregation still applies). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))

  /** Deterministic train/val/test assignment ([[Sampling.hashSplit]]):
    * a pure function of (seed, doc_id) — reproducible across runs,
    * engines, and partitionings, mirrored exactly by the DuckDB oracle
    * through the shared md5-based hash. */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSplit(
      table(s, dir, "documents").select(col("doc_id")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s1")

  /** Sketch profile ([[Sketches.profile]]): per-language corpus summary.
    * The driver sees the DETERMINISTIC projection only — n_rows/val_min/
    * val_max are exact, and at sf0.01 every lang group holds far fewer
    * rows than percentile_approx's accuracy=10000, so val_p25/p50/p75
    * are exact order statistics, mirrored by DuckDB `quantile_disc`
    * (verified cell-for-cell on the driver data: 15/15 equal, including
    * integer-rank ties). The engine-specific HLL `approx_ids` column is
    * excluded here and covered by AnalyticsOpsSpec's error-bound test —
    * the driver has NO fallback check for un-oracled queries. */
  private def qSketchProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.profile(
      table(s, dir, "documents"), Seq("lang"), "doc_id", "n_chars")
      .drop("approx_ids")

  /** Set operations (absent from the reference, SURVEY §2.7): the user
    * cohorts that both clicked and purchased (INTERSECT) vs clicked and
    * never purchased (EXCEPT), tagged and unioned. Hash-shuffle
    * distincts on user_id — set ops are aggregates, not sorts. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    users("click").intersect(users("purchase"))
      .select(col("user_id"), lit("both").as("cohort"))
      .unionAll(users("click").except(users("purchase"))
        .select(col("user_id"), lit("click_only").as("cohort")))
  }

  /** Skew diagnostic: the heaviest keys and their traffic share — what a
    * pipeline inspects before choosing [[Joins.salted]] / AQE skew
    * handling. Count-per-key partial-aggregates map-side; the global
    * top-10 plans as TakeOrderedAndProject (per-partition heap + driver
    * merge of 10 rows — no full sort); the grand total joins back as a
    * broadcast of one row. */
  private def qHeavyKeys(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val total = ev.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", round(col("n") / col("__total"), 6))
      .select(col("user_id"), col("n"), col("share"))
      .orderBy(col("n").desc, col("user_id").asc)
      .limit(10)
  }

  /** Per-language length quartiles ([[graft.ops.Stats.quantileBuckets]]):
    * every document's quartile within its OWN language's n_chars
    * distribution — boundary table + broadcast join, never a per-group
    * corpus sort. At sf0.01 every language group is far below the
    * 10000 accuracy, so boundaries are exact order statistics and
    * DuckDB's quantile_disc mirrors them (the q45 argument). */
  private def qQuantileBuckets(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.quantileBuckets(
      table(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      "lang", "n_chars", Seq(0.25, 0.5, 0.75))

  /** Winsorized length stats ([[graft.ops.Stats.winsorizedMean]]):
    * per-language mean n_chars with values clamped to the language's
    * own [p05, p95] — tail-robust monitoring next to q81's quartiles. */
  private def qWinsorized(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.winsorizedMean(
      table(s, dir, "documents").select(col("lang"), col("n_chars")),
      "lang", "n_chars", lo = 0.05, hi = 0.95)

  /** Referential-integrity audit ([[graft.ops.Quality
    * .referentialIntegrity]]) over the relational tables: orders →
    * customer (with every 13th custkey negated, the q94-style
    * synthetic drift, so the audit genuinely fires) and lineitem →
    * orders (clean by construction — the passing row is the control). */
  private def qFkAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    val badOrders = table(s, dir, "orders").withColumn("o_custkey",
      when(col("o_orderkey") % 13 === 0, -col("o_custkey"))
        .otherwise(col("o_custkey")))
    Quality.referentialIntegrity("orders->customer", badOrders,
      "o_custkey", table(s, dir, "customer"), "c_custkey")
      .unionByName(Quality.referentialIntegrity("lineitem->orders",
        table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders"), "o_orderkey"))
  }

  /** Corpus CUBE ([[graft.ops.Stats.cubeSummary]]): counts and exact
    * char totals for every subset of (source, lang) — per source, per
    * language, per cell, and overall — in one Expand + hash-aggregate
    * pass; `gid` is the grouping bitmask rebuilt from per-column
    * grouping bits so both engines agree on it. */
  private def qCubeSummary(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cubeSummary(table(s, dir, "documents"),
      Seq("source", "lang"), "n_chars")

  /** Robust per-source size outliers ([[graft.ops.Stats.medianMad]]):
    * docs whose |n_chars − source median| exceeds 3 × the source's MAD
    * — the robust sibling of q76's z-score flags, decided by the same
    * integer cross-multiplication discipline. */
  private def qMedianMad(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.medianMad(
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", kNum = 3L, kDen = 1L)

  /** Stratified exact-n sample ([[graft.ops.Sampling.stratifiedExactN]]):
    * exactly 60 docs, per-source counts by largest-remainder
    * apportionment, membership by the q44/q71 ascending-hash rank. */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedExactN(
      table(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", "doc_id", n = 60, seed = "strat1")

  /** Per-source percentile digest ([[graft.ops.Stats.percentilesDisc]]):
    * p25/p50/p75/p95 of n_chars in one histogram pass — every cut an
    * observed value under the q107 integer disc rule. */
  private def qPercentileDigest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.percentilesDisc(
      table(s, dir, "documents").select(col("source"), col("n_chars")),
      "source", "n_chars", Seq(2500, 5000, 7500, 9500))

  /** Split balance audit ([[graft.ops.Sampling.hashSplit]] composed
    * into [[graft.ops.Stats.cubeSummary]]): q44's assignment rolled up
    * by every subset of (split, source) — the fairness report that
    * catches a skewed split before training does. */
  private def qSplitAudit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cubeSummary(
      graft.ops.Sampling.hashSplit(
        table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), "s1"),
      Seq("split", "source"), "n_chars")

  val all: Seq[Query] = Seq(
    // the salt never changes results — the oracle is the PLAIN join
    Query("q40_salted_join", Light,
      s"""SELECT o_orderpriority, count(*) AS n_items,
        | ${dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)(qSaltedJoin),
    // bucketing never changes results — the oracle is the naive
    // range-predicate join
    Query("q41_range_join", Light,
      s"""WITH bands AS (SELECT band_id, band_id * 5000000 AS lo,
        |  (band_id + 1) * 5000000 - 1 AS hi FROM range(12) t(band_id)),
        |p AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_totalprice FROM orders)
        |SELECT band_id, count(*) AS n_orders,
        | ${dsumSql("o_totalprice")} AS sum_price
        |FROM p JOIN bands ON cents >= lo AND cents <= hi
        |GROUP BY 1""".stripMargin)(qRangeJoin),
    Query("q42_topn_per_group", Light,
      s"""WITH rev AS (SELECT n_name, s_suppkey,
        |  ${dsumSql("l_quantity")} AS sum_qty
        | FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | GROUP BY 1, 2)
        |SELECT n_name, s_suppkey, sum_qty,
        | CAST(row_number() OVER (PARTITION BY n_name
        |   ORDER BY sum_qty DESC, s_suppkey ASC) AS BIGINT) AS rank
        |FROM rev QUALIFY rank <= 3""".stripMargin)(qTopNPerGroup),
    Query("q43_rollup", Light,
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | ${dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)(qRollup),
    Query("q44_hash_split", Light,
      """SELECT doc_id,
        | CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x'||substr(md5('s1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 10000 AS h
        | FROM documents)""".stripMargin)(qHashSplit),
    // q45: quartiles via quantile_disc — equal to Spark's
    // percentile_approx@10000 whenever groups are smaller than the
    // accuracy (exact order statistics on both engines). The HLL column
    // is excluded from the driver surface (unit-tested instead): a query
    // with no oracleSql entry is entirely unattested by the driver.
    Query("q45_sketch_profile", Light,
      """SELECT lang, count(*) AS n_rows,
        | min(n_chars) AS val_min, max(n_chars) AS val_max,
        | quantile_disc(n_chars, 0.25) AS val_p25,
        | quantile_disc(n_chars, 0.5) AS val_p50,
        | quantile_disc(n_chars, 0.75) AS val_p75
        |FROM documents GROUP BY lang""".stripMargin)(qSketchProfile),
    Query("q49_set_ops", Light,
      """SELECT user_id, 'both' AS cohort FROM (
        | SELECT user_id FROM events WHERE event_type = 'click'
        | INTERSECT
        | SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_only' AS cohort FROM (
        | SELECT user_id FROM events WHERE event_type = 'click'
        | EXCEPT
        | SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin)(qSetOps),
    Query("q52_heavy_keys", Light,
      """WITH t AS (SELECT count(*) AS total FROM events),
        |c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
        |SELECT user_id, n, round(n / total, 6) AS share
        |FROM c, t
        |ORDER BY n DESC, user_id ASC
        |LIMIT 10""".stripMargin)(qHeavyKeys),
    // quantile_disc == percentile_approx@10000 below the accuracy (the
    // q45 argument); strict-greater bucket arithmetic, boundary ties
    // land low on both engines.
    Query("q81_quantile_buckets", Light,
      """WITH b AS (SELECT lang,
        |  quantile_disc(n_chars, 0.25) AS q1,
        |  quantile_disc(n_chars, 0.5) AS q2,
        |  quantile_disc(n_chars, 0.75) AS q3
        | FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars,
        | CAST(1 + (CASE WHEN d.n_chars > b.q1 THEN 1 ELSE 0 END)
        |   + (CASE WHEN d.n_chars > b.q2 THEN 1 ELSE 0 END)
        |   + (CASE WHEN d.n_chars > b.q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |FROM documents d JOIN b USING (lang)""".stripMargin)(qQuantileBuckets),
    // quantile_disc boundaries (the q81 accuracy argument), integer
    // clamp, exact integer sums, one double division at 6 dp.
    Query("q87_winsorized_mean", Light,
      """WITH b AS (SELECT lang, quantile_disc(n_chars, 0.05) AS lo,
        |   quantile_disc(n_chars, 0.95) AS hi
        | FROM documents GROUP BY 1)
        |SELECT d.lang, count(*) AS n,
        | CAST(b.lo AS BIGINT) AS lo_bound, CAST(b.hi AS BIGINT) AS hi_bound,
        | round(CAST(sum(CAST(d.n_chars AS HUGEINT)) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_raw,
        | round(CAST(sum(CAST(greatest(b.lo, least(d.n_chars, b.hi))
        |     AS HUGEINT)) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS mean_winsorized
        |FROM documents d JOIN b USING (lang)
        |GROUP BY 1, 3, 4""".stripMargin)(qWinsorized),
    // Orphans counted over distinct-FK semantics (NOT IN the parent
    // key set); exact basis points by integer floor division.
    Query("q121_fk_audit", Light,
      """WITH bo AS (SELECT CASE WHEN o_orderkey % 13 = 0
        |    THEN -o_custkey ELSE o_custkey END AS fk FROM orders),
        |a1 AS (SELECT 'orders->customer' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |  CAST(sum(CASE WHEN fk IS NOT NULL AND fk NOT IN
        |    (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        | FROM bo),
        |a2 AS (SELECT 'lineitem->orders' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        | FROM lineitem)
        |SELECT relation, n_rows, n_null_fk, n_orphans,
        | CAST((n_orphans * 10000) // greatest(n_rows - n_null_fk, 1) AS BIGINT) AS orphan_bp,
        | n_orphans = 0 AS passed
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)""".stripMargin)(qFkAudit),
    // The gid bitmask is rebuilt from per-column GROUPING bits on both
    // engines (first dim = most significant), so neither engine's
    // native grouping_id bit order is trusted.
    Query("q123_cube_summary", Light,
      """SELECT coalesce(source, '<all>') AS source,
        |  coalesce(lang, '<all>') AS lang,
        |  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin)(qCubeSummary),
    // The lower-median (disc) convention of q107 applied twice — value
    // histogram then deviation histogram — and the outlier decided by
    // the integer cross-multiplication |v−med|·kDen > mad·kNum.
    Query("q127_median_mad", Light,
      """WITH h AS (SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |   sum(c) OVER (PARTITION BY source ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cum,
        |   sum(c) OVER (PARTITION BY source) AS n FROM h),
        |med AS (SELECT source, CAST(min(v) AS BIGINT) AS median
        | FROM cum WHERE cum * 2 >= n GROUP BY 1),
        |dh AS (SELECT h.source, abs(v - median) AS dev, sum(c) AS c
        | FROM h JOIN med ON h.source = med.source GROUP BY 1, 2),
        |dcum AS (SELECT source, dev,
        |   sum(c) OVER (PARTITION BY source ORDER BY dev
        |     ROWS UNBOUNDED PRECEDING) AS cum,
        |   sum(c) OVER (PARTITION BY source) AS n FROM dh),
        |mad AS (SELECT source, CAST(min(dev) AS BIGINT) AS mad
        | FROM dcum WHERE cum * 2 >= n GROUP BY 1)
        |SELECT doc_id, d.source, n_chars, median, mad,
        |  abs(n_chars - median) * 1 > mad * 3 AS is_outlier
        |FROM documents d
        |JOIN med ON d.source = med.source
        |JOIN mad ON d.source = mad.source""".stripMargin)(qMedianMad),
    // Largest-remainder apportionment on the groups table, then q71's
    // ascending-52-bit-hash rank cut at the per-source quota.
    Query("q130_stratified_sample", Light,
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |t AS (SELECT source, c,
        |   CAST((60 * c) // sum(c) OVER () AS BIGINT) AS base,
        |   CAST((60 * c) % sum(c) OVER () AS BIGINT) AS rem FROM c),
        |a AS (SELECT source, c, LEAST(base + CASE WHEN
        |    row_number() OVER (ORDER BY rem DESC, source ASC)
        |      <= 60 - sum(base) OVER () THEN 1 ELSE 0 END, c) AS quota
        | FROM t),
        |h AS (SELECT doc_id, source,
        |   CAST(('0x' || substr(md5('strat1' || CAST(doc_id AS VARCHAR)),
        |     1, 15)) AS BIGINT) % 4503599627370496 AS r FROM documents),
        |rk AS (SELECT doc_id, source, row_number() OVER (
        |   PARTITION BY source ORDER BY r ASC, doc_id ASC) AS rk FROM h)
        |SELECT rk.doc_id, rk.source
        |FROM rk JOIN a ON rk.source = a.source WHERE rk <= quota""".stripMargin)(qStratifiedSample),
    // One histogram, one cumulative window, four disc cuts under the
    // q107 integer rule (cum·10⁴ ≥ n·bp).
    Query("q131_percentile_digest", Light,
      """WITH h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |   CAST(sum(c) OVER (PARTITION BY source ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |   CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM h)
        |SELECT source, CAST(min(n) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 2500 THEN v END) AS BIGINT) AS p2500,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 5000 THEN v END) AS BIGINT) AS p5000,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 7500 THEN v END) AS BIGINT) AS p7500,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 9500 THEN v END) AS BIGINT) AS p9500
        |FROM cum GROUP BY 1""".stripMargin)(qPercentileDigest),
    // q44's split assignment rolled up by CUBE (split, source) under
    // the q123 gid/sentinel conventions.
    Query("q135_split_audit", Light,
      """WITH sp AS (SELECT source, n_chars,
        |  CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM (SELECT source, n_chars,
        |   CAST(('0x'||substr(md5('s1'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |     % 10000 AS h
        |  FROM documents))
        |SELECT coalesce(split, '<all>') AS split,
        |  coalesce(source, '<all>') AS source,
        |  CAST(GROUPING(split) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size
        |FROM sp GROUP BY CUBE (split, source)""".stripMargin)(qSplitAudit),
  )
}
