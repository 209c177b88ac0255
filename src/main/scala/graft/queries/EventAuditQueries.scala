package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.eventsDf
import Query.Light

/** Point-in-time and audit analytics over `events`: as-of joins, group
  * outliers, drift, attribution, quality checks, SCD2 history, daily
  * spikes, lifecycle states and interval overlap. */
object EventAuditQueries {

  /** Per-group z-score outliers ([[graft.ops.Stats.outliersByGroup]]):
    * events whose whole-unit value sits more than 3 population-σ from
    * their event type's mean, decided by the integer cross-multiplied
    * inequality (no float moment ever computed) — the value
    * distribution is exponential-ish (σ ≈ μ ≈ 50, max ≈ 8σ), so the
    * 3σ tail flags real rows. */
  private def qOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.outliersByGroup(
      eventsDf(s, dir).select(col("event_id"), col("event_type"),
        round(col("value")).cast("long").as("units")),
      "event_type", "units", zNum = 3L)

  /** Per-type value drift ([[graft.ops.Stats.driftByGroup]]): OLS slope
    * and signed r² of integer units against the epoch-day index, from
    * exact DECIMAL(38,0) moments — distribution-shift monitoring with
    * engine-identical numbers. */
  private def qDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.driftByGroup(
      eventsDf(s, dir).select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long")
          .as("day_idx"),
        round(col("value")).cast("long").as("units")),
      "event_type", "day_idx", "units")

  /** Attribution matrix ([[graft.ops.Events.attribution]]): per-user
    * first/last event type by (ts, event_id), cross-tabulated — one
    * argmin/argmax hash aggregate, no per-user window sort. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.attribution(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", "event_id")

  /** Constraint report ([[graft.ops.Quality.check]]): the pre-training
    * validation gate in one aggregation job — exact integer metrics
    * (the uniqueness check is exact, not sketched). The in_range rule
    * is deliberately tighter than the data so the report exercises a
    * failing row. */
  private def qQualityCheck(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality._
    check(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), round(col("value")).cast("long").as("units")),
      Seq(NotNull("user_id"), Unique("event_id"),
        InRange("units", 0L, 100L),
        InSet("event_type",
          Seq("view", "click", "purchase", "signup", "error"))))
  }

  /** Directional as-of joins ([[graft.ops.Joins.asOfForward]] /
    * [[graft.ops.Joins.asOfNearest]]): q10's purchase→signup
    * enrichment with the pandas merge_asof forward / nearest
    * directions — next-signup-after and closest-signup-either-way
    * (exact-ts and equidistant ties resolve backward). */
  private def qAsOfDir(s: SparkSession, dir: String, nearest: Boolean): DataFrame = {
    val ev = eventsDf(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value").as("purchase_val"), col("ts"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("value").as("sv"), col("ts"))
    val j = if (nearest)
      graft.ops.Joins.asOfNearest(p, sg, "user_id", "user_id", "ts", "ts",
        "sv", "signup_val", inner = false)
    else
      graft.ops.Joins.asOfForward(p, sg, "user_id", "user_id", "ts", "ts",
        "sv", "signup_val", inner = false)
    j.select(col("user_id"), col("purchase_val"), col("signup_val"),
      unix_micros(col("ts")).as("ts_us"))
  }

  /** Daily volume spikes ([[graft.ops.Stats.outliersByGroup]] COMPOSED
    * over per-(type, day) event counts): days whose count sits more
    * than 2 population-σ from their type's daily mean — time-series
    * spike detection in the same integer cross-multiplied moment space
    * as q76, run on the aggregate instead of the rows. */
  private def qDailySpikes(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsDf(s, dir)
      .select(col("event_type"), // exact integer day index (div == //)
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_day"))
    graft.ops.Stats.outliersByGroup(daily, "event_type", "n_day",
      zNum = 2, zDen = 1)
      .select(col("event_type"), col("day"), col("n_day"),
        col("n_group"), col("is_outlier"))
  }

  /** User lifecycle classification: first/last event per user against
    * the corpus end — new (first seen < 29 days ago), churned (silent
    * ≥ 1 day), active otherwise; thresholds scaled to the fixture's
    * 30-day span so all three branches genuinely fire (the production
    * analogues are 7/14 against months of history). One user-keyed
    * aggregate + a broadcast 1-row corpus max; day arithmetic in
    * exact integer µs. */
  private def qUserLifecycle(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val spans = eventsDf(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
    spans.crossJoin(broadcast(
        spans.agg(max(col("last_us")).as("__asof"))))
      .select(col("user_id"),
        floor((col("__asof") - col("first_us")) / day).as("days_known"),
        floor((col("__asof") - col("last_us")) / day).as("days_silent"))
      .withColumn("status",
        when(col("days_known") < 29, "new")
          .when(col("days_silent") >= 1, "churned")
          .otherwise("active"))
  }

  /** SCD-type-2 compaction ([[graft.ops.Keyed.scd2History]]): each
    * user's event_type as a tracked dimension attribute — consecutive
    * same-type events compact into one version with [from, to)
    * validity. */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Keyed.scd2History(
      eventsDf(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id")),
      Seq("user_id"), "ts_us", Seq("event_type"), "event_id")

  /** Tolerance-bounded backward as-of ([[graft.ops.Joins.asOfWithin]]):
    * q10's purchase←signup lookup, but a signup older than 6 hours
    * reads as NO match — pandas merge_asof(tolerance=...). */
  private def qAsOfWithin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsDf(s, dir)
    graft.ops.Joins.asOfWithin(
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value").as("purchase_val"), col("ts")),
      ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("value").as("sv"), col("ts")),
      "user_id", "user_id", "ts", "ts", "sv", "signup_val",
      toleranceUs = 21600000000L, inner = false)
      .select(col("user_id"), col("purchase_val"), col("signup_val"),
        unix_micros(col("ts")).as("ts_us"))
  }

  /** Interval-overlap join ([[graft.ops.Joins.intervalOverlapJoin]]):
    * per-(user, day) activity spans against four fixed 2-hour audit
    * windows per observed day — which windows saw how many active
    * spans/users. The engine joins span × window on a 6-hour bucket
    * grid with the first-shared-cell exactly-once filter (no distinct,
    * no cartesian); the oracle states the raw overlap inequality. */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val ev = eventsDf(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("day", expr("ts_us div 86400000000"))
    val spans = ev.groupBy(col("user_id"), col("day"))
      .agg(min(col("ts_us")).as("s_lo"), max(col("ts_us")).as("s_hi"))
      .drop("day")
    val wins = ev.select(col("day")).distinct()
      .withColumn("k", explode(sequence(lit(0L), lit(3L))))
      .select((col("day") * 4 + col("k")).as("window_id"),
        (col("day") * day + col("k") * 21600000000L).as("w_lo"))
      .withColumn("w_hi", col("w_lo") + 7200000000L - 1)
    graft.ops.Joins.intervalOverlapJoin(
        spans, "s_lo", "s_hi", wins, "w_lo", "w_hi",
        bucketWidth = 21600000000L)
      .groupBy(col("window_id"), col("w_lo"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val all: Seq[Query] = Seq(
    // The cross-multiplied z-inequality in HUGEINT — DuckDB's exact
    // 128-bit integers mirror Spark's DECIMAL(38,0) arithmetic.
    Query("q76_group_outliers", Light,
      """WITH e AS (SELECT event_id, event_type,
        |  CAST(round(value) AS BIGINT) AS units FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CAST(units AS HUGEINT)) AS HUGEINT) AS s,
        |  CAST(sum(CAST(units AS HUGEINT) * units) AS HUGEINT) AS q
        | FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.units,
        | CAST(m.n AS BIGINT) AS n_group,
        | ((m.n * e.units - m.s) * (m.n * e.units - m.s)
        |   > 9 * (m.n * m.q - m.s * m.s)) AS is_outlier
        |FROM e JOIN m USING (event_type)""".stripMargin)(qOutliers),
    // Exact HUGEINT moments (the q76 mirror of DECIMAL(38,0)); floats
    // only in the last step — one cast per moment, same IEEE tree.
    Query("q85_drift_by_group", Light,
      """WITH e AS (SELECT event_type,
        |   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS x,
        |   CAST(round(value) AS BIGINT) AS y FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |   sum(CAST(x AS HUGEINT) * x) AS sxx,
        |   sum(CAST(y AS HUGEINT) * y) AS syy,
        |   sum(CAST(x AS HUGEINT) * y) AS sxy
        | FROM e GROUP BY 1),
        |c AS (SELECT event_type, n, n * sxy - sx * sy AS cov,
        |   n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | CASE WHEN vx = 0 THEN NULL ELSE
        |   round(CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE), 6) END AS slope,
        | CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
        |   round((CASE WHEN cov < 0 THEN -1.0 ELSE 1.0 END)
        |     * CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
        |     / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6)
        |   END AS corr2_signed
        |FROM c""".stripMargin)(qDrift),
    // Per-user endpoints by (ts_us, event_id) — the argmin/argmax
    // aggregate replayed as rank-1 windows (oracle-side only; the
    // engine never sorts per user).
    Query("q86_attribution", Light,
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT user_id, event_type AS first_touch FROM
        |  (SELECT user_id, event_type, row_number() OVER (
        |     PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)
        |     AS rn FROM e) WHERE rn = 1),
        |l AS (SELECT user_id, event_type AS last_touch FROM
        |  (SELECT user_id, event_type, row_number() OVER (
        |     PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC)
        |     AS rn FROM e) WHERE rn = 1),
        |n AS (SELECT user_id, count(*) AS c FROM e GROUP BY 1)
        |SELECT f.first_touch, l.last_touch,
        | count(*) AS n_users, CAST(sum(n.c) AS BIGINT) AS n_events
        |FROM f JOIN l USING (user_id) JOIN n USING (user_id)
        |GROUP BY 1, 2""".stripMargin)(qAttribution),
    // One wide scalar aggregate melted to the long report; exact
    // integer metrics only (the uniqueness check is count - count
    // distinct, not a sketch).
    Query("q88_quality_check", Light,
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(round(value) AS BIGINT) AS units FROM events),
        |w AS (SELECT count(*) AS n,
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v1,
        |  count(event_id) - count(DISTINCT event_id) AS v2,
        |  sum(CASE WHEN units IS NOT NULL AND (units < 0 OR units > 100)
        |      THEN 1 ELSE 0 END) AS v3,
        |  sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
        |      ('view','click','purchase','signup','error')
        |      THEN 1 ELSE 0 END) AS v4
        | FROM e)
        |SELECT CAST(1 AS BIGINT) AS rank, 'not_null(user_id)' AS rule,
        |  'user_id' AS col_name, n AS n_rows,
        |  CAST(v1 AS BIGINT) AS n_violations, v1 = 0 AS passed FROM w
        |UNION ALL SELECT 2, 'unique(event_id)', 'event_id', n,
        |  CAST(v2 AS BIGINT), v2 = 0 FROM w
        |UNION ALL SELECT 3, 'in_range(units,0,100)', 'units', n,
        |  CAST(v3 AS BIGINT), v3 = 0 FROM w
        |UNION ALL SELECT 4, 'in_set(event_type)', 'event_type', n,
        |  CAST(v4 AS BIGINT), v4 = 0 FROM w""".stripMargin)(qQualityCheck),
    // DuckDB ASOF with <= picks the nearest FOLLOWING row — the
    // forward direction, inclusive on exact-ts like the engine.
    Query("q89_asof_forward", Light,
      """SELECT p.user_id, p.value AS purchase_val, s.value AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts <= s.ts""".stripMargin)((s, d) => qAsOfDir(s, d, nearest = false)),
    // Nearest = both ASOF directions per purchase (joined back on the
    // unique event_id), closest by exact µs distance, ties backward.
    Query("q90_asof_nearest", Light,
      """WITH p AS (SELECT event_id, user_id, value, ts FROM events
        |   WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, value, ts FROM events
        |   WHERE event_type = 'signup'),
        |b AS (SELECT p.event_id, p.user_id, p.value, p.ts,
        |   s.value AS bv, s.ts AS bt
        | FROM p ASOF LEFT JOIN s
        |   ON p.user_id = s.user_id AND p.ts >= s.ts),
        |f AS (SELECT p.event_id, s.value AS fv, s.ts AS ft
        | FROM p ASOF LEFT JOIN s
        |   ON p.user_id = s.user_id AND p.ts <= s.ts)
        |SELECT b.user_id, b.value AS purchase_val,
        | CASE WHEN bv IS NULL THEN fv WHEN fv IS NULL THEN bv
        |   WHEN epoch_us(b.ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.ts)
        |   THEN bv ELSE fv END AS signup_val,
        | epoch_us(b.ts) AS ts_us
        |FROM b JOIN f USING (event_id)""".stripMargin)((s, d) => qAsOfDir(s, d, nearest = true)),
    // DuckDB ASOF carries the matched ts so the staleness cut is a
    // post-join exact-us CASE (ASOF itself has no tolerance clause).
    Query("q108_asof_within", Light,
      """SELECT p.user_id, p.value AS purchase_val,
        | CASE WHEN s.ts IS NOT NULL
        |   AND epoch_us(p.ts) - epoch_us(s.ts) <= 21600000000
        |   THEN s.value END AS signup_val,
        | epoch_us(p.ts) AS ts_us
        |FROM (SELECT user_id, value, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, value, ts FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin)(qAsOfWithin),
    // Change detection via IS DISTINCT FROM against the keyed lag
    // (null-safe, like the engine's struct <=> compare), then the
    // interval close and version number over the compacted rows.
    Query("q114_scd2_history", Light,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |   event_id FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS prev FROM e),
        |v AS (SELECT user_id, event_type, ts_us, event_id FROM c
        |  WHERE event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, valid_from, valid_to, version,
        | valid_to IS NULL AS is_current FROM (
        | SELECT user_id, event_type, ts_us AS valid_from,
        |   lead(ts_us) OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS valid_to,
        |   CAST(row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts_us, event_id) AS BIGINT) AS version
        | FROM v)""".stripMargin)(qScd2),
    // q76's HUGEINT cross-multiplied z-inequality over the per-day
    // count aggregate (z = 2).
    Query("q116_daily_spikes", Light,
      """WITH d AS (SELECT event_type,
        |   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |   CAST(count(*) AS BIGINT) AS n_day
        | FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CAST(n_day AS HUGEINT)) AS HUGEINT) AS s,
        |  CAST(sum(CAST(n_day AS HUGEINT) * n_day) AS HUGEINT) AS q
        | FROM d GROUP BY 1)
        |SELECT d.event_type, d.day, d.n_day,
        | CAST(m.n AS BIGINT) AS n_group,
        | ((m.n * d.n_day - m.s) * (m.n * d.n_day - m.s)
        |   > 4 * (m.n * m.q - m.s * m.s)) AS is_outlier
        |FROM d JOIN m USING (event_type)""".stripMargin)(qDailySpikes),
    // first/last per user vs the corpus max, exact integer-us day math.
    Query("q117_user_lifecycle", Light,
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS first_us,
        |   max(epoch_us(ts)) AS last_us FROM events GROUP BY 1),
        |mx AS (SELECT max(last_us) AS asof FROM s)
        |SELECT user_id,
        | CAST(floor((mx.asof - first_us) / 86400000000) AS BIGINT) AS days_known,
        | CAST(floor((mx.asof - last_us) / 86400000000) AS BIGINT) AS days_silent,
        | CASE WHEN floor((mx.asof - first_us) / 86400000000) < 29 THEN 'new'
        |   WHEN floor((mx.asof - last_us) / 86400000000) >= 1 THEN 'churned'
        |   ELSE 'active' END AS status
        |FROM s CROSS JOIN mx""".stripMargin)(qUserLifecycle),
    // The raw overlap inequality the engine computes bucketed with the
    // first-shared-cell exactly-once trick; windows derive from the
    // observed days so the fixture scales with sf.
    Query("q124_interval_overlap", Light,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |   epoch_us(ts) // 86400000000 AS day FROM events),
        |s AS (SELECT user_id, day, min(ts_us) AS s_lo, max(ts_us) AS s_hi
        | FROM e GROUP BY 1, 2),
        |w AS (SELECT day * 4 + k AS window_id,
        |   day * 86400000000 + k * 21600000000 AS w_lo,
        |   day * 86400000000 + k * 21600000000 + 7199999999 AS w_hi
        | FROM (SELECT DISTINCT day FROM e), generate_series(0, 3) t(k))
        |SELECT window_id, w_lo, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s JOIN w ON s_lo <= w_hi AND w_lo <= s_hi
        |GROUP BY 1, 2""".stripMargin)(qIntervalOverlap),
  )
}
