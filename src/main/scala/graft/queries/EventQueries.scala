package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.SparkEntry.eventsDf
import Query.Light

/** Event-stream analytics over `events`: sessions, funnels, trailing and
  * rolling windows, cohorts, transitions, co-visitation and journeys. */
object EventQueries {

  /** Ranking-window family (lag/lead — absent from the reference,
    * SURVEY §2.7): per-user event sequencing with the previous event's
    * type and the inter-event gap. Deterministic order: (µs timestamp,
    * event_id) on both engines — the oracle must order by the SAME
    * µs-truncated instant, not its nanosecond original, or ns-level ties
    * reorder the lag. One shuffle on user_id; the window scan is linear
    * per partition. */
  private def qLagLead(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    eventsDf(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
  }

  /** Gap sessionization ([[graft.ops.Events.sessionize]]): user events
    * split into visits at >8h silences (the fixture's median
    * within-user gap is ~7.3h, so both the same-session and new-session
    * paths carry real rows). Order = (µs timestamp, event_id), the q48
    * convention. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.sessionize(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", gapUs = 8L * 3600L * 1000000L)

  /** Conversion funnel ([[graft.ops.Events.funnel]]):
    * view → click → purchase with strictly-increasing timestamps,
    * earliest-feasible matching — per-user chain times and the step
    * count reached. */
  private def qEventFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.funnel(
      eventsDf(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))

  /** Trailing 24h per-event window ([[graft.ops.Events.trailingWindow]]):
    * every event's same-user activity count and spend over the closed
    * [ts−24h, ts] interval. Values as integer cents (q36's convention)
    * so the rolling sum is exact on both engines. */
  private def qTrailingWindow(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.trailingWindow(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents")),
      "user_id", "ts_us", "cents", windowUs = 24L * 3600L * 1000000L)

  /** Concurrency gauge ([[graft.ops.Events.concurrency]]): peak
    * simultaneously-active user lifetimes ([first event, last event]
    * per user) per day — the bucketed sweep line, never a global
    * single-partition sort over endpoints. */
  private def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val spans = eventsDf(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
    graft.ops.Events.concurrency(spans, "s_us", "e_us",
      bucketUs = 86400000000L)
  }

  /** Daily retention triangle ([[graft.ops.Events.retentionCohorts]]):
    * cohort = epoch-day of first event, cells = distinct active users
    * per (cohort, offset) — daily grain populates 59 cells across two
    * cohorts on the fixture (weekly collapses it to one cohort). */
  private def qRetentionCohorts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.retentionCohorts(
      eventsDf(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", bucketUs = 86400000000L)

  /** Markov transition matrix ([[graft.ops.Events.transitionCounts]]):
    * consecutive event-type pairs per user in (ts, event_id) order,
    * with each edge's share of its source type's out-degree. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.transitionCounts(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", "event_id")

  /** Per-user activity profile ([[graft.ops.Events.activityProfile]]):
    * the five event types pivoted to count columns + total — one hash
    * aggregate on the user key. */
  private def qActivityProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.activityProfile(
      eventsDf(s, dir).select(col("user_id"), col("event_type")),
      "user_id", "event_type",
      Seq("click", "error", "purchase", "signup", "view"))

  /** Time-decayed activity score ([[graft.ops.Events.decayedScore]]):
    * per-user engagement with a 1-day half-life anchored at the
    * corpus's max ts — every arithmetic step cross-engine exact. */
  private def qDecayedScore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.decayedScore(
      eventsDf(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value")),
      "user_id", "ts_us", "value", bucketUs = 86400000000L)

  /** Daily trending ([[graft.ops.Rank.topNPerGroup]] over per-day type
    * counts): each day's top-3 event types by volume, ties by the
    * cross-engine type hash — the bounded heap, never a per-day sort
    * over events. */
  private def qDailyTrending(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsDf(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__tid", Dedup.hash60(col("event_type")))
    graft.ops.Rank.topNPerGroup(daily, Seq("day"), "__tid", "n", n = 3)
      .join(daily.select(col("day"), col("event_type"),
        col("__tid").as("id")), Seq("day", "id"))
      .select(col("day"), col("event_type"),
        col("score").cast("long").as("n"), col("rank"))
  }

  /** Re-crawl repeat suppression ([[Dedup.dropRepeatsWithin]]): events
    * of one user within a trailing 1-hour quiet horizon collapse to
    * the burst's first row; a sighting after a full quiet hour starts
    * a fresh burst and survives. */
  private def qRepeatSuppression(s: SparkSession, dir: String): DataFrame =
    Dedup.dropRepeatsWithin(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", horizonUs = 3600000000L)

  /** Top session journeys ([[graft.ops.Events.topJourneys]]): q72's
    * sessions (30-minute gap) reduced to their first-5-step event-type
    * paths, top-10 corpus-wide. */
  private def qTopJourneys(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Events.sessionize(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", gapUs = 1800000000L)
    graft.ops.Events.topJourneys(sess, Seq("user_id", "session_id"),
      "event_type", "ts_us", "event_id", maxSteps = 5, k = 10)
  }

  /** Session co-visitation ([[graft.ops.Events.covisitation]] over
    * [[graft.ops.Events.sessionize]]'s 8-hour-gap sessions): for each
    * unordered event-type pair, the sessions containing both and the
    * lift against independence — the "did A, also did B" matrix. */
  private def qCovisitation(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.ops.Events.sessionize(
      eventsDf(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", "event_id", gapUs = 28800000000L)
    graft.ops.Events.covisitation(sess,
      Seq("user_id", "session_id"), "event_type")
  }

  /** Rolling 7-day distinct actives ([[graft.ops.Events
    * .rollingActiveUsers]]): WAU per observed day via presence
    * replication — the exact form of the metric approximate sketches
    * trade away. */
  private def qRollingActive(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.rollingActiveUsers(
      eventsDf(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "ts_us", windowDays = 7)

  /** Daily session-quality rollup ([[graft.ops.Events
    * .sessionStatsDaily]] over q72's 8-hour-gap sessions): bounce rate
    * in exact basis points, exact dwell totals, one derived mean. */
  private def qSessionStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Events.sessionStatsDaily(
      graft.ops.Events.sessionize(
        eventsDf(s, dir).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us")),
        "user_id", "ts_us", "event_id", gapUs = 28800000000L),
      "user_id", "ts_us")

  /** q153: funnel step latency — per completed transition, the exact
    * discrete p50/p90 of the step delta ([[graft.ops.Events.funnel]]
    * composed into [[graft.ops.Stats.percentilesDisc]]): "how long from
    * view to click, click to purchase". */
  private def qFunnelLatency(s: SparkSession, dir: String): DataFrame = {
    val f = graft.ops.Events.funnel(
      eventsDf(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")),
      "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))
    val deltas = f.select(expr(
        "stack(2, 'view>click', t2_us - t1_us," +
          " 'click>purchase', t3_us - t2_us) AS (step, delta_us)"))
      .filter(col("delta_us").isNotNull)
    graft.ops.Stats.percentilesDisc(deltas, "step", "delta_us", Seq(5000, 9000))
  }

  val all: Seq[Query] = Seq(
    Query("q48_lag_lead", Light,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        | FROM events)
        |SELECT event_id, user_id, ts_us,
        | lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS prev_type,
        | ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS gap_us
        |FROM e""".stripMargin)(qLagLead),
    // Same (ts_us, event_id) order as q48; session_event re-derived as
    // a per-(user, session) row_number — equal to the engine's
    // rn − session_start_rn + 1 by construction.
    Query("q72_sessionize", Light,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 28800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g)
        |SELECT event_id, user_id, ts_us, session_id,
        | row_number() OVER (PARTITION BY user_id, session_id
        |   ORDER BY ts_us, event_id) AS session_event
        |FROM s""".stripMargin)(qSessionize),
    // Greedy earliest-feasible chain: each step's per-user min over
    // events strictly after the previous step's time.
    Query("q73_event_funnel", Light,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.t1_us GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2_us GROUP BY 1)
        |SELECT s1.user_id, t1_us, t2_us, t3_us,
        | CAST(CASE WHEN t3_us IS NOT NULL THEN 3
        |      WHEN t2_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
        |   AS steps_completed
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin)(qEventFunnel),
    // RANGE framing on both engines (same-timestamp peers are mutual
    // members); integer-cent sums, exact on both sides.
    Query("q74_trailing_window", Light,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id, ts_us, cents,
        | CAST(count(*) OVER w AS BIGINT) AS w_count,
        | CAST(sum(cents) OVER w AS BIGINT) AS w_sum
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin)(qTrailingWindow),
    // Calendar-free integer days (floor of ts_us / day_µs); the
    // distinct user-day reduction before the cell counts.
    Query("q75_retention_cohorts", Light,
      """WITH e AS (SELECT user_id,
        |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS b
        | FROM events),
        |f AS (SELECT user_id, min(b) AS cohort_bucket FROM e GROUP BY 1),
        |ub AS (SELECT DISTINCT e.user_id, f.cohort_bucket,
        |   e.b - f.cohort_bucket AS bucket_offset
        | FROM e JOIN f USING (user_id))
        |SELECT cohort_bucket, bucket_offset, count(*) AS n_active
        |FROM ub GROUP BY 1, 2""".stripMargin)(qRetentionCohorts),
    // The global sweep the engine computes bucketed: running sum over
    // (ts, delta) with ends (−1 at e+1) releasing before same-instant
    // starts, peak per day bucket.
    Query("q93_concurrency", Light,
      """WITH spans AS (SELECT user_id, min(epoch_us(ts)) AS s_us,
        |   max(epoch_us(ts)) AS e_us FROM events GROUP BY 1),
        |d AS (SELECT s_us AS ts, CAST(1 AS BIGINT) AS dl FROM spans
        | UNION ALL SELECT e_us + 1, -1 FROM spans),
        |r AS (SELECT CAST(floor(ts / 86400000000) AS BIGINT) AS bucket, dl,
        |   sum(dl) OVER (ORDER BY ts, dl
        |     ROWS UNBOUNDED PRECEDING) AS run FROM d)
        |SELECT bucket,
        | CAST(max(greatest(run, run - dl)) AS BIGINT) AS peak_concurrent,
        | CAST(sum(CASE WHEN dl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        | CAST(sum(CASE WHEN dl = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
        |FROM r GROUP BY 1""".stripMargin)(qConcurrency),
    // lead over the same (user, ts, event_id) order every Events query
    // uses; share = edge count / source out-degree.
    Query("q99_transitions", Light,
      """WITH t AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |    CAST(count(*) AS BIGINT) AS n_trans
        |  FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  round(CAST(n_trans AS DOUBLE) /
        |    CAST(sum(n_trans) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |    AS share
        |FROM c""".stripMargin)(qTransitions),
    // The pivot as five CASE sums; n_events sums the listed columns
    // (not count(*)), matching the engine's ignore-unlisted contract.
    Query("q102_activity_profile", Light, {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cases = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n| ")
      s"""SELECT user_id,
        | $cases,
        | CAST(${types.map(t => s"sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin
    })(qActivityProfile),
    // Integer units x HUGEINT powers of two, un-scaled by one exact
    // binary shift; ages anchored at the corpus max ts.
    Query("q112_decayed_score", Light,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |   CAST(round(value) AS BIGINT) AS units FROM events
        | WHERE ts IS NOT NULL AND value IS NOT NULL),
        |mx AS (SELECT max(ts_us) AS asof FROM e),
        |w AS (SELECT user_id,
        |   CAST(units AS HUGEINT)
        |     * CAST(power(2, 60 - floor((mx.asof - ts_us) / 86400000000)) AS HUGEINT) AS sc
        | FROM e CROSS JOIN mx
        | WHERE floor((mx.asof - ts_us) / 86400000000) BETWEEN 0 AND 60)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | round(CAST(sum(sc) AS DOUBLE) / power(2, 60), 6) AS score
        |FROM w GROUP BY 1""".stripMargin)(qDecayedScore),
    // q72's session construction at a 30-minute gap; per-session paths
    // via the ordered list aggregate sliced to 5 steps; top-10 with
    // ASCII path tie-break.
    Query("q115_top_journeys", Light,
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 1800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |p AS (SELECT user_id, session_id,
        |   array_to_string(list_slice(
        |     list(event_type ORDER BY ts_us, event_id), 1, 5), ' > ') AS path
        | FROM s GROUP BY 1, 2),
        |n AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        | FROM p GROUP BY 1)
        |SELECT path, n_sessions,
        | CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS BIGINT) AS rank
        |FROM n
        |QUALIFY row_number() OVER (ORDER BY n_sessions DESC, path ASC) <= 10""".stripMargin)(qTopJourneys),
    // q72's chained-gap burst construction keyed on the user; each
    // burst keeps its (ts, event_id)-first row.
    Query("q119_repeat_suppression", Light,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    <= 3600000000 THEN 0 ELSE 1 END AS nb FROM e),
        |b AS (SELECT *, SUM(nb) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
        |  FROM g)
        |SELECT event_id, user_id, ts_us FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id, burst
        |   ORDER BY ts_us, event_id) AS rn FROM b) WHERE rn = 1""".stripMargin)(qRepeatSuppression),
    // The vocabTopK tie convention: (n desc, md5-hash of the type asc).
    Query("q122_daily_trending", Light,
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |   CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n, rank FROM (
        | SELECT day, event_type, n, row_number() OVER (PARTITION BY day
        |   ORDER BY n DESC,
        |     CAST(('0x'||substr(md5(event_type),1,15)) AS BIGINT) ASC) AS rank
        | FROM d) WHERE rank <= 3""".stripMargin)(qDailyTrending),
    // q72's sessionize CTE, then distinct (session, type), the
    // session-keyed pair self-join (type_a < type_b, binary order),
    // per-type session counts, and lift against independence.
    Query("q126_covisitation", Light,
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 28800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g),
        |st AS (SELECT DISTINCT user_id, session_id, event_type FROM s),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        | FROM st GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        | FROM (SELECT DISTINCT user_id, session_id FROM st)),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |   CAST(count(*) AS BIGINT) AS n_ab
        | FROM st a JOIN st b ON a.user_id = b.user_id
        |   AND a.session_id = b.session_id
        |   AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT type_a, type_b, pa.n AS n_a, pb.n AS n_b, n_ab, n_sessions,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n_sessions AS DOUBLE)
        |    / (CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)), 6) AS lift
        |FROM p
        |JOIN pt pa ON p.type_a = pa.event_type
        |JOIN pt pb ON p.type_b = pb.event_type, tot""".stripMargin)(qCovisitation),
    // Exact trailing-window distinct: presence replicated to the 7
    // report days it supports, re-distincted, restricted to observed
    // days — the engine's shape stated declaratively.
    Query("q129_rolling_active", Light,
      """WITH e AS (SELECT user_id,
        |   epoch_us(ts) // 86400000000 AS day FROM events),
        |p AS (SELECT DISTINCT user_id, day FROM e),
        |d AS (SELECT DISTINCT day FROM e),
        |x AS (SELECT DISTINCT user_id, day + k AS day2
        | FROM p, generate_series(0, 6) t(k))
        |SELECT day2 AS day, CAST(count(*) AS BIGINT) AS n_active
        |FROM x JOIN d ON x.day2 = d.day GROUP BY 1""".stripMargin)(qRollingActive),
    // q72's sessionize CTE, per-session collapse, then the day rollup:
    // exact integer counts/dwell, basis-point bounce via floor
    // division, mean dwell the one derived 6-dp float.
    Query("q132_session_stats", Light,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id)
        |    > 28800000000 THEN 1
        |  WHEN lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) IS NULL THEN 1
        |  ELSE 0 END AS nw FROM e),
        |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g),
        |ps AS (SELECT user_id, session_id, min(ts_us) AS s_us,
        |   max(ts_us) AS e_us, CAST(count(*) AS BIGINT) AS ne
        | FROM s GROUP BY 1, 2),
        |d AS (SELECT s_us // 86400000000 AS day, e_us - s_us AS dur, ne
        | FROM ps)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  CAST((sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) * 10000)
        |    // count(*) AS BIGINT) AS bounce_bp,
        |  CAST(sum(ne) AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS dur_sum_us,
        |  round(CAST(sum(dur) AS DOUBLE) / 1000000.0 / count(*), 6)
        |    AS mean_dur_s
        |FROM d GROUP BY 1""".stripMargin)(qSessionStats),
    // q73's funnel chain, step deltas unpivoted, q131's disc-percentile
    // convention per step.
    Query("q153_funnel_latency", Light,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts_us > s1.t1_us GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2_us GROUP BY 1),
        |d AS (SELECT 'view>click' AS step, s2.t2_us - s1.t1_us AS v
        |    FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL SELECT 'click>purchase', s3.t3_us - s2.t2_us
        |    FROM s2 JOIN s3 USING (user_id)),
        |h AS (SELECT step, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |cum AS (SELECT step, v,
        |   CAST(sum(c) OVER (PARTITION BY step ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |   CAST(sum(c) OVER (PARTITION BY step) AS BIGINT) AS n FROM h)
        |SELECT step, CAST(min(n) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 5000 THEN v END) AS BIGINT) AS p5000,
        |  CAST(min(CASE WHEN cum * 10000 >= n * 9000 THEN v END) AS BIGINT) AS p9000
        |FROM cum GROUP BY 1""".stripMargin)(qFunnelLatency),
  )
}
