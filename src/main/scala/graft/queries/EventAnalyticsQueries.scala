package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EventAnalytics

/** Queries exercising [[graft.operators.EventAnalytics]]. */
private[graft] object EventAnalyticsQueries extends Queries {

  /** Ordered conversion funnel (EventAnalytics.funnel): view → click →
    * purchase, strictly-after semantics, mean inter-step lag from exact
    * integer µs sums. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    EventAnalytics.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy(col("step"))
  }
  register(Q("q77_funnel", qFunnel,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |s1 AS (SELECT user_id, min(us) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t, min(s1.t) AS t_prev
        |  FROM e JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t
        |  WHERE event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t, min(s2.t) AS t_prev
        |  FROM e JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users,
        |  CAST(NULL AS DOUBLE) AS avg_lag_sec FROM s1
        |UNION ALL
        |SELECT 2, 'click', count(*),
        |  round(CAST(sum(t - t_prev) AS DOUBLE) /
        |    (count(*) * 1000000.0), 6) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', count(*),
        |  round(CAST(sum(t - t_prev) AS DOUBLE) /
        |    (count(*) * 1000000.0), 6) FROM s3
        |ORDER BY step""".stripMargin))

  /** Weekly retention cohorts (EventAnalytics.retentionCohorts):
    * integer epoch-week cohort crossed with activity-week offset. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"))
    EventAnalytics.retentionCohorts(ev)
      .orderBy(col("cohort_week"), col("week_offset"))
  }
  register(Q("q78_retention", qRetention,
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Time-to-convert percentiles per funnel step
    * (EventAnalytics.funnelTiming): exact p50/p90/max lag seconds. */
  private def qFunnelTiming(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    EventAnalytics.funnelTiming(ev, Seq("view", "click", "purchase"))
      .orderBy(col("step"))
  }
  register(Q("q88_funnel_timing", qFunnelTiming,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |s1 AS (SELECT user_id, min(us) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t, min(s1.t) AS t_prev
        |  FROM e JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t
        |  WHERE event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t, min(s2.t) AS t_prev
        |  FROM e JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT 2 AS step, 'click' AS event_type, count(*) AS n_users,
        |  round(quantile_cont(t - t_prev, 0.5) / 1000000.0, 6)
        |    AS p50_lag_sec,
        |  round(quantile_cont(t - t_prev, 0.9) / 1000000.0, 6)
        |    AS p90_lag_sec,
        |  round(CAST(max(t - t_prev) AS DOUBLE) / 1000000.0, 6)
        |    AS max_lag_sec
        |FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', count(*),
        |  round(quantile_cont(t - t_prev, 0.5) / 1000000.0, 6),
        |  round(quantile_cont(t - t_prev, 0.9) / 1000000.0, 6),
        |  round(CAST(max(t - t_prev) AS DOUBLE) / 1000000.0, 6)
        |FROM s3
        |ORDER BY step""".stripMargin))

  /** Inter-arrival bot detection (EventAnalytics.botScore) over events
    * with a deterministically compressed "scripted" cohort (every 5th
    * user's clock divided by 10⁵). */
  private def qBotDetect(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"), col("event_id"),
      when(col("user_id") % 5 === 0,
        floor(unix_micros(col("ts")) / 100000L).cast("long"))
        .otherwise(unix_micros(col("ts"))).as("us"))
    EventAnalytics.botScore(ev, minEvents = 20L)
      .orderBy(col("user_id"))
  }
  register(Q("q133_bot_detect", qBotDetect,
      """WITH e AS (SELECT user_id, event_id,
        |    CASE WHEN user_id % 5 = 0 THEN epoch_us(ts) // 100000
        |         ELSE epoch_us(ts) END AS us
        |  FROM events),
        |g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS gap FROM e),
        |a AS (SELECT user_id, count(*) AS n_events,
        |    quantile_cont(gap, 0.5) AS median_gap_us,
        |    round(avg(CASE WHEN gap IS NULL THEN NULL
        |                   WHEN gap < 1000000 THEN 1.0
        |                   ELSE 0.0 END), 6) AS fast_frac
        |  FROM g GROUP BY user_id)
        |SELECT user_id, n_events, median_gap_us, fast_frac,
        |  (n_events >= 20 AND median_gap_us < 1000000.0) AS is_bot
        |FROM a ORDER BY user_id""".stripMargin))

  /** SCD2 validity intervals from the event change log
    * (EventAnalytics.validityIntervals): consecutive identical states
    * collapse, each surviving change carries its half-open window. */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    EventAnalytics.validityIntervals(ev, "user_id", "us", "event_id",
        "event_type")
      .orderBy(col("user_id"), col("valid_from"), col("state"))
  }
  register(Q("q134_scd2", qScd2,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_type, us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS rn FROM e),
        |ch AS (SELECT user_id, event_type AS state, us AS valid_from
        |  FROM c WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |iv AS (SELECT user_id, state, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, state) AS valid_to FROM ch)
        |SELECT user_id, state, valid_from, valid_to FROM iv
        |ORDER BY user_id, valid_from, state""".stripMargin))

  /** First/last-touch attribution (EventAnalytics.conversionAttribution):
    * purchase value credited to the user's earliest and latest prior
    * non-purchase event type — one user-keyed window, both models. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    EventAnalytics.conversionAttribution(t.events, "user_id", "ts",
        "event_id", "event_type", "value", conversionType = "purchase")
      .orderBy(col("model"), col("touch_type"))
  }
  register(Q("q177_attribution", qAttribution,
      """WITH t AS (
        |  SELECT user_id, event_type, value,
        |    first_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
        |  FROM events),
        |p AS (SELECT * FROM t WHERE event_type = 'purchase')
        |SELECT * FROM (
        |  SELECT 'first' AS model, f AS touch_type,
        |    count(*) AS n_conversions, round(sum(value), 4) AS revenue
        |  FROM p GROUP BY 2
        |  UNION ALL
        |  SELECT 'last', l, count(*), round(sum(value), 4)
        |  FROM p GROUP BY 2)
        |ORDER BY model, touch_type NULLS FIRST""".stripMargin))

  /** Event-type transition matrix (EventAnalytics.transitionMatrix):
    * adjacent-pair counts + row-normalized probabilities per user
    * stream. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    EventAnalytics.transitionMatrix(t.events, "user_id", "ts",
        "event_id", "event_type")
      .orderBy(col("from_type"), col("to_type"))
  }
  register(Q("q181_transitions", qTransitions,
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |pairs AS (
        |  SELECT from_type, event_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE from_type IS NOT NULL
        |  GROUP BY 1, 2),
        |marg AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |  FROM pairs GROUP BY 1)
        |SELECT from_type, to_type, n, round(n / tot, 6) AS p
        |FROM pairs JOIN marg USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin))

  /** A/B conversion lift (EventAnalytics.abLift): users assigned to
    * three deterministic variants by id hash bucket, conversion =
    * ever purchased; every variant pair reports rates, lift, and the
    * two-proportion z statistic. */
  private def qAbLift(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val units = t.events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", true)
        .otherwise(false)).as("converted"))
      .select(concat(lit("v"), pmod(col("user_id"), lit(3)))
        .as("variant"), col("converted"))
    EventAnalytics.abLift(units, "variant", "converted")
      .orderBy(col("variant_a"), col("variant_b"))
  }
  register(Q("q210_ab_lift", qAbLift,
      """WITH units AS (SELECT 'v' || CAST(user_id % 3 AS VARCHAR)
        |    AS variant,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS converted
        |  FROM events GROUP BY user_id),
        |g AS (SELECT variant, count(*) AS n,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS conv
        |  FROM units GROUP BY variant)
        |SELECT a.variant AS variant_a, b.variant AS variant_b,
        |  a.n AS na, a.conv AS ca, b.n AS nb, b.conv AS cb,
        |  round(a.conv / CAST(a.n AS DOUBLE), 6) AS rate_a,
        |  round(b.conv / CAST(b.n AS DOUBLE), 6) AS rate_b,
        |  round(a.conv / CAST(a.n AS DOUBLE)
        |    - b.conv / CAST(b.n AS DOUBLE), 6) AS lift,
        |  round((a.conv / CAST(a.n AS DOUBLE)
        |      - b.conv / CAST(b.n AS DOUBLE))
        |    / sqrt((a.conv + b.conv) / CAST(a.n + b.n AS DOUBLE)
        |      * (1.0 - (a.conv + b.conv) / CAST(a.n + b.n AS DOUBLE))
        |      * (1.0 / a.n + 1.0 / b.n)), 4) AS z
        |FROM g a, g b WHERE a.variant < b.variant
        |ORDER BY variant_a, variant_b""".stripMargin))

  /** Activity streaks (EventAnalytics.activityStreaks): per user, how
    * many consecutive-day runs their activity splits into, the longest
    * run, and total active days — the gaps-and-islands idiom. */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    EventAnalytics.activityStreaks(
        t.events.select(col("user_id"), col("ts").cast("date").as("day")),
        "user_id", "day")
      .orderBy(col("user_id"))
  }
  register(Q("q212_streaks", qStreaks,
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |isl AS (SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INT) AS grp
        |  FROM days),
        |runs AS (SELECT user_id, grp, count(*) AS len
        |  FROM isl GROUP BY user_id, grp)
        |SELECT user_id, count(*) AS n_streaks,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(sum(len) AS BIGINT) AS active_days
        |FROM runs GROUP BY user_id
        |ORDER BY user_id""".stripMargin))

  /** Point-in-time reconstruction from q134's SCD2 intervals: the
    * state of every user AS OF 2024-01-15 12:00 UTC, summarized per
    * state — the time-travel consumer the validity intervals exist
    * for (half-open [from, to), open tail). */
  private def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val asOfUs = 1705320000000000L
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    EventAnalytics.validityIntervals(ev, "user_id", "us", "event_id",
        "event_type")
      .filter(col("valid_from") <= asOfUs &&
        (col("valid_to").isNull || col("valid_to") > asOfUs))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("state"))
  }
  register(Q("q224_time_travel", qTimeTravel,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_type, us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS rn FROM e),
        |ch AS (SELECT user_id, event_type AS state, us AS valid_from
        |  FROM c WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |iv AS (SELECT user_id, state, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, state) AS valid_to FROM ch)
        |SELECT state, count(*) AS n_users
        |FROM iv
        |WHERE valid_from <= 1705320000000000
        |  AND (valid_to IS NULL OR valid_to > 1705320000000000)
        |GROUP BY state
        |ORDER BY state""".stripMargin))
}
