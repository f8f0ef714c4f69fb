package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Frequency
import graft.operators.TimeSeriesOps

/** Queries exercising [[graft.operators.TimeSeriesOps]]. */
private[graft] object TimeSeriesOpsQueries extends Queries {

  /** T4 — monotonic/distinct-index violations per series key
    * (TimeSeriesOps.monotonicViolations; day-granular event times force
    * duplicates). */
  private def qMonotonic(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.events.select(
      col("user_id").cast("string").as("serie_id"),
      to_date(col("ts")).as("indice_tiempo"),
      col("value").as("valor"))
    TimeSeriesOps.monotonicViolations(series)
      .groupBy(col("serie_id")).agg(count(lit(1)).as("n_violations"))
      .orderBy(col("serie_id").cast("long"))
  }
  register(Q("q18_monotonic", qMonotonic,
      """SELECT CAST(user_id AS VARCHAR) AS serie_id,
        |  count(*) - count(DISTINCT CAST(ts AS DATE)) AS n_violations
        |FROM events GROUP BY user_id
        |HAVING count(*) - count(DISTINCT CAST(ts AS DATE)) > 0
        |ORDER BY user_id""".stripMargin))

  /** T3 — frequency-gap detection on a monthly series with holes
    * (TimeSeriesOps.frequencyGaps). */
  private def qFreqGaps(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.lineitem
      .select(col("l_returnflag").as("serie_id"),
        trunc(to_date(col("l_shipdate")), "month").as("indice_tiempo"))
      .distinct()
      .filter(month(col("indice_tiempo")) % 5 =!= 0) // punch holes
      .withColumn("valor", lit(1.0))
    TimeSeriesOps.frequencyGaps(series, Frequency.Monthly)
      .select(col("serie_id"), col("prev_tiempo"), col("indice_tiempo"),
        col("step_periods").cast("int").as("gap_periods"))
      .orderBy(col("serie_id"), col("indice_tiempo"))
  }
  register(Q("q19_freq_gaps", qFreqGaps,
      """WITH months AS (
        |  SELECT DISTINCT l_returnflag AS serie_id,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS indice_tiempo
        |  FROM lineitem),
        |holed AS (
        |  SELECT * FROM months WHERE month(indice_tiempo) % 5 <> 0),
        |lagged AS (
        |  SELECT serie_id, indice_tiempo,
        |    lag(indice_tiempo) OVER (PARTITION BY serie_id ORDER BY indice_tiempo)
        |      AS prev_tiempo
        |  FROM holed)
        |SELECT serie_id, prev_tiempo, indice_tiempo,
        |  CAST(date_diff('month', prev_tiempo, indice_tiempo) AS INT)
        |    AS gap_periods
        |FROM lagged
        |WHERE prev_tiempo IS NOT NULL
        |  AND date_diff('month', prev_tiempo, indice_tiempo) <> 1
        |ORDER BY serie_id, indice_tiempo""".stripMargin))

  /** §2.9 — the validation battery as one summary query
    * (TimeSeriesOps.validationSummary). */
  private def qValidationSummary(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.events.select(
      col("event_type").as("serie_id"),
      to_date(col("ts")).as("indice_tiempo"),
      when(col("value") >= 10, col("value")).as("valor"))
    TimeSeriesOps.validationSummary(series)
      .select(col("serie_id"), col("n_rows"), col("n_values"),
        col("n_not_increasing"), col("n_periods"), col("first_period"),
        col("last_period"), col("missing_ratio"), col("is_monotonic"),
        col("is_distinct"), col("is_valid"))
      .orderBy(col("serie_id"))
  }
  register(Q("q20_validation_summary", qValidationSummary,
      """WITH series AS (
        |  SELECT event_type AS serie_id, CAST(ts AS DATE) AS indice_tiempo,
        |    CASE WHEN value >= 10 THEN value END AS valor
        |  FROM events),
        |agg AS (
        |  SELECT serie_id, count(*) AS n_rows, count(valor) AS n_values,
        |    count(*) - count(DISTINCT indice_tiempo) AS n_not_increasing,
        |    count(DISTINCT indice_tiempo) AS n_periods,
        |    min(indice_tiempo) AS first_period, max(indice_tiempo) AS last_period
        |  FROM series GROUP BY serie_id)
        |SELECT serie_id, n_rows, n_values, n_not_increasing, n_periods,
        |  first_period, last_period,
        |  round(1.0 - n_values / CAST(n_rows AS DOUBLE), 6) AS missing_ratio,
        |  n_not_increasing = 0 AS is_monotonic,
        |  n_periods = n_rows AS is_distinct,
        |  (n_rows > 0 AND n_not_increasing = 0 AND n_periods = n_rows
        |    AND 1.0 - n_values / CAST(n_rows AS DOUBLE) <= 0.5) AS is_valid
        |FROM agg ORDER BY serie_id""".stripMargin))

  /** T3/§2.8 — complete-calendar resampling: observed monthly series
    * left-joined onto the generated full calendar
    * (TimeSeriesOps.completeCalendar). */
  private def qCompleteCalendar(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.lineitem
      .select(col("l_returnflag").as("serie_id"),
        trunc(to_date(col("l_shipdate")), "month").as("indice_tiempo"))
      .distinct()
      .filter(month(col("indice_tiempo")) % 5 =!= 0)
      .withColumn("valor", lit(1.0))
    TimeSeriesOps.completeCalendar(series, Frequency.Monthly)
      .select(col("serie_id"), col("indice_tiempo"),
        col("valor").isNotNull.as("has_value"))
      .orderBy(col("serie_id"), col("indice_tiempo"))
  }
  register(Q("q21_complete_calendar", qCompleteCalendar,
      """WITH months AS (
        |  SELECT DISTINCT l_returnflag AS serie_id,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS indice_tiempo
        |  FROM lineitem),
        |holed AS (
        |  SELECT * FROM months WHERE month(indice_tiempo) % 5 <> 0),
        |bounds AS (
        |  SELECT serie_id, min(indice_tiempo) AS lo, max(indice_tiempo) AS hi
        |  FROM holed GROUP BY serie_id),
        |cal AS (
        |  SELECT b.serie_id, CAST(gs.d AS DATE) AS indice_tiempo
        |  FROM bounds b,
        |    LATERAL (SELECT unnest(generate_series(b.lo::TIMESTAMP,
        |      b.hi::TIMESTAMP, INTERVAL 1 MONTH)) AS d) gs)
        |SELECT c.serie_id, c.indice_tiempo,
        |  h.indice_tiempo IS NOT NULL AS has_value
        |FROM cal c LEFT JOIN holed h
        |  ON c.serie_id = h.serie_id AND c.indice_tiempo = h.indice_tiempo
        |ORDER BY c.serie_id, c.indice_tiempo""".stripMargin))

  /** Window sessionization: lag + flag + running sum + per-session agg
    * (TimeSeriesOps.sessionize; 30-minute gap). */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TimeSeriesOps.sessionize(t.events, "user_id", "ts", "value",
        gapMicros = 1800L * 1000000L)
      .orderBy(col("user_id"), col("session_idx"))
  }
  register(Q("q24_sessionize", qSessionize,
      """WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
        |lagged AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |    AS prev_us FROM e),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM lagged),
        |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin))

  /** As-of join (TimeSeriesOps.asofJoin): every event aligned to the
    * most recent reference mark at-or-before it per user — the union +
    * last(ignoreNulls) window shape, zero join nodes, one shuffle. The
    * oracle is DuckDB's NATIVE ASOF JOIN, an independent implementation
    * of the semantics rather than a replay of the trick. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      round(col("value"), 2).as("value"))
    val marks = ev.filter(col("event_id") % 7 === 0)
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("value")).as("mark"))
    TimeSeriesOps.asofJoin(ev, marks, Seq("user_id"), "us", Seq("mark"))
      .select(col("user_id"), col("us"), col("event_id"), col("value"),
        col("asof_mark"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }
  // DuckDB's NATIVE ASOF JOIN — an independent implementation of the
  // as-of semantics checking the Spark union+window shape
  private val asofJoin = register(Q("q61_asof_join", qAsofJoin,
      """WITH l AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    round(value, 2) AS value FROM events),
        |r AS (SELECT user_id, us, max(value) AS mark FROM l
        |  WHERE event_id % 7 = 0 GROUP BY user_id, us)
        |SELECT l.user_id, l.us, l.event_id, l.value, r.mark AS asof_mark
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
        |ORDER BY l.user_id, l.us, l.event_id""".stripMargin))

  /** Resample/collapse (TimeSeriesOps.resample): monthly sums from
    * lineitem collapsed to quarterly averages — one groupBy, no
    * window. */
  private def qResample(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val monthly = t.lineitem.groupBy(
        col("l_returnflag").as("serie_id"),
        trunc(col("l_shipdate"), "month").as("indice_tiempo"))
      .agg(round(sum(col("l_quantity")), 2).as("valor"))
    TimeSeriesOps.resample(monthly, Frequency.Quarterly, "avg")
      .orderBy(col("serie_id"), col("period"))
  }
  register(Q("q62_resample", qResample,
      """WITH monthly AS (SELECT l_returnflag AS serie_id,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS indice_tiempo,
        |    round(sum(l_quantity), 2) AS valor
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT serie_id,
        |  CAST(date_trunc('quarter', indice_tiempo) AS DATE) AS period,
        |  round(avg(valor), 4) AS valor, count(*) AS n_points
        |FROM monthly GROUP BY 1, 2
        |ORDER BY serie_id, period""".stripMargin))

  /** Forward fill (TimeSeriesOps.forwardFill): deterministically
    * injected nulls repaired from the latest preceding non-null value
    * per series. */
  private def qFfill(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.events.select(
      col("user_id").cast("string").as("serie_id"),
      unix_micros(col("ts")).as("indice_tiempo"), col("event_id"),
      when(col("event_id") % 3 === 0, lit(null))
        .otherwise(round(col("value"), 2)).as("valor"))
    TimeSeriesOps.forwardFill(series, tieCols = Seq("event_id"))
      .orderBy(col("serie_id").cast("long"), col("indice_tiempo"),
        col("event_id"))
  }
  register(Q("q63_ffill", qFfill,
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS serie_id,
        |    epoch_us(ts) AS indice_tiempo, event_id,
        |    CASE WHEN event_id % 3 = 0 THEN NULL
        |         ELSE round(value, 2) END AS valor
        |  FROM events)
        |SELECT serie_id, indice_tiempo, event_id, valor,
        |  last_value(valor IGNORE NULLS) OVER (PARTITION BY serie_id
        |    ORDER BY indice_tiempo, event_id ROWS UNBOUNDED PRECEDING)
        |    AS valor_filled
        |FROM s
        |ORDER BY CAST(serie_id AS BIGINT), indice_tiempo, event_id""".stripMargin))

  /** Rolling stats (TimeSeriesOps.rollingStats): 5-observation moving
    * average/extrema per series; the mean runs over exact integer cents
    * so sliding-frame summation order cannot drift between engines. */
  private def qRolling(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.events.select(
      col("user_id").cast("string").as("serie_id"),
      unix_micros(col("ts")).as("indice_tiempo"), col("event_id"),
      round(col("value"), 2).as("valor"))
    TimeSeriesOps.rollingStats(series, k = 5, tieCols = Seq("event_id"))
      .select(col("serie_id"), col("indice_tiempo"), col("event_id"),
        col("valor"), col("n_window"), col("roll_avg"), col("roll_min"),
        col("roll_max"))
      .orderBy(col("serie_id").cast("long"), col("indice_tiempo"),
        col("event_id"))
  }
  // the rolling mean folds EXACT integer cents, so DuckDB's
  // segment-tree sliding-window summation and Spark's running fold
  // agree bit-for-bit
  register(Q("q64_rolling", qRolling,
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS serie_id,
        |    epoch_us(ts) AS indice_tiempo, event_id,
        |    round(value, 2) AS valor FROM events),
        |c AS (SELECT *, CAST(round(valor * 100) AS BIGINT) AS cents FROM s),
        |w AS (SELECT serie_id, indice_tiempo, event_id, valor,
        |    count(cents) OVER win AS n_window,
        |    sum(cents) OVER win AS sum_cents,
        |    min(valor) OVER win AS roll_min,
        |    max(valor) OVER win AS roll_max
        |  FROM c WINDOW win AS (PARTITION BY serie_id
        |    ORDER BY indice_tiempo, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT serie_id, indice_tiempo, event_id, valor, n_window,
        |  round(sum_cents / (n_window * 100.0), 4) AS roll_avg,
        |  roll_min, roll_max
        |FROM w
        |ORDER BY CAST(serie_id AS BIGINT), indice_tiempo, event_id""".stripMargin))

  /** Period-over-period percentage change (TimeSeriesOps.pctChange) —
    * the series-tiempo representation_mode the reference ecosystem
    * serves; ÷0-safe, null at series start. */
  private def qPctChange(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val monthly = t.lineitem.groupBy(
        col("l_returnflag").as("serie_id"),
        trunc(col("l_shipdate"), "month").as("indice_tiempo"))
      .agg(round(sum(col("l_quantity")), 2).as("valor"))
    TimeSeriesOps.pctChange(monthly)
      .orderBy(col("serie_id"), col("indice_tiempo"))
  }
  register(Q("q66_pct_change", qPctChange,
      """WITH monthly AS (SELECT l_returnflag AS serie_id,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS indice_tiempo,
        |    round(sum(l_quantity), 2) AS valor
        |  FROM lineitem GROUP BY 1, 2),
        |lagged AS (SELECT *, lag(valor) OVER (PARTITION BY serie_id
        |    ORDER BY indice_tiempo) AS prev_valor FROM monthly)
        |SELECT serie_id, indice_tiempo, valor, prev_valor,
        |  round((valor - prev_valor) / NULLIF(prev_valor, 0), 6)
        |    AS pct_change
        |FROM lagged ORDER BY serie_id, indice_tiempo""".stripMargin))

  /** Linear interpolation of injected gaps (TimeSeriesOps.interpolate)
    * — nulls between observations repaired on the straight line through
    * their neighbours; leading/trailing nulls stay null. */
  private def qInterpolate(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.events.select(
      col("user_id").cast("string").as("serie_id"),
      unix_micros(col("ts")).as("indice_tiempo"), col("event_id"),
      when(col("event_id") % 3 === 0, lit(null))
        .otherwise(round(col("value"), 2)).as("valor"))
    TimeSeriesOps.interpolate(series, tieCols = Seq("event_id"))
      .orderBy(col("serie_id").cast("long"), col("indice_tiempo"),
        col("event_id"))
  }
  register(Q("q72_interpolate", qInterpolate,
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS serie_id,
        |    epoch_us(ts) AS indice_tiempo, event_id,
        |    CASE WHEN event_id % 3 = 0 THEN NULL
        |         ELSE round(value, 2) END AS valor
        |  FROM events),
        |w AS (SELECT serie_id, indice_tiempo, event_id, valor,
        |    last_value(valor IGNORE NULLS) OVER back AS prev_v,
        |    last_value(CASE WHEN valor IS NOT NULL THEN indice_tiempo END
        |      IGNORE NULLS) OVER back AS prev_t,
        |    first_value(valor IGNORE NULLS) OVER fwd AS next_v,
        |    first_value(CASE WHEN valor IS NOT NULL THEN indice_tiempo END
        |      IGNORE NULLS) OVER fwd AS next_t
        |  FROM s WINDOW
        |    back AS (PARTITION BY serie_id ORDER BY indice_tiempo, event_id
        |      ROWS UNBOUNDED PRECEDING),
        |    fwd AS (PARTITION BY serie_id ORDER BY indice_tiempo, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT serie_id, indice_tiempo, event_id, valor,
        |  CASE WHEN valor IS NOT NULL THEN valor
        |       ELSE round(prev_v + (next_v - prev_v) *
        |         (CAST(indice_tiempo - prev_t AS DOUBLE) /
        |          CAST(next_t - prev_t AS DOUBLE)), 6) END AS valor_interp
        |FROM w
        |ORDER BY CAST(serie_id AS BIGINT), indice_tiempo, event_id""".stripMargin))

  /** Rolling z-score anomaly screen (TimeSeriesOps.rollingAnomaly):
    * verdict computed in EXACT integer cents — `(n·x−s)² > kσ²·(n·sq−s²)`
    * — so the boolean never depends on FP summation order. */
  private def qRollingAnomaly(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val series = t.events.select(
      col("user_id").cast("string").as("serie_id"),
      unix_micros(col("ts")).as("indice_tiempo"), col("event_id"),
      round(col("value"), 2).as("valor"))
    TimeSeriesOps.rollingAnomaly(series, k = 8, kSigma = 2, minObs = 4,
        tieCols = Seq("event_id"))
      .select(col("serie_id"), col("indice_tiempo"), col("event_id"),
        col("valor"), col("n_w"), col("anomaly"), col("zscore"))
      .orderBy(col("serie_id").cast("long"), col("indice_tiempo"),
        col("event_id"))
  }
  // the anomaly verdict multiplies the z-test through by n² so it
  // compares exact integers; only the reported zscore touches FP
  register(Q("q73_rolling_anomaly", qRollingAnomaly,
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS serie_id,
        |    epoch_us(ts) AS indice_tiempo, event_id,
        |    round(value, 2) AS valor FROM events),
        |c AS (SELECT *, CAST(round(valor * 100) AS BIGINT) AS cents FROM s),
        |w AS (SELECT serie_id, indice_tiempo, event_id, valor, cents,
        |    count(cents) OVER win AS n_w,
        |    sum(cents) OVER win AS s_w,
        |    sum(cents * cents) OVER win AS sq_w
        |  FROM c WINDOW win AS (PARTITION BY serie_id
        |    ORDER BY indice_tiempo, event_id
        |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
        |d AS (SELECT *, n_w * cents - s_w AS dev,
        |    n_w * sq_w - s_w * s_w AS varn FROM w)
        |SELECT serie_id, indice_tiempo, event_id, valor, n_w,
        |  (n_w >= 4 AND dev * dev > 4 * varn) AS anomaly,
        |  CASE WHEN n_w >= 4 AND varn > 0
        |       THEN round(CAST(dev AS DOUBLE) / sqrt(CAST(varn AS DOUBLE)), 6)
        |  END AS zscore
        |FROM d
        |ORDER BY CAST(serie_id AS BIGINT), indice_tiempo, event_id""".stripMargin))

  /** Additive seasonal decomposition (TimeSeriesOps.seasonalDecompose):
    * monthly revenue split into trend + month-of-year seasonal +
    * residual, all FP reduced to fixed expressions over exact integer
    * cents. */
  private def qSeasonal(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val monthly = t.lineitem.groupBy(
        col("l_returnflag").as("serie_id"),
        trunc(col("l_shipdate"), "month").as("indice_tiempo"))
      .agg(round(sum(col("l_quantity")), 2).as("valor"))
    TimeSeriesOps.seasonalDecompose(monthly, period = 12)
      .select(col("serie_id"), col("indice_tiempo"), col("valor"),
        col("trend"), col("seasonal"), col("residual"))
      .orderBy(col("serie_id"), col("indice_tiempo"))
  }
  // trend/seasonal/residual all reduce to fixed double expressions
  // over exact integer cents (13·cents − Σcents is the scaled
  // detrended value), so the decomposition hash-matches
  register(Q("q76_seasonal", qSeasonal,
      """WITH monthly AS (SELECT l_returnflag AS serie_id,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS indice_tiempo,
        |    round(sum(l_quantity), 2) AS valor
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT *, CAST(round(valor * 100) AS BIGINT) AS cents
        |  FROM monthly),
        |w AS (SELECT *, count(cents) OVER win AS n_c,
        |    sum(cents) OVER win AS s_c
        |  FROM c WINDOW win AS (PARTITION BY serie_id
        |    ORDER BY indice_tiempo
        |    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
        |d AS (SELECT *,
        |    CASE WHEN n_c = 13 THEN 13 * cents - s_c END AS detr,
        |    month(indice_tiempo) AS moy FROM w),
        |seas AS (SELECT serie_id, moy, sum(detr) AS sum_d,
        |    count(*) AS n_d
        |  FROM d WHERE detr IS NOT NULL GROUP BY 1, 2)
        |SELECT d.serie_id, d.indice_tiempo, d.valor,
        |  CASE WHEN n_c = 13
        |       THEN round(CAST(s_c AS DOUBLE) / 1300.0, 6) END AS trend,
        |  round(CAST(sum_d AS DOUBLE) / (1300.0 * n_d), 6) AS seasonal,
        |  CASE WHEN n_c = 13
        |       THEN round(cents / 100.0 - CAST(s_c AS DOUBLE) / 1300.0 -
        |         CAST(sum_d AS DOUBLE) / (1300.0 * n_d), 6) END AS residual
        |FROM d LEFT JOIN seas
        |  ON d.serie_id = seas.serie_id AND d.moy = seas.moy
        |ORDER BY d.serie_id, d.indice_tiempo""".stripMargin))

  /** Per-event-type daily trend (TimeSeriesOps.linearTrend):
    * closed-form OLS over exact integer sums, slope in cents/day. */
  private def qTrend(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val daily = t.events.select(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("day_cents"))
    TimeSeriesOps.linearTrend(daily, "event_type", "day", "day_cents")
      .orderBy(col("event_type"))
  }
  register(Q("q92_trend", qTrend,
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT event_type, day, sum(cents) AS y FROM e
        |  GROUP BY 1, 2),
        |m AS (SELECT event_type, min(day) AS x0 FROM d GROUP BY 1),
        |p AS (SELECT d.event_type, d.day - m.x0 AS x, y
        |  FROM d JOIN m USING (event_type)),
        |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM p GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((n * sxy - sx * sy)::DOUBLE /
        |      (n * sxx - sx * sx), 6) END AS slope,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((sy * sxx - sx * sxy)::DOUBLE /
        |      (n * sxx - sx * sx), 6) END AS intercept
        |FROM s ORDER BY event_type""".stripMargin))

  /** Per-event-type CUSUM changepoint over daily totals
    * (TimeSeriesOps.cusumChangepoint): integer-scaled statistic. */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val daily = t.events.select(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("day_cents"))
    TimeSeriesOps.cusumChangepoint(daily, "event_type", "day", "day_cents")
      .orderBy(col("event_type"))
  }
  register(Q("q93_changepoint", qChangepoint,
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT event_type, day AS x, sum(cents) AS y FROM e
        |  GROUP BY 1, 2),
        |t AS (SELECT event_type, count(*) AS n, sum(y) AS sy FROM d
        |  GROUP BY 1),
        |s AS (SELECT d.event_type, x, t.n,
        |    row_number() OVER (PARTITION BY d.event_type ORDER BY x) AS k,
        |    sum(y) OVER (PARTITION BY d.event_type ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS cum, t.sy
        |  FROM d JOIN t USING (event_type)),
        |a AS (SELECT event_type, n, x,
        |    abs(n * cum - k * sy) AS s_abs,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * cum - k * sy) DESC, x) AS rnk
        |  FROM s)
        |SELECT event_type, n, x AS cp_x, CAST(s_abs AS BIGINT) AS s_abs,
        |  round(s_abs::DOUBLE / (n * 100.0), 6) AS shift
        |FROM a WHERE rnk = 1 ORDER BY event_type""".stripMargin))

  /** Point-in-interval join, bucket-blocked (TimeSeriesOps
    * .pointInIntervalJoin): events matched to incident windows derived
    * from the nation dim; per-window event count / distinct users /
    * value total. */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val windows = t.nation.select(
      col("n_nationkey").as("window_id"),
      (lit("2024-01-01").cast("timestamp") +
        make_dt_interval(col("n_nationkey"))).as("start_ts"),
      (lit("2024-01-01").cast("timestamp") +
        make_dt_interval(col("n_nationkey"),
          (col("n_nationkey") % 3 + 1) * 6)).as("end_ts"))
    TimeSeriesOps.pointInIntervalJoin(t.events, "ts", windows,
        "start_ts", "end_ts", bucketUs = 6L * 3600L * 1000000L)
      .groupBy(col("iv_window_id").as("window_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_id"))
  }
  register(Q("q129_interval_join", qIntervalJoin,
      """WITH w AS (SELECT n_nationkey AS window_id,
        |    TIMESTAMP '2024-01-01' + to_days(n_nationkey) AS start_ts,
        |    TIMESTAMP '2024-01-01' + to_days(n_nationkey) +
        |      to_hours(((n_nationkey % 3) + 1) * 6) AS end_ts
        |  FROM nation)
        |SELECT w.window_id, count(*) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN w ON e.ts >= w.start_ts AND e.ts < w.end_ts
        |GROUP BY w.window_id ORDER BY w.window_id""".stripMargin))

  /** Truncated dyadic EWMA (TimeSeriesOps.dyadicEwma, k = 8) over
    * per-event-type value series in exact integer cents — exponential
    * smoothing whose numerator/denominator are integer sums, so the
    * smoothed value is reproducible bit-for-bit on any engine. */
  private def qEwma(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val e = t.events.select(col("event_type"), col("event_id"),
      col("ts"), round(col("value") * 100).cast("long").as("cents"))
    TimeSeriesOps.dyadicEwma(e, Seq("event_type"),
        Seq(col("ts"), col("event_id")), "cents", k = 8)
      .select(col("event_type"), col("event_id"), col("cents"),
        col("ewma_num"), col("ewma_den"), col("ewma"))
      .orderBy(col("event_type"), col("event_id"))
  }
  // weights generated from the same k as TimeSeriesOps.dyadicEwma;
  // j = 0 reads the current row directly (no lag-0)
  register(Q("q154_ewma", qEwma, {
      val k = 8
      def src(j: Int) = if (j == 0) "cents" else s"lag(cents, $j) OVER w"
      val num = (0 until k)
        .map(j => s"coalesce(${src(j)} * ${1L << (k - 1 - j)}, 0)")
        .mkString(" + ")
      val den = (0 until k)
        .map(j => s"(CASE WHEN ${src(j)} IS NOT NULL THEN ${1L << (k - 1 - j)} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id, ts,
         |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |l AS (SELECT event_type, event_id, cents,
         |    $num AS ewma_num,
         |    $den AS ewma_den
         |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
         |SELECT event_type, event_id, cents,
         |  CAST(ewma_num AS BIGINT) AS ewma_num,
         |  CAST(ewma_den AS BIGINT) AS ewma_den,
         |  round(CAST(ewma_num AS DOUBLE) / ewma_den, 6) AS ewma
         |FROM l ORDER BY event_type, event_id""".stripMargin
    }))

  /** Native as-of join (graft.plans.AsOfJoin → AsOfJoinExec via the
    * injected strategy): q61's exact workload through the custom
    * whole-operator path — one merge pass per co-partitioned sorted
    * partition, no union, no window state. Same DuckDB ASOF JOIN
    * oracle. */
  private def qAsofNative(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      round(col("value"), 2).as("value"))
    val marks = ev.filter(col("event_id") % 7 === 0)
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("value")).as("mark"))
    TimeSeriesOps.asofJoinNative(ev, marks, Seq("user_id"), "us",
        Seq("mark"))
      .select(col("user_id"), col("us"), col("event_id"), col("value"),
        col("asof_mark"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }
  register(Q("q183_asof_native", qAsofNative, asofJoin.oracle))

  /** Interval-overlap counting (TimeSeriesOps.intervalOverlapCounts):
    * how many AUTOMOBILE-segment order fulfillment windows overlap
    * each BUILDING-segment window ([orderdate, +14d), half-open).
    * Formerly ran through the pair-materializing
    * [[TimeSeriesOps.intervalOverlapJoin]]: with a FIXED 6-month date
    * range, ×100 data density makes overlapping pairs grow ~density²
    * for data reasons (~10⁹ pair rows at ×100 just to count them), so
    * the count form answers the same question by order statistics —
    * two distributed ranks, zero pairs, every frame linear. The
    * oracle still counts the brute-force pairs, which is exactly what
    * proves the rank algebra (incl. half-open tie handling) right. */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    def windows(segment: String) = t.orders
      .join(broadcast(t.customer.filter(col("c_mktsegment") === segment)
          .select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .select(col("o_orderkey").as("wid"), col("o_orderdate").as("ws"),
        (col("o_orderdate") + expr("INTERVAL 14 DAYS")).as("we"))
    TimeSeriesOps.intervalOverlapCounts(
        windows("BUILDING"), windows("AUTOMOBILE"), "wid", "ws", "we",
        bucketUs = 14L * 86400000000L)
      .filter(col("n_overlap") > 0)
      .select(col("wid").as("building_order"), col("n_overlap"))
      .orderBy(col("building_order"))
  }
  register(Q("q195_interval_overlap", qIntervalOverlap,
      """WITH b AS (
        |  SELECT o_orderkey AS wid, o_orderdate AS ws,
        |    o_orderdate + INTERVAL 14 DAY AS we
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-07-01'),
        |a AS (
        |  SELECT o_orderkey AS wid, o_orderdate AS ws,
        |    o_orderdate + INTERVAL 14 DAY AS we
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'AUTOMOBILE'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-07-01')
        |SELECT b.wid AS building_order, count(*) AS n_overlap
        |FROM b JOIN a ON b.ws < a.we AND a.ws < b.we
        |GROUP BY b.wid
        |ORDER BY building_order""".stripMargin))

  /** Time-weighted average (TimeSeriesOps.twap): per (user, event
    * type), the duration-weighted mean event value — the irregular-
    * sampling-proof mean. Values quantize to exact cents before the
    * weighting so the decimal accumulation replays anywhere.
    * `event_id` is the tiebreak: events CAN tie on (user, type, ts),
    * and without a unique ordering the lead() window — hence which
    * tied row carries the interval — is engine-dependent. */
  private def qTwap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    TimeSeriesOps.twap(ev, Seq("user_id", "event_type"), "us", "cents",
        tieCols = Seq("event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }
  // event_id tiebreak in the window ORDER BY + dur > 0 filter mirror
  // the operator: tied-timestamp rows order deterministically and
  // the zero-duration (tied-earlier) rows drop from sums AND count
  register(Q("q203_twap", qTwap,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |    event_id,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |d AS (SELECT *, lead(us) OVER (PARTITION BY user_id, event_type
        |    ORDER BY us, event_id) - us AS dur FROM e)
        |SELECT user_id, event_type,
        |  round(CAST(sum(CAST(cents AS HUGEINT) * dur) AS DOUBLE)
        |    / CAST(sum(CAST(dur AS HUGEINT)) AS DOUBLE) / 100.0, 6)
        |    AS twap,
        |  count(*) AS n_intervals
        |FROM d WHERE dur > 0
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin))

  /** View→purchase conversion via the NATIVE as-of join (second
    * workload through plans.AsOfJoin): each purchase picks the user's
    * most recent prior-or-same-instant view, and converts if it was
    * within the hour — per day, purchases, view-attributed purchases,
    * and within-the-hour conversions. */
  private def qViewToPurchase(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("us"))
      .agg(count(lit(1)).as("_n"))
      .select(col("user_id"), col("us"), col("us").as("view_us"))
    TimeSeriesOps.asofJoinNative(purchases, views, Seq("user_id"), "us",
        Seq("view_us"))
      .groupBy(timestamp_micros(col("us")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("asof_view_us").isNotNull, 1L).otherwise(0L))
          .as("n_attributed"),
        sum(when(col("us") - col("asof_view_us") <= 3600000000L, 1L)
          .otherwise(0L)).as("n_within_hour"))
      .orderBy(col("day"))
  }
  register(Q("q221_view_to_purchase", qViewToPurchase,
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |p AS (SELECT user_id, us FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT DISTINCT user_id, us AS view_us FROM ev
        |  WHERE event_type = 'view')
        |SELECT CAST(make_timestamp(p.us) AS DATE) AS day,
        |  count(*) AS n_purchases,
        |  CAST(sum(CASE WHEN view_us IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_attributed,
        |  CAST(sum(CASE WHEN p.us - view_us <= 3600000000 THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_within_hour
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.us >= v.view_us
        |GROUP BY 1
        |ORDER BY 1""".stripMargin))
}
