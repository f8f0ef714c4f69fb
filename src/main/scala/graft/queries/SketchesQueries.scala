package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.operators.{Dedup, Sketches}
import OracleSql.{hash32Sql, normTextSql, wsTokensSql}

/** Queries exercising [[graft.operators.Sketches]]. */
private[graft] object SketchesQueries extends Queries {

  /** Portable KMV distinct sketch: approx distinct users per event type
    * — unlike HLL (q26, engine-specific), the k-minimum-values estimate
    * over the portable hash is reproducible by ANY engine, so this one
    * hash-matches the oracle (Sketches.kmvDistinct). */
  private def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sketches.kmvDistinct(t.events, "event_type", "user_id", k = 64)
      .orderBy(col("event_type"))
  }
  private val kmvDistinct = register(Q("q29_kmv_distinct", qKmvDistinct,
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (SELECT event_type, h, row_number() OVER
         |    (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         |t AS (SELECT event_type, count(*) AS n_seen, max(h) AS kth_min
         |  FROM r WHERE rn <= 64 GROUP BY event_type)
         |SELECT event_type,
         |  CASE WHEN n_seen < 64 OR kth_min <= 0 THEN CAST(n_seen AS DOUBLE)
         |       ELSE round((64 - 1) * 4294967296.0 / kth_min, 2)
         |  END AS approx_distinct,
         |  CAST(n_seen AS BIGINT) AS n_seen
         |FROM t ORDER BY event_type""".stripMargin))

  /** q29 re-expressed over the native bounded-state KMV aggregate
    * ([[graft.functions.KmvSketchAgg]] via Sketches.kmvDistinctNative):
    * same estimator, same output, but the shuffle carries a ≤k-long
    * buffer per (partition, group) instead of one row per distinct
    * hash — shares q29's oracle verbatim, so the two forms are proven
    * equal by the gate itself. */
  private def qKmvNative(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sketches.kmvDistinctNative(t.events, "event_type", "user_id", k = 64)
      .orderBy(col("event_type"))
  }
  // identical to q29's oracle by construction: the native aggregate
  // must reproduce the composed pipeline bit-for-bit
  register(Q("q194_kmv_native", qKmvNative, kmvDistinct.oracle))

  /** Windowed distinct-count through the SQL surface: daily distinct
    * users per (event type, day) via `graft_kmv` in PLAIN SPARK SQL (the
    * injected-function path — proving the native aggregate composes
    * with any SQL workload, not only the Scala API). k=8 so busy
    * days cross into estimation while quiet ones stay exact. */
  private def qKmvWindow(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val t = Tables(s, dir)
    t.events.select(col("event_type"),
        col("ts").cast("date").as("day"),
        GF.hash32(col("user_id").cast("string")).as("h"))
      .createOrReplaceTempView("kmv_events")
    s.sql("""
      SELECT event_type, day,
        CASE WHEN kmv.n_seen < 8 OR kmv.kth_min <= 0
               THEN CAST(kmv.n_seen AS DOUBLE)
             ELSE round((8 - 1) * 4294967296.0 / kmv.kth_min, 2)
        END AS approx_distinct,
        kmv.n_seen AS n_seen
      FROM (SELECT event_type, day, graft_kmv(h, 8) AS kmv
            FROM kmv_events GROUP BY event_type, day)
      ORDER BY event_type, day""")
  }
  register(Q("q201_kmv_window", qKmvWindow,
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    CAST(ts AS DATE) AS day,
         |    ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (SELECT event_type, day, h, row_number() OVER
         |    (PARTITION BY event_type, day ORDER BY h) AS rn FROM h),
         |t AS (SELECT event_type, day, count(*) AS n_seen,
         |    max(h) AS kth_min
         |  FROM r WHERE rn <= 8 GROUP BY event_type, day)
         |SELECT event_type, day,
         |  CASE WHEN n_seen < 8 OR kth_min <= 0 THEN CAST(n_seen AS DOUBLE)
         |       ELSE round((8 - 1) * 4294967296.0 / kth_min, 2)
         |  END AS approx_distinct,
         |  CAST(n_seen AS BIGINT) AS n_seen
         |FROM t ORDER BY event_type, day""".stripMargin))

  /** KMV sketch algebra (Sketches.kmvPairOverlap): audience overlap
    * between every pair of event types — union cardinality and Jaccard
    * estimated from the bottom-64 sketches ALONE, no re-scan of the
    * pair. The cross-source overlap question q85 answers exactly at
    * digest grain, answered here at metadata scale. */
  private def qKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sketches.kmvPairOverlap(t.events, "event_type", "user_id", k = 64)
      .orderBy(col("g1"), col("g2"))
  }
  register(Q("q202_kmv_overlap", qKmvOverlap,
      s"""WITH h AS (SELECT DISTINCT event_type AS g,
         |    ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h FROM events),
         |bk AS (SELECT g, h FROM (SELECT g, h, row_number() OVER
         |    (PARTITION BY g ORDER BY h) AS rn FROM h) WHERE rn <= 64),
         |gs AS (SELECT DISTINCT g FROM bk),
         |pairs AS (SELECT a.g AS g1, b.g AS g2 FROM gs a, gs b
         |  WHERE a.g < b.g),
         |mu AS (
         |  SELECT p.g1, p.g2, k.h FROM pairs p JOIN bk k ON k.g = p.g1
         |  UNION
         |  SELECT p.g1, p.g2, k.h FROM pairs p JOIN bk k ON k.g = p.g2),
         |topu AS (SELECT g1, g2, h FROM (SELECT g1, g2, h, row_number()
         |    OVER (PARTITION BY g1, g2 ORDER BY h) AS rn FROM mu)
         |  WHERE rn <= 64),
         |fl AS (SELECT t.g1, t.g2, t.h,
         |    CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS ina,
         |    CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS inb
         |  FROM topu t
         |  LEFT JOIN bk a ON a.g = t.g1 AND a.h = t.h
         |  LEFT JOIN bk b ON b.g = t.g2 AND b.h = t.h),
         |agg AS (SELECT g1, g2, count(*) AS n_u, max(h) AS kth,
         |    sum(ina * inb) AS n_common
         |  FROM fl GROUP BY g1, g2)
         |SELECT g1, g2,
         |  CASE WHEN n_u < 64 OR kth <= 0 THEN CAST(n_u AS DOUBLE)
         |       ELSE round((64 - 1) * 4294967296.0 / kth, 2)
         |  END AS union_est,
         |  round(CAST(n_common AS DOUBLE) / n_u, 6) AS jaccard_est,
         |  CAST(n_common AS BIGINT) AS n_common
         |FROM agg ORDER BY g1, g2""".stripMargin))

  /** Trailing-7-day distinct users per day via the KMV aggregate: each
    * (day, user) contribution EXPLODES to the 7 target days whose
    * trailing window contains it, and `graft_kmv` absorbs the
    * duplicates (sketches are sets — no pre-distinct pass needed).
    * The sliding-distinct shape with bounded per-window state: 7×
    * row amplification of slim (date, long) rows, never a range join,
    * never a per-window re-scan. */
  private def qSlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ev = t.events.select(col("ts").cast("date").as("day"),
      GF.hash32(col("user_id").cast("string")).as("h"))
    val days = ev.select(col("day")).distinct()
    val k = 64
    ev.withColumn("target",
        explode(sequence(col("day"), date_add(col("day"), 6))))
      .join(broadcast(days.withColumnRenamed("day", "target")),
        Seq("target"), "left_semi")
      .groupBy(col("target").as("day"))
      .agg(Sketches.kmvAgg(col("h"), k).as("kmv"))
      .select(col("day"),
        Sketches.kmvEstimate(col("kmv.n_seen"), col("kmv.kth_min"), k)
          .as("approx_distinct_7d"),
        col("kmv.n_seen").as("n_seen"))
      .orderBy(col("day"))
  }
  register(Q("q207_sliding_distinct", qSlidingDistinct,
      s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
         |    ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h FROM events),
         |days AS (SELECT DISTINCT day FROM ev),
         |contrib AS (SELECT DISTINCT d.day, e.h
         |  FROM days d JOIN ev e
         |    ON e.day BETWEEN d.day - 6 AND d.day),
         |r AS (SELECT day, h, row_number() OVER
         |    (PARTITION BY day ORDER BY h) AS rn FROM contrib),
         |t AS (SELECT day, count(*) AS n_seen, max(h) AS kth_min
         |  FROM r WHERE rn <= 64 GROUP BY day)
         |SELECT day,
         |  CASE WHEN n_seen < 64 OR kth_min <= 0 THEN CAST(n_seen AS DOUBLE)
         |       ELSE round((64 - 1) * 4294967296.0 / kth_min, 2)
         |  END AS approx_distinct_7d,
         |  CAST(n_seen AS BIGINT) AS n_seen
         |FROM t ORDER BY day""".stripMargin))

  /** Count-Min Sketch frequency estimates (Sketches.cmsTopKAccuracy
    * over the native [[graft.functions.CmsSketchAgg]]): the
    * frequency-estimate member of the sketch trio — KMV answers "how
    * many distinct?", Misra-Gries "which candidates are heavy?", CMS
    * "how often does THIS key occur?" from one fixed
    * depth × width counter matrix, no vocabulary shuffle. The query is
    * the accuracy harness (the q97 recall-harness discipline): sketch
    * the corpus token stream, then grade the 10 true-heaviest tokens —
    * true count, estimate, overcount. One-sided error (overcount ≥ 0,
    * collisions only add) and the row hashes are the portable minhash
    * universal family, so the oracle replays every counter and every
    * estimate digit — not just the bound. */
  private def qCmsFreq(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val toks = t.documents.select(
      explode(Dedup.normTokens(col("text"))).as("tok"))
    Sketches.cmsTopKAccuracy(toks, "tok", depth = 4, width = 1024,
        topK = 10)
      .withColumnRenamed("value", "tok")
  }
  // Full CMS replay: same counters, same min-over-rows estimate.
  // Row i's bucket is ((h*(2i+1) + (101i+17)) % 4294967311) % width,
  // the GF.universalHash family — h < 2^32 and 2i+1 <= 7, so the
  // product stays far inside BIGINT.
  register(Q("q230_cms_freq", qCmsFreq,
      s"""WITH docs_norm AS (SELECT $normTextSql AS norm FROM documents),
         |toks AS (SELECT unnest(${wsTokensSql("norm")}) AS tok
         |  FROM docs_norm),
         |h AS (SELECT tok, ${hash32Sql("tok")} AS h FROM toks),
         |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS i),
         |cnt AS (SELECT i,
         |    ((h * (2*i + 1) + (101*i + 17)) % 4294967311) % 1024 AS b,
         |    count(*) AS c
         |  FROM h CROSS JOIN rows_ GROUP BY 1, 2),
         |top AS (SELECT tok, h, count(*) AS true_cnt FROM h
         |  GROUP BY 1, 2 ORDER BY true_cnt DESC, tok LIMIT 10),
         |est AS (SELECT t.tok, t.true_cnt, min(c.c) AS cms_est
         |  FROM top t JOIN cnt c
         |    ON c.b = ((t.h * (2*c.i + 1) + (101*c.i + 17))
         |              % 4294967311) % 1024
         |  GROUP BY 1, 2)
         |SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt,
         |  CAST(cms_est AS BIGINT) AS cms_est,
         |  CAST(cms_est - true_cnt AS BIGINT) AS overcount
         |FROM est ORDER BY true_cnt DESC, tok""".stripMargin))

  /** Windowed CMS through the SQL surface: per (event type, day), the
    * Count-Min estimate of a fixed 5-user watchlist's event counts via
    * `graft_cms` in PLAIN SPARK SQL (the q201 discipline: the native
    * aggregate must compose with any SQL workload, not only the Scala
    * API). depth 2 × width 64 on purpose — busy (type, day) cells
    * produce real collisions so the one-sided overcount is exercised,
    * quiet cells stay exact. The watchlist probe is a literal
    * expression over the broadcast sketch rows: at 100 TB the
    * per-window sketches are metadata (one 2×64 matrix per cell)
    * while the raw (user, type, day) grain never shuffles. The true
    * counts come from one watchlist-filtered exact pass — the
    * verification half of the harness, same as q230. */
  private def qCmsWindow(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val t = Tables(s, dir)
    t.events.select(col("event_type"),
        col("ts").cast("date").as("day"),
        GF.hash32(col("user_id").cast("string")).as("h"),
        col("user_id"))
      .createOrReplaceTempView("cms_events")
    s.sql("""
      WITH sk AS (SELECT event_type, day, graft_cms(h, 2, 64) AS cms
                  FROM cms_events GROUP BY event_type, day),
      w AS (SELECT uid, CAST(conv(substring(md5(CAST(uid AS STRING)),
                1, 8), 16, 10) AS BIGINT) AS uh
            FROM VALUES (1), (2), (3), (4), (5) AS t(uid)),
      est AS (SELECT s.event_type, s.day, w.uid,
          least(
            element_at(element_at(s.cms, 1),
              CAST(((w.uh * 1 + 17) % 4294967311) % 64 AS INT) + 1),
            element_at(element_at(s.cms, 2),
              CAST(((w.uh * 3 + 118) % 4294967311) % 64 AS INT) + 1))
            AS cms_est
        FROM sk s CROSS JOIN w),
      tru AS (SELECT event_type, day, user_id AS uid,
            count(*) AS true_cnt
          FROM cms_events WHERE user_id IN (1, 2, 3, 4, 5)
          GROUP BY event_type, day, user_id)
      SELECT e.event_type, e.day, CAST(e.uid AS BIGINT) AS uid,
        CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt,
        e.cms_est,
        e.cms_est - CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS overcount
      FROM est e LEFT JOIN tru t
        ON e.event_type = t.event_type AND e.day = t.day
           AND e.uid = t.uid
      ORDER BY event_type, day, uid""")
  }
  // Windowed CMS replay: per (event_type, day) counters at (i, bucket)
  // grain; probe buckets computed from the watchlist hashes with the
  // same universal family; empty probe buckets coalesce to 0 (the
  // Spark matrix holds explicit zeros, DuckDB's sparse counts don't).
  register(Q("q231_cms_window", qCmsWindow,
      s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${hash32Sql("CAST(user_id AS VARCHAR)")} AS h, user_id
         |  FROM events),
         |rows_ AS (SELECT unnest([0, 1]) AS i),
         |cnt AS (SELECT event_type, day, i,
         |    ((h * (2*i + 1) + (101*i + 17)) % 4294967311) % 64 AS b,
         |    count(*) AS c
         |  FROM ev CROSS JOIN rows_ GROUP BY 1, 2, 3, 4),
         |wh AS (SELECT uid,
         |    ${hash32Sql("CAST(uid AS VARCHAR)")} AS uh
         |  FROM (SELECT unnest([1, 2, 3, 4, 5]) AS uid)),
         |grid AS (SELECT DISTINCT event_type, day FROM ev),
         |probe AS (SELECT g.event_type, g.day, wh.uid, r.i,
         |    ((wh.uh * (2*r.i + 1) + (101*r.i + 17)) % 4294967311) % 64
         |      AS b
         |  FROM grid g CROSS JOIN wh CROSS JOIN rows_ r),
         |est AS (SELECT p.event_type, p.day, p.uid,
         |    min(coalesce(c.c, 0)) AS cms_est
         |  FROM probe p LEFT JOIN cnt c
         |    ON c.event_type = p.event_type AND c.day = p.day
         |       AND c.i = p.i AND c.b = p.b
         |  GROUP BY 1, 2, 3),
         |tru AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    user_id AS uid, count(*) AS true_cnt
         |  FROM events WHERE user_id IN (1, 2, 3, 4, 5)
         |  GROUP BY 1, 2, 3)
         |SELECT e.event_type, e.day, CAST(e.uid AS BIGINT) AS uid,
         |  CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt,
         |  CAST(e.cms_est AS BIGINT) AS cms_est,
         |  CAST(e.cms_est - coalesce(t.true_cnt, 0) AS BIGINT)
         |    AS overcount
         |FROM est e LEFT JOIN tru t
         |  ON e.event_type = t.event_type AND e.day = t.day
         |     AND e.uid = t.uid
         |ORDER BY 1, 2, 3""".stripMargin))

  /** HDR quantile-sketch accuracy harness
    * (Sketches.hdrQuantileAccuracy, the q230/q97 discipline): per
    * language, grade the sketch's P1/P25/P50/P75/P99 of document text
    * length against the exact rank-⌈φ·N⌉ values — estimate, relative
    * error and the 2^−7 in-bound verdict side by side. The exact side
    * exists only to grade; the production path is one bounded-state
    * aggregate (map-side mergeable bucket map, ~2^7·log₂(range)
    * entries) + plain-projection probes — the quantile member of the
    * sketch family next to KMV/Misra-Gries/CMS, and the 100 TB answer
    * to q127's exact value-grain quantiles. */
  private def qHdrQuantiles(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sketches.hdrQuantileAccuracy(
        t.documents.filter(col("text").isNotNull)
          .select(col("lang"), length(col("text")).cast("long")
            .as("text_len")),
        "lang", "text_len", sBits = 7,
        phis = Seq(0.01, 0.25, 0.5, 0.75, 0.99))
      .withColumnRenamed("grp", "lang")
  }
  // Full HDR replay: bucket = (n−7)·128 + (v >> (n−7)) with
  // n = ⌊log₂ v⌋ from the bin() string length (exact integer ops, no
  // float log); lower bound inverts with the same shift arithmetic.
  // Text lengths are non-negative so the sign mirror never fires.
  // Both the exact and sketch sides pick min(value|bucket) at
  // cumulative ≥ max(⌈φ·N⌉, 1) — the rank rule the Spark side uses.
  register(Q("q232_hdr_quantiles", qHdrQuantiles,
      s"""WITH vals AS (SELECT lang AS grp,
         |    CAST(length(text) AS BIGINT) AS v
         |  FROM documents WHERE text IS NOT NULL),
         |hist AS (SELECT grp, v, count(*) AS c FROM vals GROUP BY 1, 2),
         |ranked AS (SELECT grp, v,
         |    sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
         |    sum(c) OVER (PARTITION BY grp) AS n
         |  FROM hist),
         |phis AS (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS phi),
         |exact AS (SELECT r.grp, p.phi, min(r.v) AS exact_q,
         |    min(r.n) AS n
         |  FROM ranked r CROSS JOIN phis p
         |  WHERE r.cum >= greatest(CAST(ceil(p.phi * r.n) AS BIGINT), 1)
         |  GROUP BY 1, 2),
         |bh AS (SELECT grp,
         |    CASE WHEN v < 128 THEN v
         |         ELSE (length(bin(v)) - 8) * 128 +
         |              (v >> (length(bin(v)) - 8)) END AS bucket,
         |    sum(c) AS bc
         |  FROM hist GROUP BY 1, 2),
         |branked AS (SELECT grp, bucket, bc,
         |    sum(bc) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
         |    sum(bc) OVER (PARTITION BY grp) AS n
         |  FROM bh),
         |est AS (SELECT b.grp, p.phi, min(b.bucket) AS qb
         |  FROM branked b CROSS JOIN phis p
         |  WHERE b.cum >= greatest(CAST(ceil(p.phi * b.n) AS BIGINT), 1)
         |  GROUP BY 1, 2),
         |estv AS (SELECT grp, phi,
         |    CASE WHEN qb < 256 THEN qb
         |         ELSE ((qb & 127) + 128) << CAST((qb >> 7) - 1 AS INT)
         |    END AS hdr_q
         |  FROM est)
         |SELECT e.grp AS lang, e.phi, CAST(x.n AS BIGINT) AS n,
         |  CAST(x.exact_q AS BIGINT) AS exact_q,
         |  CAST(e.hdr_q AS BIGINT) AS hdr_q,
         |  round((x.exact_q - e.hdr_q) /
         |    greatest(abs(e.hdr_q), 1.0), 6) AS rel_err,
         |  ((sign(e.hdr_q) = sign(x.exact_q) OR e.hdr_q = x.exact_q)
         |    AND abs(e.hdr_q) <= abs(x.exact_q)
         |    AND (abs(x.exact_q) - abs(e.hdr_q)) <
         |        abs(e.hdr_q) / 128.0 + 1.0) AS within_bound
         |FROM estv e JOIN exact x ON e.grp = x.grp AND e.phi = x.phi
         |ORDER BY 1, 2""".stripMargin))

  /** Persistable + re-mergeable sketch columns (the lakehouse rollup
    * pattern): per-(lang, source) KMV/CMS/HDR sketch states roll up to
    * lang grain THROUGH THE STORED-STATE MERGE AGGREGATES
    * (Sketches.kmvMergeState / cmsMerge / hdrMerge) and are compared
    * hash-exactly against a direct lang-grain build — the q234 gate
    * for "daily sketches on parquet → monthly rollup without
    * rescanning raw data". All three states are symmetric multiset
    * functions, so merged ≡ direct to the digest; the oracle replays
    * the two-level rollup itself (per-source states merged in SQL),
    * not just the direct build. */
  private def qSketchRollup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val k = 64; val depth = 2; val width = 64; val sBits = 7
    val d = t.documents.filter(col("text").isNotNull)
      .select(col("lang"), col("source"),
        GF.hash32(col("text")).as("h"),
        length(col("text")).cast("long").as("len"))
    val sub = d.groupBy(col("lang"), col("source"))
      .agg(Sketches.kmvState(col("h"), k).as("kmv"),
        Sketches.cmsAgg(col("h"), depth, width).as("cms"),
        Sketches.hdrAgg(col("len"), sBits).as("hdr"))
    val merged = sub.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sub"),
        Sketches.kmvMergeState(col("kmv"), k).as("kmv_m"),
        Sketches.cmsMerge(col("cms"), depth, width).as("cms_m"),
        Sketches.hdrMerge(col("hdr")).as("hdr_m"))
    val direct = d.groupBy(col("lang"))
      .agg(Sketches.kmvState(col("h"), k).as("kmv_d"),
        Sketches.cmsAgg(col("h"), depth, width).as("cms_d"),
        Sketches.hdrAgg(col("len"), sBits).as("hdr_d"))
    merged.join(direct, Seq("lang"))
      .select(col("lang"), col("n_sub"),
        (col("kmv_m") === col("kmv_d")).as("kmv_eq"),
        Sketches.longArrayDigest(col("kmv_m")).as("kmv_digest"),
        Sketches.kmvEstimateFromState(col("kmv_m"), k).as("kmv_est"),
        (col("cms_m") === col("cms_d")).as("cms_eq"),
        Sketches.cmsDigest(col("cms_m")).as("cms_digest"),
        (col("hdr_m") === col("hdr_d")).as("hdr_eq"),
        Sketches.hdrDigest(col("hdr_m")).as("hdr_digest"),
        Sketches.hdrQuantile(col("hdr_m"), 0.5, sBits).as("hdr_p50"))
      .orderBy(col("lang"))
  }
  // q234 replays the ROLLUP itself, not just the direct build: KMV
  // per-source bottom-64 states merged by re-sorting their union,
  // CMS/HDR per-source counters summed to lang grain — then compared
  // (eq booleans + md5 digests) against direct lang-grain builds.
  register(Q("q234_sketch_rollup", qSketchRollup,
      s"""WITH d AS (SELECT lang, source,
         |    ${hash32Sql("text")} AS h,
         |    CAST(length(text) AS BIGINT) AS len
         |  FROM documents WHERE text IS NOT NULL),
         |kd AS (SELECT DISTINCT lang, source, h FROM d),
         |ksub AS (SELECT lang, source, l[1:64] AS st FROM
         |  (SELECT lang, source, list(h ORDER BY h) AS l
         |   FROM kd GROUP BY 1, 2)),
         |ku AS (SELECT DISTINCT lang, u.h FROM ksub,
         |  unnest(st) AS u(h)),
         |kmerged AS (SELECT lang, l[1:64] AS st FROM
         |  (SELECT lang, list(h ORDER BY h) AS l FROM ku GROUP BY 1)),
         |kdir AS (SELECT lang, l[1:64] AS st FROM
         |  (SELECT lang, list(h ORDER BY h) AS l FROM
         |    (SELECT DISTINCT lang, h FROM d) GROUP BY 1)),
         |rows_i AS (SELECT unnest([0, 1]) AS i),
         |cells AS (SELECT i.i, unnest(range(0, 64)) AS j FROM rows_i i),
         |csub AS (SELECT lang, source, i,
         |    ((h * (2 * i + 1) + (101 * i + 17)) % 4294967311) % 64 AS j,
         |    count(*) AS c
         |  FROM d CROSS JOIN rows_i GROUP BY 1, 2, 3, 4),
         |cmerged AS (SELECT lang, i, j, sum(c) AS c FROM csub
         |  GROUP BY 1, 2, 3),
         |cdir AS (SELECT lang, i,
         |    ((h * (2 * i + 1) + (101 * i + 17)) % 4294967311) % 64 AS j,
         |    count(*) AS c
         |  FROM d CROSS JOIN rows_i GROUP BY 1, 2, 3),
         |grid AS (SELECT l.lang, c.i, c.j FROM
         |  (SELECT DISTINCT lang FROM d) l CROSS JOIN cells c),
         |cmdig AS (SELECT g.lang,
         |    md5(string_agg(CAST(coalesce(m.c, 0) AS VARCHAR), ','
         |      ORDER BY g.i, g.j)) AS dig
         |  FROM grid g LEFT JOIN cmerged m
         |    ON g.lang = m.lang AND g.i = m.i AND g.j = m.j
         |  GROUP BY 1),
         |cddig AS (SELECT g.lang,
         |    md5(string_agg(CAST(coalesce(x.c, 0) AS VARCHAR), ','
         |      ORDER BY g.i, g.j)) AS dig
         |  FROM grid g LEFT JOIN cdir x
         |    ON g.lang = x.lang AND g.i = x.i AND g.j = x.j
         |  GROUP BY 1),
         |hb AS (SELECT lang, source,
         |    CASE WHEN len < 128 THEN len
         |         ELSE (length(bin(len)) - 8) * 128 +
         |              (len >> (length(bin(len)) - 8)) END AS bucket,
         |    count(*) AS c
         |  FROM d GROUP BY 1, 2, 3),
         |hmerged AS (SELECT lang, bucket, sum(c) AS c FROM hb
         |  GROUP BY 1, 2),
         |hdir AS (SELECT lang,
         |    CASE WHEN len < 128 THEN len
         |         ELSE (length(bin(len)) - 8) * 128 +
         |              (len >> (length(bin(len)) - 8)) END AS bucket,
         |    count(*) AS c
         |  FROM d GROUP BY 1, 2),
         |hmdig AS (SELECT lang, md5(string_agg(
         |    CAST(bucket AS VARCHAR) || ':' || CAST(c AS VARCHAR), ','
         |    ORDER BY bucket)) AS dig FROM hmerged GROUP BY 1),
         |hddig AS (SELECT lang, md5(string_agg(
         |    CAST(bucket AS VARCHAR) || ':' || CAST(c AS VARCHAR), ','
         |    ORDER BY bucket)) AS dig FROM hdir GROUP BY 1),
         |hranked AS (SELECT lang, bucket, c,
         |    sum(c) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
         |    sum(c) OVER (PARTITION BY lang) AS n
         |  FROM hmerged),
         |hp50 AS (SELECT lang, min(bucket) AS qb FROM hranked
         |  WHERE cum >= greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
         |  GROUP BY 1),
         |hq AS (SELECT lang,
         |    CASE WHEN qb < 256 THEN qb
         |         ELSE ((qb & 127) + 128) << CAST((qb >> 7) - 1 AS INT)
         |    END AS hdr_p50
         |  FROM hp50),
         |nsub AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sub FROM
         |  (SELECT DISTINCT lang, source FROM d) GROUP BY 1)
         |SELECT n.lang, n.n_sub,
         |  km.st = kd2.st AS kmv_eq,
         |  md5(array_to_string(km.st, ',')) AS kmv_digest,
         |  CASE WHEN len(km.st) < 64 OR km.st[len(km.st)] <= 0
         |       THEN CAST(len(km.st) AS DOUBLE)
         |       ELSE round(63 * 4294967296.0 / km.st[len(km.st)], 2)
         |  END AS kmv_est,
         |  cm.dig = cd.dig AS cms_eq,
         |  cm.dig AS cms_digest,
         |  hm.dig = hd.dig AS hdr_eq,
         |  hm.dig AS hdr_digest,
         |  CAST(hq.hdr_p50 AS BIGINT) AS hdr_p50
         |FROM nsub n
         |JOIN kmerged km ON n.lang = km.lang
         |JOIN kdir kd2 ON n.lang = kd2.lang
         |JOIN cmdig cm ON n.lang = cm.lang
         |JOIN cddig cd ON n.lang = cd.lang
         |JOIN hmdig hm ON n.lang = hm.lang
         |JOIN hddig hd ON n.lang = hd.lang
         |JOIN hq ON n.lang = hq.lang
         |ORDER BY n.lang""".stripMargin))
}
