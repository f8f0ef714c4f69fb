package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EntityResolution

/** Queries exercising [[graft.operators.EntityResolution]]. */
private[graft] object EntityResolutionQueries extends Queries {

  /** Accent/case-fold canonicalization (EntityResolution.foldKey — the
    * native codegen'd FoldTextExpr): documents salted with a fixed
    * accented prefix fold to matching keys; the oracle reproduces the
    * fold with utf8proc's strip_accents + lower. */
  private def qTextFold(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val salted = concat(lit("Café Ñandú ÀÉÎÕÜ "),
      substring(col("text"), 1, 40))
    t.documents.select(col("doc_id"),
        EntityResolution.foldKey(salted).as("folded"))
      .orderBy(col("doc_id"))
  }
  register(Q("q168_text_fold", qTextFold,
      """SELECT doc_id,
        |  lower(strip_accents(nfc_normalize(
        |    'Café Ñandú ÀÉÎÕÜ ' || substr(text, 1, 40)))) AS folded
        |FROM documents
        |ORDER BY doc_id""".stripMargin))

  /** Blocked fuzzy entity matching (EntityResolution.blockedNamePairs
    * — the native codegen'd JaroWinklerExpr): customer names blocked
    * by key range (custkey DIV 100), top-2 most similar per left
    * record. The block key is the scale lesson the ×100 audit taught
    * twice (q65 LSH blocks, q204 simhash bands): a block key with
    * FIXED cardinality — the original (nation, custkey mod 10) had
    * 250 values forever — makes within-block all-pairs grow ~n²/250
    * (4.5B Jaro evaluations at ×100, measured 569 s). Key-RANGE
    * blocks invert that: block SIZE is pinned (≤100 dense TPC-H
    * custkeys) and block COUNT grows with the data, so candidates are
    * exactly 49.5 pairs per customer at any scale. The oracle
    * recomputes pair scores with DuckDB's jaro_winkler_similarity
    * (verified same semantics: prefix cap 4, scale 0.1, 0.7 boost
    * threshold). */
  private def qJaroWinklerMatch(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val blocked = t.customer.select(col("c_custkey"), col("c_name"),
      floor(col("c_custkey") / 100).cast("string").as("block"))
    EntityResolution.blockedNamePairs(blocked, "c_custkey", "c_name",
        "block", minSim = 0.9, k = 2)
      .select(col("id_a"), col("id_b"), col("sim"))
      .orderBy(col("id_a"), col("sim").desc, col("id_b"))
  }
  register(Q("q169_jaro_winkler", qJaroWinklerMatch,
      """WITH blocked AS (
        |  SELECT c_custkey, c_name,
        |    CAST(c_custkey // 100 AS VARCHAR) AS block
        |  FROM customer),
        |pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS sim
        |  FROM blocked a JOIN blocked b USING (block)
        |  WHERE a.c_custkey < b.c_custkey),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY id_a
        |    ORDER BY sim DESC, id_b) AS rk
        |  FROM pairs WHERE sim >= 0.9)
        |SELECT id_a, id_b, sim FROM ranked WHERE rk <= 2
        |ORDER BY id_a, sim DESC, id_b""".stripMargin))

  /** Referential-integrity audit (EntityResolution.referentialAudit):
    * the FK battery a lake gate runs before publishing — anti-join
    * orphan probes at fact grain, 1-row report per check. */
  private def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    EntityResolution.referentialAudit(Seq(
        ("lineitem.orderkey", t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
        ("lineitem.partkey", t.lineitem, "l_partkey", t.part, "p_partkey"),
        ("lineitem.suppkey", t.lineitem, "l_suppkey", t.supplier, "s_suppkey"),
        ("orders.custkey", t.orders, "o_custkey", t.customer, "c_custkey"),
        ("events.user_id", t.events, "user_id", t.customer, "c_custkey")))
      .orderBy(col("check"))
  }
  register(Q("q170_ref_integrity", qRefIntegrity,
      """WITH checks AS (
        |  SELECT 'lineitem.orderkey' AS "check",
        |    count(*) AS "rows",
        |    count(*) FILTER (WHERE o_orderkey IS NULL) AS orphans
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem.partkey', count(*),
        |    count(*) FILTER (WHERE p_partkey IS NULL)
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |  UNION ALL
        |  SELECT 'lineitem.suppkey', count(*),
        |    count(*) FILTER (WHERE s_suppkey IS NULL)
        |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |  UNION ALL
        |  SELECT 'orders.custkey', count(*),
        |    count(*) FILTER (WHERE c_custkey IS NULL)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'events.user_id', count(*),
        |    count(*) FILTER (WHERE c_custkey IS NULL)
        |  FROM events LEFT JOIN customer ON user_id = c_custkey
        |    WHERE user_id IS NOT NULL)
        |SELECT * FROM checks ORDER BY "check"""".stripMargin))

  /** Benford first-digit audit (EntityResolution.benfordDigits) over
    * order totals — digit from the decimal string of floor(x), exact
    * in both engines where a log10/pow round-trip is not. */
  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    EntityResolution.benfordDigits(t.orders, "o_totalprice")
  }
  register(Q("q171_benford", qBenford,
      """WITH counts AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS n
        |  FROM orders WHERE o_totalprice >= 1.0
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
        |SELECT digit, n,
        |  round(n / total, 6) AS obs_share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS exp_share,
        |  round(total * pow(n / total - log10(1.0 + 1.0 / digit), 2)
        |    / log10(1.0 + 1.0 / digit), 6) AS chi2_term
        |FROM counts, tot
        |ORDER BY digit""".stripMargin))

  /** Golden-record survivorship (EntityResolution.survivorship): each
    * user's event history collapses to one record where event_type and
    * value keep their most recent NON-NULL values independently (the
    * corpus is salted with deterministic nulls so "latest row wins"
    * would LOSE data — the per-field max_by must not). */
  private def qSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val updates = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      when(col("event_id") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("event_type")).as("etype"),
      when(col("event_id") % 3 === 0, lit(null).cast("double"))
        .otherwise(round(col("value"), 2)).as("val"))
    EntityResolution.survivorship(updates, "user_id",
        Seq("us", "event_id"), Seq("etype", "val"))
      .select(col("user_id"), col("etype"), col("val"), col("n_updates"))
      .orderBy(col("user_id"))
  }
  register(Q("q199_survivorship", qSurvivorship,
      """WITH u AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END
        |      AS etype,
        |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE round(value, 2) END
        |      AS val
        |  FROM events)
        |SELECT DISTINCT user_id,
        |  last_value(etype IGNORE NULLS) OVER win AS etype,
        |  last_value(val IGNORE NULLS) OVER win AS val,
        |  count(*) OVER (PARTITION BY user_id) AS n_updates
        |FROM u
        |WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin))

  /** Header/detail reconciliation (EntityResolution.reconcile):
    * o_totalprice vs the sum of its lineitems' extended prices, in
    * exact cents, summarized per order status — how big and how
    * frequent the rollup disagreement is (the synthetic generator
    * does NOT maintain the invariant, which is precisely what a
    * reconciliation audit exists to expose). */
  private def qReconcile(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val rows = EntityResolution.reconcile(
      t.orders, "o_orderkey",
      round(col("o_totalprice") * 100).cast("long"),
      t.lineitem, "l_orderkey",
      round(col("l_extendedprice") * 100).cast("long"))
    rows.join(t.orders.select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_lines") === 0, 1L).otherwise(0L))
          .as("n_no_lines"),
        sum(when(col("diff_cents") =!= 0, 1L).otherwise(0L))
          .as("n_mismatched"),
        max(abs(col("diff_cents"))).as("max_abs_diff_cents"))
      .orderBy(col("o_orderstatus"))
  }
  register(Q("q211_reconcile", qReconcile,
      """WITH sums AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rc, count(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey),
        |r AS (SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS dc,
        |    sums.rc, coalesce(sums.n_lines, 0) AS n_lines
        |  FROM orders LEFT JOIN sums ON o_orderkey = l_orderkey)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_lines,
        |  CAST(sum(CASE WHEN dc - rc <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mismatched,
        |  CAST(max(abs(dc - rc)) AS BIGINT) AS max_abs_diff_cents
        |FROM r GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin))
}
