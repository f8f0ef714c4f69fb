package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.model.Frequency
import SparkEntry.meltStack
import OracleSql.missingTokensSqlList

/** Plain relational and TPC-H query shapes, which call no operator:
  * joins, windows, rollups and set operations, plus the reference's
  * string, cell-coordinate and frequency helpers from
  * [[graft.functions.GF]]. */
private[graft] object RelationalQueries extends Queries {

  /** A1-A4/F10 — grouped conditional aggregation (pricing summary). */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  register(Q("q01_pricing_summary", qPricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** J2 — left-semi join: customers having orders, by market segment. */
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer.join(t.orders.select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }
  register(Q("q04_semi_join", qSemiJoin,
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** P9 — anti-join (skip-if-exists semantics): customers with no
    * *urgent* orders, by nation (broadcast dim join). */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer.join(
        t.orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .join(broadcast(t.nation),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))
  }
  register(Q("q05_anti_join", qAntiJoin,
      """SELECT n_name, count(*) AS n_customers
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_orderpriority = '1-URGENT')
        |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** J3/J4 — star-schema revenue: fact joined to broadcast dims. */
  private[graft] def qStarRevenue(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }
  register(Q("q06_star_revenue", qStarRevenue,
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin))

  /** J1 — pivot/align: daily event values pivoted by event type (the
    * reference's concat-on-time-index, SURVEY §2.4 J1). Pivot values are
    * pinned so no extra distinct job runs. */
  private def qPivotDaily(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))
      .orderBy(col("day"))
  }
  register(Q("q07_pivot_daily", qPivotDaily,
      """SELECT CAST(ts AS DATE) AS day,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** D1/D2 — dedup via distinct: distinct event types seen per user. */
  private def qDistinct(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.events.select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_types"))
      .orderBy(col("user_id"))
  }
  register(Q("q08_distinct", qDistinct,
      """SELECT user_id, count(*) AS n_types FROM (
        |  SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** U1 — report accumulation: union of two status projections. */
  private def qUnionReport(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val a = t.orders.select(col("o_orderstatus").as("label"))
    val b = t.lineitem.select(col("l_returnflag").as("label"))
    a.union(b).groupBy(col("label")).agg(count(lit(1)).as("n"))
      .orderBy(col("label"))
  }
  register(Q("q09_union_report", qUnionReport,
      """SELECT label, count(*) AS n FROM (
        |  SELECT o_orderstatus AS label FROM orders
        |  UNION ALL SELECT l_returnflag FROM lineitem)
        |GROUP BY label ORDER BY label""".stripMargin))

  /** P4/O3 — harvest filter + first-element limit: first valid customer
    * (positive balance) that has orders. */
  private def qFirstValid(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer.filter(col("c_acctbal") > 0)
      .join(t.orders.select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .orderBy(col("c_custkey"))
      .limit(1)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }
  register(Q("q11_first_valid", qFirstValid,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE c_acctbal > 0
        |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey LIMIT 1""".stripMargin))

  /** F1/F2/F3 — string functions: strip, extension, basename. */
  private def qStringFuncs(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.part.select(
        col("p_partkey"),
        GF.stripSpaces(col("p_name")).as("name_nospace"),
        GF.fileExtension(concat(lit("a/b/"), col("p_brand"), lit("."),
          col("p_size").cast("string"))).as("ext"),
        GF.basename(concat(lit("http://h/x/"), col("p_brand"), lit("/"),
          col("p_name"))).as("base"))
      .orderBy(col("p_partkey"))
  }
  register(Q("q12_string_funcs", qStringFuncs,
      """SELECT p_partkey, replace(p_name, ' ', '') AS name_nospace,
        |  lower(list_extract(string_split('a/b/' || p_brand || '.' ||
        |    CAST(p_size AS VARCHAR), '.'), -1)) AS ext,
        |  list_extract(string_split('http://h/x/' || p_brand || '/' || p_name,
        |    '/'), -1) AS base
        |FROM part ORDER BY p_partkey""".stripMargin))

  /** F4 — cell-coordinate parsing: "BA37" -> row 37, col 53. */
  private def qCellCoords(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.part.select(col("p_partkey"),
        concat(
          when(col("p_partkey") % 3 === 0, expr("chr(65 + p_partkey % 26)"))
            .otherwise(lit("")),
          expr("chr(65 + p_partkey % 5)"),
          (col("p_partkey") % 90 + 1).cast("string")).as("coord"))
      .withColumn("row_num", GF.cellRow(col("coord")))
      .withColumn("col_num", GF.cellColIndex(col("coord")))
      .orderBy(col("p_partkey"))
  }
  register(Q("q13_cell_coords", qCellCoords,
      """WITH c AS (
        |  SELECT p_partkey,
        |    (CASE WHEN p_partkey % 3 = 0 THEN chr(CAST(65 + p_partkey % 26 AS INT)) ELSE '' END)
        |    || chr(CAST(65 + p_partkey % 5 AS INT))
        |    || CAST(p_partkey % 90 + 1 AS VARCHAR) AS coord
        |  FROM part),
        |p AS (
        |  SELECT p_partkey, coord,
        |    string_split(upper(regexp_extract(coord, '^([A-Za-z]+)[0-9]+$', 1)), '')
        |      AS letters
        |  FROM c)
        |SELECT p_partkey, coord,
        |  CAST(nullif(regexp_extract(coord, '^[A-Za-z]+([0-9]+)$', 1), '') AS INT)
        |    AS row_num,
        |  CAST(list_sum(list_transform(letters,
        |    (ch, i) -> (ascii(ch) - 64) * (26 ** (len(letters) - i)))) AS INT)
        |    AS col_num
        |FROM p ORDER BY p_partkey""".stripMargin))

  /** F5 — ISO repeat-duration -> frequency code (Frequency ADT). */
  private def qFreqMap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val isos = Frequency.all.map(f => lit(f.iso)) :+ lit(null).cast("string")
    t.orders.select(
        element_at(array(isos: _*), (col("o_orderkey") % 6 + 1).cast("int")
          ).as("freq_iso")) // index 6 -> null iso exercises the unknown path
      .withColumn("freq_code", GF.freqCode(col("freq_iso")))
      .groupBy(col("freq_iso"), col("freq_code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("freq_iso"))
  }
  register(Q("q14_freq_map", qFreqMap,
      """WITH f AS (
        |  SELECT (['R/P1Y','R/P6M','R/P3M','R/P1M','R/P1D',NULL])
        |    [CAST(o_orderkey % 6 + 1 AS INT)] AS freq_iso
        |  FROM orders)
        |SELECT freq_iso,
        |  CASE freq_iso WHEN 'R/P1Y' THEN 'Y' WHEN 'R/P6M' THEN 'S'
        |    WHEN 'R/P3M' THEN 'Q' WHEN 'R/P1M' THEN 'M' WHEN 'R/P1D' THEN 'D'
        |    END AS freq_code,
        |  count(*) AS n
        |FROM f GROUP BY freq_iso, freq_code ORDER BY freq_iso""".stripMargin))

  /** F6 — missing-token normalization over a dirty value column. */
  private def qMissingNorm(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val tokens = GF.MissingTokens.map(lit(_))
    val raw = when(col("event_id") % 7 === 0,
      element_at(array(tokens: _*), (col("event_id") % 19 + 1).cast("int")))
      .otherwise(col("value").cast("decimal(12,2)").cast("string"))
    t.events.select(col("event_type"), raw.as("raw"))
      .withColumn("v", GF.normalizeValue(col("raw")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("v")).as("n_values"),
        round(sum(col("v")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }
  register(Q("q15_missing_norm", qMissingNorm,
      s"""WITH raw AS (
         |  SELECT event_type,
         |    CASE WHEN event_id % 7 = 0
         |      THEN $missingTokensSqlList[CAST(event_id % 19 + 1 AS INT)]
         |      ELSE CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) END AS raw
         |  FROM events),
         |norm AS (
         |  SELECT event_type,
         |    CASE WHEN raw IS NULL OR list_contains($missingTokensSqlList, trim(raw))
         |      THEN NULL ELSE TRY_CAST(trim(raw) AS DOUBLE) END AS v
         |  FROM raw)
         |SELECT event_type, count(*) AS n_rows, count(v) AS n_values,
         |  round(sum(v), 2) AS sum_value
         |FROM norm GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** F7 — output downloadURL rewrite (GF.rewriteDownloadUrl). */
  private def qUrlRewrite(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val path = when(col("doc_id") % 2 === 0,
      concat(lit("/data/output/catalog/"), col("source"), lit("/file.csv")))
      .otherwise(concat(lit("/tmp/"), col("source")))
    t.documents.select(col("doc_id"), path.as("path"))
      .withColumn("url",
        GF.rewriteDownloadUrl(col("path"), "/data/output", "https://h"))
      .orderBy(col("doc_id"))
  }
  register(Q("q16_url_rewrite", qUrlRewrite,
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '/data/output/catalog/' || source || '/file.csv'
        |      ELSE '/tmp/' || source END AS path
        |  FROM documents)
        |SELECT doc_id, path,
        |  CASE WHEN starts_with(path, '/data/output')
        |    THEN 'https://h' || substring(path, 13)
        |    ELSE '' END AS url
        |FROM p ORDER BY doc_id""".stripMargin))

  /** F8 — nested output path assembly with fileName fallback. */
  private def qPathAssembly(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.documents.select(col("doc_id"), col("source"))
      .withColumn("distribution_id",
        concat(col("source"), lit("."), (col("doc_id") % 7).cast("string")))
      .withColumn("file_name",
        when(col("doc_id") % 3 === 0, concat(lit("f"), col("doc_id"), lit(".csv"))))
      .withColumn("path", GF.distributionPath(lit("cat1"), col("source"),
        col("distribution_id"), col("file_name")))
      .select(col("doc_id"), col("path"))
      .orderBy(col("doc_id"))
  }
  register(Q("q17_path_assembly", qPathAssembly,
      """SELECT doc_id,
        |  concat_ws('/', 'catalog', 'cat1', 'dataset', source, 'distribution',
        |    source || '.' || CAST(doc_id % 7 AS VARCHAR), 'download',
        |    coalesce(CASE WHEN doc_id % 3 = 0 THEN 'f' || CAST(doc_id AS VARCHAR) || '.csv' END,
        |      source || '.' || CAST(doc_id % 7 AS VARCHAR) || '.csv')) AS path
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Rollup aggregation (engine extension beyond the reference's flat
    * groupBys): subtotals + grand total in one pass. */
  private def qRollup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.orders
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }
  register(Q("q25_rollup", qRollup,
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin))

  /** Sketch aggregation: HLL approx distinct next to the exact count. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // the HLL estimate itself differs across engines, so the PORTABLE
    // contract is its accuracy bound: the oracle asserts TRUE, and a
    // Spark-side HLL drifting past ±5% of exact flips the column to
    // false → hash mismatch → gate failure. exact_parts and n_rows
    // compare value-for-value.
    t.lineitem.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("approx_within_5pct"))
      .orderBy(col("l_returnflag"))
  }
  // the HLL value is engine-specific, so the oracle pins the portable
  // columns and asserts the ±5% accuracy bound the Spark side computes
  // from its own estimate (a drifting HLL flips the boolean → hash
  // mismatch)
  register(Q("q26_approx_distinct", qApproxDistinct,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  count(*) AS n_rows, TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin))

  /** Shipping-priority revenue top-10 (the TPC-H Q3 shape): segment
    * filter → orders join → lineitem join, date-bracketed, revenue
    * aggregated and top-k'd with a deterministic tiebreak. */
  private def qShipPriority(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val cutoff = lit("1998-06-01 00:00:00").cast("timestamp")
    t.customer.filter(col("c_mktsegment") === "BUILDING")
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }
  register(Q("q114_ship_priority", qShipPriority,
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin))

  /** Part/supplier catalog breadth (the TPC-H Q16 shape): distinct
    * suppliers per (brand, type) — a two-phase distinct aggregate over
    * the part-lineitem join. */
  private def qPartSupplier(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.part.join(t.lineitem, col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"), col("p_type"))
  }
  register(Q("q115_part_supplier", qPartSupplier,
      """SELECT p_brand, p_type,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Ranking-function breadth over the corpus: per-language quartile
    * (ntile), cumulative distribution and dense rank of document
    * length, with a unique ordering so every engine agrees. */
  private def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    t.documents.select(col("lang"), col("doc_id"), col("n_chars"),
      ntile(4).over(w).as("quartile"),
      round(cume_dist().over(w), 6).as("cume"),
      dense_rank().over(w).as("drank"))
      .orderBy(col("lang"), col("doc_id"))
  }
  register(Q("q116_window_rank", qWindowRank,
      """SELECT lang, doc_id, n_chars,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  CAST(dense_rank() OVER w AS INT) AS drank
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        |ORDER BY lang, doc_id""".stripMargin))

  /** Set-operation breadth: INTERSECT and EXCEPT between behavioral
    * cohorts at (user, day) grain — days a user both clicked and
    * purchased without reporting an error. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    def cohort(ev: String) =
      t.events.filter(col("event_type") === ev)
        .select(col("user_id"), col("ts").cast("date").as("day"))
    cohort("click").intersect(cohort("purchase"))
      .except(cohort("error"))
      .orderBy(col("user_id"), col("day"))
  }
  register(Q("q117_setops", qSetOps,
      """SELECT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'error'
        |ORDER BY user_id, day""".stripMargin))

  /** Calendar-function breadth over event timestamps: month/quarter
    * truncation, month end, quarter-of-year, and day arithmetic —
    * the portable subset both engines define identically. */
  private def qDatetime(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.events.select(col("event_id"),
        col("ts").cast("date").as("day"),
        date_trunc("month", col("ts")).cast("date").as("month_start"),
        last_day(col("ts")).as("month_end"),
        quarter(col("ts")).as("qtr"),
        datediff(col("ts").cast("date"), lit("2020-01-01").cast("date"))
          .as("days_since"),
        add_months(col("ts").cast("date"), 3).as("plus_quarter"))
      .orderBy(col("event_id"))
  }
  register(Q("q118_datetime", qDatetime,
      """SELECT event_id, CAST(ts AS DATE) AS day,
        |  CAST(date_trunc('month', ts) AS DATE) AS month_start,
        |  last_day(CAST(ts AS DATE)) AS month_end,
        |  CAST(quarter(ts) AS INT) AS qtr,
        |  CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE))
        |    AS INT) AS days_since,
        |  CAST(CAST(ts AS DATE) + INTERVAL 3 MONTH AS DATE)
        |    AS plus_quarter
        |FROM events ORDER BY event_id""".stripMargin))

  /** Semi-structured JSON extraction from the event props payload
    * (get_json_object → typed aggregation) — the schema-on-read path
    * for property bags that never got promoted to columns. */
  private def qJsonProps(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(avg(col("k")), 6).as("avg_k"))
      .orderBy(col("event_type"))
  }
  register(Q("q123_json_props", qJsonProps,
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
        |  round(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** URL canonicalization dedup (GF.canonicalizeUrl): four cosmetic
    * variants per page (tracking params, www + trailing slash, fragment
    * + gclid, mixed-case host) collapse to one canonical key. */
  private def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val urls = t.documents.select(col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 2, lit("https://www.example.com"))
          .otherwise(lit("https://Example.com")),
        lit("/Docs/"), (col("doc_id") / 4).cast("long"),
        when(col("doc_id") % 4 === 1, lit("?utm_source=feed&utm_medium=rss"))
          .when(col("doc_id") % 4 === 2, lit("/"))
          .when(col("doc_id") % 4 === 3, lit("?gclid=xyz#section"))
          .otherwise(lit(""))).as("url"))
    urls.select(col("doc_id"), GF.canonicalizeUrl(col("url")).as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("canon"))
  }
  // the canonicalization chain mirrors GF.canonicalizeUrl step for
  // step (RE2 'g' flag = Spark's replace-all; '\1' = Spark's '$1')
  register(Q("q132_url_canon", qUrlCanon,
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 2 THEN 'https://www.example.com'
        |          ELSE 'https://Example.com' END)
        |    || '/Docs/' || (doc_id // 4)
        |    || (CASE WHEN doc_id % 4 = 1 THEN '?utm_source=feed&utm_medium=rss'
        |             WHEN doc_id % 4 = 2 THEN '/'
        |             WHEN doc_id % 4 = 3 THEN '?gclid=xyz#section'
        |             ELSE '' END) AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*', '', 'g')
        |  AS u FROM u),
        |c2 AS (SELECT doc_id, regexp_replace(u,
        |  '([?&])(utm_[^=&]*|gclid|fbclid)=[^&]*', '\1', 'g') AS u FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(
        |  regexp_replace(u, '&&+', '&', 'g'), '\?&', '?', 'g') AS u FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '', 'g')
        |  AS u FROM c3),
        |c5 AS (SELECT doc_id,
        |    lower(regexp_extract(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) ||
        |    substr(u, length(regexp_extract(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1) AS u FROM c4),
        |c6 AS (SELECT doc_id, regexp_replace(u,
        |  '^([a-z][a-z0-9+.-]*://)www\.', '\1', 'g') AS u FROM c5),
        |c7 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
        |    '^(https://[^/:?#]+):443([/?].*)?$', '\1\2', 'g'),
        |    '^(http://[^/:?#]+):80([/?].*)?$', '\1\2', 'g') AS u FROM c6),
        |c8 AS (SELECT doc_id, regexp_replace(u, '([^/])/$', '\1', 'g')
        |  AS canon FROM c7)
        |SELECT canon, count(*) AS n_variants, min(doc_id) AS min_doc
        |FROM c8 GROUP BY canon ORDER BY canon""".stripMargin))

  /** Cheapest-supplier-per-part (the TPC-H Q2 shape over the
    * lineitem-derived supply relation): per-(part, supplier) min unit
    * price, per-part winner picked by a window min + filter — the
    * correlated-subquery DECORRELATION pattern (one window over the
    * grouped frame instead of one subquery per part) — decorated with
    * supplier/nation through broadcast joins. */
  private def qMinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // The 4-dp round goes through decimal(30,12): rounding the raw
    // double directly diverged from DuckDB by one final digit on 5 of
    // 3.5M groups at sf0.1 (ulp-boundary values round differently
    // across engines); at 12 dp the boundary window is 10^8 narrower
    // and the subsequent decimal round(…,4) is exact in both.
    // (r17: a guarded scan spread before this agg was tried and
    // measured SLOWER — the extra full-row exchange outweighs the
    // parallel partial agg, the q208 lesson repeated)
    val supply = t.lineitem
      .groupBy(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
      .agg(round(min(col("l_extendedprice") / col("l_quantity"))
          .cast("decimal(30,12)"), 4).cast("double")
        .as("unit_cost"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partkey"))
    supply.withColumn("min_cost", min(col("unit_cost")).over(w))
      .filter(col("unit_cost") === col("min_cost"))
      .join(broadcast(t.supplier), col("suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.part.filter(col("p_size") < 10)),
        col("partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"),
        col("s_name").as("supplier"), col("n_name").as("nation"),
        col("unit_cost"))
      .orderBy(col("p_partkey"), col("supplier"))
  }
  register(Q("q148_min_cost_supplier", qMinCostSupplier,
      """WITH supply AS (SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        |    CAST(round(CAST(min(l_extendedprice / l_quantity)
        |      AS DECIMAL(30,12)), 4) AS DOUBLE) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT *, min(unit_cost) OVER (PARTITION BY partkey)
        |    AS min_cost FROM supply)
        |SELECT p_partkey, p_name, s_name AS supplier, n_name AS nation,
        |  unit_cost
        |FROM best
        |JOIN supplier ON suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON partkey = p_partkey
        |WHERE unit_cost = min_cost AND p_size < 10
        |ORDER BY p_partkey, supplier""".stripMargin))

  /** Above-global-threshold parts (the TPC-H Q11 shape): per-part
    * revenue kept when it exceeds 1.5× the MEAN part revenue — a
    * scale-invariant threshold (TPC-H divides its fraction by SF for
    * the same reason: a fixed share of total selects nothing once the
    * part domain grows). The global aggregate is a 1-row frame
    * CROSS-joined back (broadcast) — the scalar-subquery shape without
    * a driver-side collect. */
  private def qImportantParts(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // part-grain revenue is materialized once (localCheckpoint): both
    // the total and the filter branch read it — ONE lineitem scan, not
    // two, without relying on ReuseExchange firing
    val rev = t.lineitem.groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("v"))
      .graftCp(false)
    val tot = rev.agg(sum(col("v")).as("total"),
      count(lit(1)).as("n_parts"))
    rev.crossJoin(broadcast(tot))
      .filter(col("v") > col("total") / col("n_parts") * lit(1.5))
      .select(col("l_partkey").as("partkey"), round(col("v"), 2).as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }
  register(Q("q149_important_parts", qImportantParts,
      """WITH rev AS (SELECT l_partkey,
        |    sum(l_extendedprice * (1 - l_discount)) AS v
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(v) AS total,
        |    CAST(count(*) AS BIGINT) AS n_parts FROM rev)
        |SELECT l_partkey AS partkey, round(v, 2) AS value
        |FROM rev, tot WHERE v > total / n_parts * 1.5
        |ORDER BY value DESC, partkey""".stripMargin))

  /** Bilateral trade flows (the TPC-H Q7 shape): shipped revenue
    * between two named nations in both directions, by ship year. The
    * supplier/customer nation tags come from broadcast dims; the fact
    * joins stay on their natural keys. */
  private def qNationTrade(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val pair = Seq("NATION_1", "NATION_2")
    val supN = t.supplier
      .join(broadcast(t.nation.filter(col("n_name").isin(pair: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cusN = t.customer
      .join(broadcast(t.nation.filter(col("n_name").isin(pair: _*))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    t.lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(cusN, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }
  register(Q("q162_nation_trade", qNationTrade,
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin))

  /** Product-line profit (the TPC-H Q9 shape): per supplier-nation and
    * order year, margin over a modeled unit cost (0.6 × retail — the
    * schema carries no partsupp supplycost) for PROMO-type parts. The
    * part filter broadcasts and prunes lineitem BEFORE the orders join,
    * so the big join only moves matching rows. */
  private def qProductProfit(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val promoParts = t.part.filter(col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_retailprice"))
    t.lineitem
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("order_year"))
      // per-row margin stays double (bit-identical across engines);
      // the SUM runs in decimal(30,10) so accumulation is exact and
      // ORDER-INDEPENDENT — the double sum's ±ulp, which depends on
      // partitioning, crossed a 2-dp rounding boundary on 2 of 175
      // groups at sf0.1 and flipped the last digit vs the oracle
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(30,10)")), 2).cast("double")
        .as("profit"))
      .orderBy(col("nation"), col("order_year").desc)
  }
  register(Q("q163_product_profit", qProductProfit,
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity AS DECIMAL(30,10))), 2)
        |    AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2
        |ORDER BY nation, order_year DESC""".stripMargin))

  /** Returned-item losers (the TPC-H Q10 shape): top-20 customers by
    * returned revenue in a quarter. One orders→lineitem shuffle join;
    * customer+nation resolve by broadcast after the aggregate, so the
    * wide name/acctbal columns never enter the shuffle. */
  private def qReturnedCustomers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val lost = t.orders
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(t.lineitem.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
    lost.join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
        round(col("c_acctbal"), 2).as("acctbal"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }
  register(Q("q164_returned_customers", qReturnedCustomers,
      """SELECT c_custkey, c_name, n_name AS nation,
        |  round(c_acctbal, 2) AS acctbal,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin))

  /** Priority-by-linestatus counts (the TPC-H Q12 shape — the schema
    * has no shipmode, so linestatus plays the mode axis): per
    * linestatus shipped in 1997, how many lines belong to critical
    * (1-URGENT / 2-HIGH) vs other-priority orders. Conditional-count
    * aggregation after one fact join. */
  private def qPriorityLines(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(crit, 1L).otherwise(0L)).as("critical_lines"),
        sum(when(crit, 0L).otherwise(1L)).as("other_lines"))
      .orderBy(col("l_linestatus"))
  }
  register(Q("q165_priority_lines", qPriorityLines,
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin))

  /** Promo revenue share (the TPC-H Q14 shape): the percentage of one
    * month's discounted revenue from PROMO-type parts — a broadcast
    * part join folded into a single conditional-sum aggregate (no
    * second scan, no scalar subquery). */
  private def qPromoShare(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.lineitem
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(round(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))) * 100.0 /
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("promo_share_pct"))
  }
  register(Q("q166_promo_share", qPromoShare,
      """SELECT round(
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
        |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin))

  /** Large-volume orders (the TPC-H Q18 shape): orders whose total
    * quantity exceeds 250, with their customer. The HAVING aggregate
    * runs at order grain FIRST (partial map-side sums), and only the
    * surviving ~0.2% of orders join back to customer/orders — a
    * broadcast at any scale because the filter is what's small, not
    * the table. */
  private def qLargeOrders(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val big = t.lineitem.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 250.0)
    t.orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        round(col("o_totalprice"), 2).as("total_price"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }
  register(Q("q167_large_orders", qLargeOrders,
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 2) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  round(o_totalprice, 2) AS total_price, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin))

  /** Order-priority checking (the TPC-H Q4 shape): per priority, how
    * many 1997-Q1 orders had at least one line shipped more than 60
    * days after ordering (the schema carries no commit/receipt dates,
    * so ship-lag plays the lateness axis). The EXISTS decorrelates to
    * a LEFT SEMI join — the fact side is pre-filtered by the date
    * bracket before the shuffle, and each order emits at most once no
    * matter how many late lines it has. */
  private def qOrderPriority(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.orders
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .join(t.lineitem,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("late_orders"))
      .orderBy(col("o_orderpriority"))
  }
  register(Q("q184_order_priority", qOrderPriority,
      """SELECT o_orderpriority, count(*) AS late_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))

  /** National market share (the TPC-H Q8 shape): of all revenue ASIA
    * customers ordered in 1996-1997, the fraction supplied by
    * NATION_1, per order year. Both nation tags resolve from broadcast
    * dims; the numerator/denominator fold into ONE conditional-sum
    * aggregate — no second pass, no scalar subquery. */
  private def qMarketShare(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val asiaCust = t.customer
      .join(broadcast(t.nation
          .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_1",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))) /
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("mkt_share"))
      .orderBy(col("order_year"))
  }
  register(Q("q185_market_share", qMarketShare,
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_1'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin))

  /** Customer order-count distribution (the TPC-H Q13 shape): how many
    * customers placed exactly N non-urgent orders — INCLUDING the
    * zero-order bucket, which is why the join must be LEFT OUTER from
    * customer (an inner join silently drops the most interesting row).
    * Two order-of-magnitude-shrinking aggregations: customer grain,
    * then count grain. */
  private def qCustDistribution(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val perCust = t.customer
      .join(t.orders.filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
  register(Q("q186_cust_distribution", qCustDistribution,
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin))

  /** Top supplier by quarterly revenue (the TPC-H Q15 shape): the
    * supplier(s) whose 1997-Q1 shipped revenue equals the maximum. The
    * supplier-grain revenue frame is materialized ONCE
    * (localCheckpoint — it is supplier-sized, i.e. tiny), then both
    * the 1-row max and the equality filter read it: one lineitem scan,
    * and the max arrives as a broadcast cross join, not a driver
    * collect. Ties all surface (revenue is rounded to cents BEFORE the
    * max so the equality is exact). */
  private def qTopSupplier(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val rev = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
      .graftCp(false)
    val best = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(best))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }
  register(Q("q187_top_supplier", qTopSupplier,
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin))

  /** Supplier exclusion count (the TPC-H Q16 shape, the NOT-IN half —
    * q115 covers the distinct-count half): distinct suppliers per
    * (brand, size) over observed part-supplier pairs, EXCLUDING
    * negative-balance suppliers (the schema's stand-in for the
    * complaints clause) via a broadcast LEFT ANTI join, for a bounded
    * size set. The (partkey, suppkey) distinct runs BEFORE the part
    * join, so the dedup shuffle moves two ints per row. */
  private def qExcludedSuppliers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ps = t.lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
    val complained = t.supplier.filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    ps.join(broadcast(complained), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(t.part
          .filter(col("p_size").isin(1, 9, 19, 29, 39, 49))
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }
  register(Q("q188_excluded_suppliers", qExcludedSuppliers,
      """SELECT p_brand, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 9, 19, 29, 39, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin))

  /** Small-quantity revenue (the TPC-H Q17 shape): average yearly
    * revenue lost if sub-20%-of-average-quantity orders of one brand's
    * parts stopped. The correlated per-part AVG decorrelates to a
    * window over l_partkey — ONE shuffle keyed on the part, no
    * aggregate-then-rejoin, and the brand filter broadcasts into the
    * scan so only that brand's lines ever move. */
  private def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_partkey"))
    t.lineitem
      .join(broadcast(t.part.filter(col("p_brand") === "Brand#3")
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }
  register(Q("q189_small_qty_revenue", qSmallQtyRevenue,
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < 0.2 * (
        |    SELECT avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin))

  /** Disjunctive-predicate revenue (the TPC-H Q19 shape): revenue from
    * three OR'd (brand × size-range × quantity-range) bundles. The
    * part side broadcasts with only the size/brand columns; the
    * cross-side disjunction evaluates as one codegen'd boolean after
    * the join, while the common `l_quantity <= 36` upper bound is
    * factored out so it pushes into the lineitem scan. */
  private def qDisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val bundle =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 36))
    t.lineitem
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 36)
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"),
          col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(bundle)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }
  register(Q("q190_disjunctive_revenue", qDisjunctiveRevenue,
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 36)""".stripMargin))

  /** Bulk-supplier shortlist (the TPC-H Q20 shape): NATION_1 suppliers
    * who moved more than 1.5× the average (supplier, part) volume of
    * red parts in 1997 — a SCALE-INVARIANT threshold (a fixed cutoff
    * selects everything or nothing as SF moves). The nested EXISTS
    * chain decorrelates to an aggregate-then-SEMI-join pipeline: the
    * part filter broadcasts into the fact scan, the qty aggregate runs
    * at (supplier, part) grain ONCE (localCheckpoint — both the 1-row
    * average and the filter read it), and only qualifying suppkeys
    * reach the supplier dim. */
  private def qBulkSuppliers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val spQty = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(t.part.filter(col("p_name").startsWith("red"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .graftCp(false)
    val bar = spQty.agg((avg(col("qty")) * 1.5).as("qty_bar"))
    val bulky = spQty.crossJoin(broadcast(bar))
      .filter(col("qty") > col("qty_bar"))
    t.supplier
      .join(broadcast(t.nation.filter(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
      .join(bulky, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }
  register(Q("q191_bulk_suppliers", qBulkSuppliers,
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |  AND EXISTS (
        |    SELECT 1 FROM sp
        |    WHERE l_suppkey = s_suppkey
        |      AND qty > (SELECT avg(qty) * 1.5 FROM sp))
        |ORDER BY s_suppkey""".stripMargin))

  /** Suppliers who kept orders waiting (the TPC-H Q21 shape): for
    * finished multi-supplier orders, the supplier who was the ONLY
    * late one (ship-lag > 60 days plays the receipt-lag axis). The
    * EXISTS / NOT-EXISTS pair decorrelates to ONE order-grain
    * aggregate — distinct suppliers and distinct LATE suppliers per
    * order — joined back to the late lines; no triple self-join of
    * lineitem, and the order-grain frame is what shuffles. */
  private def qWaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // materialized ONCE (localCheckpoint): the order-grain aggregate
    // AND the late-line filter both read it — one lineitem⋈orders
    // join, not two
    val lines = t.lineitem
      .join(t.orders.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
      .graftCp(false)
    val orderStats = lines.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .select(col("l_orderkey").as("wait_orderkey"))
    val waiting = lines.filter(col("late"))
      .join(orderStats, col("l_orderkey") === col("wait_orderkey"),
        "left_semi")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    waiting.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }
  register(Q("q192_waiting_suppliers", qWaitingSuppliers,
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, count(*) AS numwait
        |FROM (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM l l1
        |  WHERE late
        |    AND EXISTS (SELECT 1 FROM l l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM l l3
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey AND l3.late))
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin))

  /** Dormant high-balance customers (the TPC-H Q22 shape): per country
    * code (nationkey mod 10 plays the phone prefix), customers whose
    * balance beats the positive-balance average of the selected codes
    * AND who placed no order since 1999 (every synthetic customer has
    * SOME order, so recency plays the no-orders clause). The scalar
    * AVG broadcast-cross-joins back; the inactivity check is a LEFT
    * ANTI against the date-pruned orders scan — two dim-sized
    * customer passes, one slim fact scan. */
  private def qDormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sel = t.customer
      .withColumn("cntrycode", (col("c_nationkey") % 10).cast("int"))
      .filter(col("cntrycode").isin(1, 2, 3, 4, 7))
    val avgBal = sel.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    sel.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }
  register(Q("q193_dormant_customers", qDormantCustomers,
      """WITH sel AS (
        |  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode,
        |    c_custkey, c_acctbal
        |  FROM customer
        |  WHERE CAST(c_nationkey % 10 AS INT) IN (1, 2, 3, 4, 7))
        |SELECT cntrycode, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM sel
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM sel
        |    WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin))

  /** Full CUBE aggregation (q25 covers ROLLUP; this is the other
    * grouping-sets shape): doc counts and total characters at every
    * (lang, source) granularity — per cell, per lang, per source,
    * grand total — with the grouping_id bitmask distinguishing real
    * NULLs from subtotal rows. One Expand + one aggregate; subtotals
    * ride the same shuffle as the base cells. */
  private def qCubeStats(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.documents.cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        grouping_id().cast("int").as("gid"))
      .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
        col("gid"))
      .orderBy(col("gid"), col("lang"), col("source"))
  }
  register(Q("q198_cube_stats", qCubeStats,
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang, source) AS INT) AS gid
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY gid, lang, source""".stripMargin))

  /** Conversion-lag CDF: of users who signed up, what share had
    * purchased within d days of their FIRST signup, for d = 0..7 —
    * first-touch timestamps from one user-grain aggregate, day-grain
    * counts, one cumulative window over eight rows. Users whose first
    * purchase predates signup count at lag 0 (clamped — the synthetic
    * stream has no causality guarantee, and dropping them would
    * overstate the funnel). */
  private def qConversionLag(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val firsts = t.events
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("s_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p_us"))
      .filter(col("s_us").isNotNull)
      .graftCp(false)
    val total = firsts.agg(count(lit(1)).as("n_signup"))
    val lags = firsts.filter(col("p_us").isNotNull)
      .select(greatest(
        floor((col("p_us") - col("s_us")) / 86400000000L).cast("long"),
        lit(0L)).as("lag_days"))
      .filter(col("lag_days") <= 7)
      .groupBy(col("lag_days")).agg(count(lit(1)).as("n_day"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("lag_days"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    lags
      .withColumn("n_cum", sum(col("n_day")).over(wc))
      .crossJoin(broadcast(total))
      .select(col("lag_days"), col("n_cum"),
        round(col("n_cum") / col("n_signup").cast("double"), 6)
          .as("share"))
      .orderBy(col("lag_days"))
  }
  register(Q("q215_conversion_lag", qConversionLag,
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |      AS s_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS p_us
        |  FROM events GROUP BY user_id),
        |s AS (SELECT * FROM f WHERE s_us IS NOT NULL),
        |tot AS (SELECT count(*) AS n_signup FROM s),
        |lags AS (SELECT greatest(CAST(floor((p_us - s_us) / 86400000000.0)
        |      AS BIGINT), 0) AS lag_days
        |  FROM s WHERE p_us IS NOT NULL),
        |days AS (SELECT lag_days, count(*) AS n_day FROM lags
        |  WHERE lag_days <= 7 GROUP BY lag_days)
        |SELECT lag_days,
        |  CAST(sum(n_day) OVER (ORDER BY lag_days
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
        |  round(sum(n_day) OVER (ORDER BY lag_days
        |    ROWS UNBOUNDED PRECEDING)
        |    / CAST((SELECT n_signup FROM tot) AS DOUBLE), 6) AS share
        |FROM days
        |ORDER BY lag_days""".stripMargin))

  /** Daily bounce rate over q24's session definition (30-minute
    * inactivity gap): per day of session start, sessions, single-event
    * bounces, and the rate — the session-quality metric layered on the
    * sessionizer, one extra day-grain aggregate. */
  private def qBounceRate(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"))
    val sessions = t.events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("_prev", lag(col("us"), 1).over(w))
      .withColumn("_new", when(col("_prev").isNull ||
        col("us") - col("_prev") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("_new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
    sessions
      .groupBy(timestamp_micros(col("start_us")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces") / col("n_sessions").cast("double"), 6)
          .as("bounce_rate"))
      .orderBy(col("day"))
  }
  register(Q("q216_bounce_rate", qBounceRate,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |lagged AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us) AS prev_us FROM e),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM lagged),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS UNBOUNDED PRECEDING) AS session_idx FROM flagged),
        |sess AS (SELECT user_id, session_idx, count(*) AS n_events,
        |    min(us) AS start_us
        |  FROM s GROUP BY user_id, session_idx),
        |d AS (SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
        |    n_events FROM sess)
        |SELECT day, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
        |FROM d GROUP BY day
        |ORDER BY day""".stripMargin))

  /** Exact audience overlap matrix — the ground truth q202's sketch
    * algebra estimates: per event-type pair, users active in BOTH,
    * union, and exact Jaccard. Distinct (user, type) first; the
    * self-join keys on user and a user meets only its own handful of
    * types, so the pair stream is bounded by Σ_user types(user)². */
  private def qAudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ut = t.events.select(col("user_id"), col("event_type")).distinct()
      .graftCp(false)
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val both = ut.select(col("user_id"), col("event_type").as("g1"))
      .join(ut.select(col("user_id"), col("event_type").as("g2")),
        Seq("user_id"))
      .filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.select(col("event_type").as("g1"),
        col("n").as("n1"))), Seq("g1"))
      .join(broadcast(sizes.select(col("event_type").as("g2"),
        col("n").as("n2"))), Seq("g2"))
      .select(col("g1"), col("g2"), col("n_both"),
        (col("n1") + col("n2") - col("n_both")).as("n_union"),
        round(col("n_both").cast("double") /
          (col("n1") + col("n2") - col("n_both")), 6).as("jaccard"))
      .orderBy(col("g1"), col("g2"))
  }
  register(Q("q217_audience_overlap", qAudienceOverlap,
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS n FROM ut
        |  GROUP BY event_type),
        |ovl AS (SELECT a.event_type AS g1, b.event_type AS g2,
        |    count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT g1, g2, n_both,
        |  s1.n + s2.n - n_both AS n_union,
        |  round(CAST(n_both AS DOUBLE) / (s1.n + s2.n - n_both), 6)
        |    AS jaccard
        |FROM ovl
        |JOIN sizes s1 ON s1.event_type = g1
        |JOIN sizes s2 ON s2.event_type = g2
        |ORDER BY g1, g2""".stripMargin))

  /** Year-over-year growth per nation: order-year revenue with the
    * prior year's via one partitioned lag, growth null on the first
    * year (no fabricated zero base). Post-aggregation windowing — the
    * lag runs over nation×year grain, never the fact rows. */
  private def qYoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val yearly = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("order_year"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nation")).orderBy(col("order_year"))
    yearly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .select(col("nation"), col("order_year"), col("revenue"),
        col("prev_revenue"),
        round((col("revenue") - col("prev_revenue")) * 100.0 /
          col("prev_revenue"), 4).as("yoy_pct"))
      .orderBy(col("nation"), col("order_year"))
  }
  register(Q("q218_yoy_growth", qYoyGrowth,
      """WITH yearly AS (SELECT n_name AS nation,
        |    CAST(year(o_orderdate) AS INT) AS order_year,
        |    round(sum(o_totalprice), 2) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, order_year, revenue,
        |  lag(revenue) OVER w AS prev_revenue,
        |  round((revenue - lag(revenue) OVER w) * 100.0
        |    / lag(revenue) OVER w, 4) AS yoy_pct
        |FROM yearly
        |WINDOW w AS (PARTITION BY nation ORDER BY order_year)
        |ORDER BY nation, order_year""".stripMargin))

  /** Ratio-to-report: each order priority's share of its status's
    * total revenue — aggregate once, then a group-total window over
    * the status×priority grain (never a second scan or a scalar
    * subquery per group). */
  private def qRevenueShare(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val g = t.orders.groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("o_totalprice")).as("_rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
    g.select(col("o_orderstatus"), col("o_orderpriority"),
        round(col("_rev"), 2).as("revenue"),
        round(col("_rev") * 100.0 / sum(col("_rev")).over(w), 4)
          .as("share_pct"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }
  register(Q("q219_revenue_share", qRevenueShare,
      """WITH g AS (SELECT o_orderstatus, o_orderpriority,
        |    sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus, o_orderpriority,
        |  round(rev, 2) AS revenue,
        |  round(rev * 100.0 / sum(rev) OVER
        |    (PARTITION BY o_orderstatus), 4) AS share_pct
        |FROM g
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin))

  /** Melt / unpivot round-trip: the lang×source count matrix pivoted
    * WIDE (q07's shape) and melted back long with `stack` — proving
    * the wide form loses nothing. The oracle computes the long form
    * directly, so pivot→melt must be the identity on present cells
    * (absent combinations stack as nulls and are filtered, matching
    * the long form's absence). */
  private def qMeltRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sources = t.documents.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val wide = t.documents.groupBy(col("lang"))
      .pivot("source", sources).agg(count(lit(1)))
    wide.select(col("lang"), meltStack(sources, "source", "n_docs"))
      .filter(col("n_docs").isNotNull)
      .orderBy(col("lang"), col("source"))
  }
  register(Q("q220_melt_roundtrip", qMeltRoundtrip,
      """SELECT lang, source, count(*) AS n_docs
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin))

  /** Inter-event gap histogram: per event type, user-keyed consecutive
    * gaps bucketed by decimal order of magnitude (log10 seconds) — the
    * cadence fingerprint that separates machine bursts from human
    * pacing at a glance. One keyed window + one bucket-grain count. */
  private def qGapHistogram(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("user_id")).orderBy(col("us"))
    t.events.select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("_gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("_gap").isNotNull && col("_gap") > 0)
      // exact integer decade: floor(log10(n)) == digits(n) − 1 for any
      // positive integer, minus 6 to land in seconds — no libm, so no
      // engine disagreement at exact powers of ten
      .withColumn("log10_s",
        (length(col("_gap").cast("string")) - 7).cast("int"))
      .groupBy(col("event_type"), col("log10_s"))
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy(col("event_type"), col("log10_s"))
  }
  register(Q("q222_gap_histogram", qGapHistogram,
      """WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us
        |  FROM events),
        |g AS (SELECT event_type, us - lag(us) OVER (PARTITION BY
        |    event_type, user_id ORDER BY us) AS gap FROM e)
        |SELECT event_type,
        |  CAST(len(CAST(gap AS VARCHAR)) - 7 AS INT) AS log10_s,
        |  count(*) AS n_gaps
        |FROM g WHERE gap IS NOT NULL AND gap > 0
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin))

  /** Top user journeys: each user's first five event types in exact
    * (timestamp, event_id) order joined into a path string, counted
    * across users — the "what do people actually do first" view. The
    * rank-5 prefilter prunes as WindowGroupLimit; the path assembles
    * from ONE array_sort over the per-user collected structs (total
    * order ⇒ engine-identical strings). */
  private def qTopJourneys(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val journeys = t.events.select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 5)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("us"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type"))).as("journey"))
    journeys.groupBy(col("journey")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
      .limit(10)
  }
  register(Q("q223_top_journeys", qTopJourneys,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |r AS (SELECT user_id, event_type, row_number() OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e),
        |j AS (SELECT user_id,
        |    array_to_string(list(event_type ORDER BY rn), '>')
        |      AS journey
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT journey, count(*) AS n_users
        |FROM j GROUP BY journey
        |ORDER BY n_users DESC, journey
        |LIMIT 10""".stripMargin))

  /** Trailing-7-day revenue via a RANGE window frame (every other
    * window in the suite is a ROWS frame; a calendar-trailing sum must
    * be RANGE over epoch days or missing days silently shrink the
    * window): per order day, that day's and the trailing week's
    * revenue in exact cents. */
  private def qRollingRevenue(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val daily = t.orders
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).as("epoch_day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("day_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("epoch_day")).rangeBetween(-6, 0)
    daily
      .withColumn("week_cents", sum(col("day_cents")).over(w))
      .select(date_add(lit("1970-01-01").cast("date"),
          col("epoch_day").cast("int")).as("day"),
        col("day_cents"), col("week_cents"))
      .orderBy(col("day"))
  }
  register(Q("q225_rolling_revenue", qRollingRevenue,
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS epoch_day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS day_cents
        |  FROM orders GROUP BY 1)
        |SELECT DATE '1970-01-01' + CAST(epoch_day AS INT) AS day,
        |  day_cents,
        |  CAST(sum(day_cents) OVER (ORDER BY epoch_day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS week_cents
        |FROM daily
        |ORDER BY day""".stripMargin))

  /** Coverage cutoff: per language, the smallest prefix of sources
    * (largest first) covering ≥ 80% of documents — "how many sources
    * until the corpus is mostly explained". Share ranks prune as a
    * window; the first-crossing filter keeps the whole qualifying
    * prefix INCLUDING the row that crosses. Exact integer crossing:
    * 5·cum ≥ 4·total. */
  private def qCoverageCutoff(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val counts = t.documents.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("source"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    counts
      .withColumn("_cum", sum(col("n")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .withColumn("_tot", sum(col("n")).over(wAll))
      // keep every source up to and including the 80% crossing: rows
      // whose PRECEDING cumulative is still short of the bar
      .filter((col("_cum") - col("n")) * 5 < col("_tot") * 4)
      .select(col("lang"), col("source"), col("n"),
        round(col("_cum") / col("_tot").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("lang"), col("cum_share"), col("source"))
  }
  register(Q("q226_coverage_cutoff", qCoverageCutoff,
      """WITH c AS (SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY lang, source),
        |r AS (SELECT *, sum(n) OVER (PARTITION BY lang
        |    ORDER BY n DESC, source ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n) OVER (PARTITION BY lang) AS tot
        |  FROM c)
        |SELECT lang, source, n,
        |  round(cum / CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM r
        |WHERE (cum - n) * 5 < tot * 4
        |ORDER BY lang, cum_share, source""".stripMargin))
}
