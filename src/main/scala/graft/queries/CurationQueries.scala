package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, TextAnalysis}
import OracleSql.{normTextSql, wsTokensSql, sqlStringList}

/** Queries exercising [[graft.operators.Curation]]. */
private[graft] object CurationQueries extends Queries {

  /** Curation funnel with first-failing-rule attribution over a corpus
    * with planted duplicates: per (language, reason) counts
    * (Curation.funnel). */
  private def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val base = t.documents.select(col("doc_id"), col("lang"), col("text"))
    val planted = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
        col("text"))
    Curation.funnel(base.union(planted), "text", "doc_id")
      .groupBy(col("lang"), col("reason"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("reason"))
  }
  register(Q("q52_curation_funnel", qCurationFunnel, {
      val allStop = sqlStringList(
        TextAnalysis.StopwordsByLang.flatMap(_._2).distinct)
      s"""WITH corpus AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, lang, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |d AS (SELECT *, md5($normTextSql) AS digest FROM corpus),
         |k AS (SELECT digest, min(doc_id) AS keeper FROM d
         |  GROUP BY digest),
         |t AS (SELECT d.doc_id, d.lang, d.text, k.keeper,
         |    length(d.text)::DOUBLE AS n_chars,
         |    ${wsTokensSql("d.text")} AS toks,
         |    ${wsTokensSql("lower(d.text)")} AS ltoks
         |  FROM d JOIN k USING (digest)),
         |sig AS (SELECT doc_id, lang, keeper, len(toks) AS n_tokens,
         |  round((n_chars - length(regexp_replace(text,
         |    '[^A-Za-z0-9\\s]', '', 'g'))) / nullif(n_chars, 0.0), 6)
         |    AS punct_ratio,
         |  round(len(list_filter(ltoks,
         |    w -> list_contains($allStop, w)))::DOUBLE /
         |    nullif(len(toks), 0)::DOUBLE, 6) AS stopword_ratio
         |  FROM t),
         |r AS (SELECT lang,
         |  CASE WHEN doc_id <> keeper THEN 'duplicate'
         |    WHEN n_tokens < 20 THEN 'too_short'
         |    WHEN round(greatest(0.0, least(1.0,
         |      0.4 * least(n_tokens::DOUBLE / 50.0, 1.0) +
         |      0.4 * least(stopword_ratio * 5.0, 1.0) +
         |      0.2 * (1.0 - least(punct_ratio * 4.0, 1.0)))), 6) < 0.55
         |      THEN 'low_quality'
         |    ELSE 'kept' END AS reason
         |  FROM sig)
         |SELECT lang, reason, count(*) AS n
         |FROM r GROUP BY lang, reason ORDER BY lang, reason""".stripMargin
    }))

  /** Per-source document cap (Curation.capPerGroup): at most 15 docs
    * per source, longest-first — the C4/RefinedWeb "max pages per
    * domain" curation rule; the rank filter plans as WindowGroupLimit
    * so map tasks pre-prune before the shuffle. */
  private def qSourceCap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Curation.capPerGroup(
        t.documents.select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", maxPerGroup = 15,
        priorityDesc = Seq("n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("grp_rank"))
      .orderBy(col("source"), col("grp_rank"))
  }
  register(Q("q69_source_cap", qSourceCap,
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS grp_rank
        |  FROM documents)
        |SELECT doc_id, source, n_chars, CAST(grp_rank AS INT) AS grp_rank
        |FROM r WHERE grp_rank <= 15
        |ORDER BY source, grp_rank""".stripMargin))

  /** Per-language winsorization of document length
    * (Curation.winsorize): [p05, p95] exact-percentile clip thresholds
    * (6-dp-rounded before comparison) and the per-side clip counts. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Curation.winsorize(
        t.documents.select(col("lang"), col("doc_id"), col("n_chars")),
        "lang", "n_chars", pLo = 0.05, pHi = 0.95)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(when(col("clip_dir") === -1, 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("clip_dir") === 1, 1L).otherwise(0L)).as("n_clip_hi"))
      .orderBy(col("lang"))
  }
  register(Q("q82_winsorize", qWinsorize,
      """WITH th AS (SELECT lang,
        |    round(quantile_cont(n_chars::DOUBLE, 0.05), 6) AS lo,
        |    round(quantile_cont(n_chars::DOUBLE, 0.95), 6) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, count(*) AS n_docs, max(th.lo) AS lo,
        |  max(th.hi) AS hi,
        |  CAST(sum(CASE WHEN d.n_chars::DOUBLE < th.lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN d.n_chars::DOUBLE > th.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clip_hi
        |FROM documents d JOIN th USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin))

  /** Per-language percentile-rank calibration of document length
    * (Curation.percentileCalibrate). */
  private def qPercentRank(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Curation.percentileCalibrate(t.documents, "lang", "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("pct_rank"))
      .orderBy(col("doc_id"))
  }
  register(Q("q94_percent_rank", qPercentRank,
      """SELECT doc_id, lang, n_chars,
        |  round(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars::DOUBLE), 6) AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Domain-blocklist filter with parent-domain semantics
    * (Curation.domainBlocklist): per (source, blocking entry) counts
    * over synthesized crawl URLs. */
  private def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val withUrl = t.documents.select(col("doc_id"), col("source"),
      concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("ads."))
          .when(col("doc_id") % 3 === 1, lit("www."))
          .otherwise(lit("")),
        col("source"), lit(".example."),
        when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("net")),
        lit("/page/"), col("doc_id")).as("url"))
    Curation.domainBlocklist(withUrl, "url", "doc_id",
        Seq("src0.example.com", "example.net", "ads.src1.example.com"))
      .groupBy(col("source"),
        coalesce(col("blocked_by"), lit("-")).as("blocked_by"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("blocked_by"))
  }
  register(Q("q131_blocklist", qBlocklist,
      """WITH d AS (SELECT doc_id, source,
        |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'ads.'
        |                        WHEN doc_id % 3 = 1 THEN 'www.'
        |                        ELSE '' END) ||
        |    source || '.example.' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'net' END) ||
        |    '/page/' || doc_id AS url
        |  FROM documents),
        |h AS (SELECT doc_id, source,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host FROM d),
        |b AS (SELECT unnest(['src0.example.com', 'example.net',
        |    'ads.src1.example.com']) AS entry),
        |m AS (SELECT h.doc_id, max_by(b.entry, length(b.entry))
        |      AS blocked_by
        |  FROM h JOIN b ON h.host = b.entry OR h.host LIKE '%.' || b.entry
        |  GROUP BY h.doc_id)
        |SELECT h.source, coalesce(m.blocked_by, '-') AS blocked_by,
        |  count(*) AS n
        |FROM h LEFT JOIN m USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
