package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Skew

/** Queries exercising [[graft.operators.Skew]]. */
private[graft] object SkewQueries extends Queries {

  /** Key-skew diagnostic (Skew.keySkewReport) on lineitem's part key:
    * exact Gini/topk-share from count-grain integer identities. */
  private def qKeySkew(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Skew.keySkewReport(t.lineitem, "l_partkey")
  }
  register(Q("q180_key_skew", qKeySkew,
      """WITH kc AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |g AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM kc GROUP BY c),
        |o AS (SELECT c, m,
        |    coalesce(sum(m) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
        |    coalesce(sum(m) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ct
        |  FROM g),
        |a AS (SELECT
        |    CAST(sum(m) AS BIGINT) AS n_keys,
        |    CAST(sum(c * m) AS BIGINT) AS n_rows,
        |    max(c) AS maxc,
        |    CAST(sum(c * greatest(0, least(m, 10 - ct))) AS BIGINT)
        |      AS top10,
        |    CAST(sum(c * (m * off + m * (m + 1) // 2)) AS BIGINT) AS ic
        |  FROM o)
        |SELECT n_keys, n_rows,
        |  round(maxc / n_rows, 6) AS max_share,
        |  round(top10 / n_rows, 6) AS top10_share,
        |  round((2 * ic - (n_keys + 1) * n_rows)
        |    / (n_keys * n_rows), 6) AS gini
        |FROM a""".stripMargin))
}
