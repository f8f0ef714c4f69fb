package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Reports

/** Queries exercising [[graft.operators.Reports]]. */
private[graft] object ReportsQueries extends Queries {

  /** A1/A2/A3 — the indicator summary row over synthesized status
    * reports (Reports.indicators; reference base.py:1007-1018). */
  private def qIndicators(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val datasetReport = t.orders.withColumn("dataset_status",
      when(col("o_orderstatus") === "F", "OK")
        .when(col("o_orderstatus") === "O", "WARNING").otherwise("ERROR"))
    val distributionReport = t.lineitem.withColumn("distribution_status",
      when(col("l_returnflag") === "N", "OK")
        .when(col("l_returnflag") === "R", "WARNING").otherwise("ERROR"))
    Reports.indicators(datasetReport, distributionReport)
  }
  register(Q("q02_indicators", qIndicators,
      """WITH ds AS (
        |  SELECT count(*) AS datasets,
        |    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS datasets_ok,
        |    count(CASE WHEN o_orderstatus NOT IN ('F','O') THEN 1 END) AS datasets_error
        |  FROM orders),
        |dist AS (
        |  SELECT count(*) AS distributions,
        |    count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS distributions_ok,
        |    count(CASE WHEN l_returnflag NOT IN ('N','R') THEN 1 END) AS distributions_error
        |  FROM lineitem)
        |SELECT ds.*, dist.*,
        |  coalesce(round(distributions_ok * 100.0 / nullif(distributions, 0), 3), 0.0)
        |    AS distributions_percentage
        |FROM ds, dist""".stripMargin))

  /** O1 — ordered-categorical status sort (Reports.statusRank). */
  private def qStatusSort(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val report = t.orders.withColumn("distribution_status",
      when(col("o_orderkey") % 10 < 6, "OK")
        .when(col("o_orderkey") % 10 < 9, "WARNING").otherwise("ERROR"))
    Reports.sortByStatus(
      report.groupBy(col("distribution_status")).agg(count(lit(1)).as("n")))
      .withColumn("rank", Reports.statusRank(col("distribution_status")))
  }
  register(Q("q10_status_sort", qStatusSort,
      """SELECT distribution_status, count(*) AS n,
        |  CASE distribution_status WHEN 'ERROR' THEN 0 WHEN 'WARNING' THEN 1
        |    WHEN 'OK' THEN 2 ELSE 3 END AS rank
        |FROM (SELECT CASE WHEN o_orderkey % 10 < 6 THEN 'OK'
        |        WHEN o_orderkey % 10 < 9 THEN 'WARNING' ELSE 'ERROR' END
        |        AS distribution_status FROM orders)
        |GROUP BY distribution_status ORDER BY rank""".stripMargin))
}
