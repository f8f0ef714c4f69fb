package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Baskets

/** Queries exercising [[graft.operators.Baskets]]. */
private[graft] object BasketsQueries extends Queries {

  /** Brand co-purchase lift (Baskets.pairLift): brands co-occurring in
    * the same order, joint support ≥ 5, lift over the order universe —
    * basket width bounded by the 25-brand domain, pair shuffle at
    * brand-pair grain. */
  private def qCopurchaseLift(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val baskets = t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    Baskets.pairLift(baskets, "l_orderkey", "p_brand", minSupport = 5L)
      .orderBy(col("item_a"), col("item_b"))
  }
  register(Q("q174_copurchase_lift", qCopurchaseLift,
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
        |marg AS (SELECT i, count(*) AS n FROM items GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS item_a, b2.i AS item_b, count(*) AS n_both
        |  FROM items a JOIN items b2 ON a.b = b2.b AND a.i < b2.i
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 5)
        |SELECT item_a, item_b, n_both,
        |  ma.n AS n_a, mb.n AS n_b,
        |  round(CAST(n_both AS DOUBLE) * n_baskets / (ma.n * mb.n), 4)
        |    AS lift
        |FROM pairs
        |JOIN marg ma ON pairs.item_a = ma.i
        |JOIN marg mb ON pairs.item_b = mb.i, nb
        |ORDER BY item_a, item_b""".stripMargin))
}
