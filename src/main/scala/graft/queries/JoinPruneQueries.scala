package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.JoinPrune

/** Queries exercising [[graft.operators.JoinPrune]]. */
private[graft] object JoinPruneQueries extends Queries {

  /** Local-supplier volume (the TPC-H Q5 shape): revenue per nation
    * where the customer and the line's supplier share a nation, region-
    * and date-bracketed. The nation/region dims broadcast; the only
    * shuffles are the two fact-grain equi-joins (orders on custkey,
    * lineitem on orderkey) — at 100 TB those co-partition on their join
    * keys and AQE picks the sides. */
  private def qLocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val asiaNations = t.nation
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val datedOrders = t.orders.filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    // Runtime bloom prune (JoinPrune): only ~15% of orders survive the
    // date window, so lineitem's shuffle input is pruned by a bloom
    // over the surviving orderkeys BEFORE the exchange — at 100 TB the
    // fact shuffle is the cost center and the one dim-side bloom
    // aggregate (behind the pushed date filter) is noise. Sizing comes
    // from plan statistics (driver-side, no pre-count scan), refined
    // downward from the conf default; under-sizing only degrades fpp.
    // The inner join below removes the bloom's false positives, so
    // results are identical to the unpruned plan.
    val lineitem = JoinPrune.buildBloom(datedOrders, "o_orderkey") match {
      case Some(bloom) => JoinPrune.bloomPrune(t.lineitem, "l_orderkey", bloom)
      case None => t.lineitem.limit(0)
    }
    t.customer
      .join(datedOrders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("nation"))
  }
  register(Q("q161_local_supplier_volume", qLocalSupplierVolume,
      """SELECT n_name AS nation,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, nation""".stripMargin))

  /** Bloom-pruned semi join (the explicit InjectRuntimeFilter shape):
    * lineitem restricted to recent URGENT orders — a dim subset that is
    * selective (~5% of orders) but, at 100 TB, too large to broadcast.
    * `JoinPrune.bloomSemiJoin` builds a distributed bloom over the
    * surviving orderkeys and plants a codegen'd `might_contain` probe
    * directly on the lineitem scan, so only matching rows (plus ~fpp
    * false positives, removed by the real semi join that follows) ever
    * enter the exchange. Results are byte-identical to the plain semi
    * join — which is exactly what the oracle runs. */
  private def qBloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val build = t.orders.filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    // sizing is FREE: plan statistics (sizeInBytes ÷ key width, or an
    // exact rowCount when the plan carries one) size the sketch with
    // no pre-count scan, refined downward from the 1M conf default —
    // under-sizing only degrades fpp (extra false positives, removed
    // by the real semi join), never results
    JoinPrune.bloomSemiJoin(t.lineitem, build,
        "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  register(Q("q227_bloom_semi_join", qBloomSemiJoin,
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin))
}
