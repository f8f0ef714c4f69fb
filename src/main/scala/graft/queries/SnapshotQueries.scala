package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Snapshot

/** Queries exercising [[graft.operators.Snapshot]]. */
private[graft] object SnapshotQueries extends Queries {

  /** Snapshot diff (Snapshot.diff): row-level added/removed/changed/
    * unchanged classification of two order-book snapshots — the
    * re-harvest "which series changed" report at row grain. Prices
    * compare in exact integer cents so the change verdict is
    * engine-portable; ~1/7 of the overlap is mutated. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val base = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderdate"))
    val oldSnap = base.filter(col("o_orderdate") < lit("1995-07-01"))
      .drop("o_orderdate")
    val newSnap = base.filter(col("o_orderdate") >= lit("1993-07-01"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 7 === 0, col("price_cents") + 1000L)
          .otherwise(col("price_cents")).as("price_cents"))
    Snapshot.diff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_orderstatus", "price_cents"))
      .orderBy(col("o_orderkey"))
  }
  register(Q("q79_snapshot_diff", qSnapshotDiff,
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    o_orderdate FROM orders),
        |old AS (SELECT o_orderkey, o_orderstatus, price_cents FROM base
        |  WHERE o_orderdate < DATE '1995-07-01'),
        |new AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN price_cents + 1000
        |         ELSE price_cents END AS price_cents
        |  FROM base WHERE o_orderdate >= DATE '1993-07-01')
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  o.o_orderstatus AS old_o_orderstatus,
        |  o.price_cents AS old_price_cents,
        |  n.o_orderstatus AS new_o_orderstatus,
        |  n.price_cents AS new_price_cents,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |        AND o.price_cents IS NOT DISTINCT FROM n.price_cents
        |         THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        |ORDER BY 1""".stripMargin))
}
