package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Baskets, Dedup, GraphOps}
import DedupQueries.langBlockedPairs
import OracleSql.{shinglesCteSql, graphCteSql}

/** Queries exercising [[graft.operators.GraphOps]]. */
private[graft] object GraphOpsQueries extends Queries {

  /** Shared edge build for the graph queries (q110, q112): lang-blocked
    * bounded pairs sharing >= 1 shingle, symmetrized. */
  private def shingleGraph(t: Tables): DataFrame = {
    val e0 = Dedup.sharedShingleEdges(t.documents,
      langBlockedPairs(t, 10), "text", "doc_id")
    e0.unionByName(e0.select(col("id2").as("id1"), col("id1").as("id2")))
  }

  /** PageRank over the shared-shingle similarity graph
    * (GraphOps.pageRank, 5 rounds) — hub scoring of near-dup
    * neighborhoods. Edges: lang-blocked bounded pairs (q32's
    * discipline, window +-10) sharing >= 1 shingle, symmetrized; the
    * integer shared-shingle predicate keeps the edge set FP-free. */
  private def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    GraphOps.pageRank(shingleGraph(t), "id1", "id2", iters = 5)
      .orderBy(col("id"))
  }
  register(Q("q110_pagerank", qPageRank, {
      val iters = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst, e.src, r.r / o.outdeg AS contrib
           |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
           |  JOIN od o ON o.src = e.src),
           |a$i AS (SELECT dst,
           |    list_aggregate(list(contrib ORDER BY src), 'sum') AS m
           |  FROM c$i GROUP BY dst),
           |r$i AS (SELECT v.id, (1.0e0 - 8.5e-1) / (SELECT n FROM nv)
           |    + 8.5e-1 * coalesce(a.m, 0.0e0) AS r
           |  FROM verts v LEFT JOIN a$i a ON a.dst = v.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCteSql,
         |$graphCteSql,
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM verts),
         |r0 AS (SELECT id, 1.0e0 / (SELECT n FROM nv) AS r FROM verts),
         |$iters
         |SELECT id, round(r, 6) AS pagerank FROM r5
         |ORDER BY id""".stripMargin
    }))

  /** Personalized PageRank from the 3 smallest vertex ids
    * (GraphOps.personalizedPageRank) — retrieval expansion around
    * known-good seeds. The seed collect is metadata-plane (3 ids). */
  private def qPprExpand(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sym = shingleGraph(t).graftCp(false)
    val seeds = sym.select(col("id1").as("id"))
      .union(sym.select(col("id2").as("id")))
      .distinct().orderBy(col("id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    GraphOps.personalizedPageRank(sym, "id1", "id2", seeds, iters = 5)
      .orderBy(col("id"))
  }
  // Personalized variant: restart mass on the 3 smallest vertex ids;
  // zero-rank vertices appear as 0.0 contribs here, which are no-ops
  // in the IEEE fold — the Spark side carries the nonzero support set
  // only, bit-identically
  register(Q("q112_ppr", qPprExpand, {
      val iters = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst, e.src, r.r / o.outdeg AS contrib
           |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
           |  JOIN od o ON o.src = e.src),
           |a$i AS (SELECT dst,
           |    list_aggregate(list(contrib ORDER BY src), 'sum') AS m
           |  FROM c$i GROUP BY dst),
           |r$i AS (SELECT v.id,
           |    (CASE WHEN v.id IN (SELECT id FROM seeds)
           |          THEN (1.0e0 - 8.5e-1) / (SELECT n FROM ns)
           |          ELSE 0.0e0 END)
           |    + 8.5e-1 * coalesce(a.m, 0.0e0) AS r
           |  FROM verts v LEFT JOIN a$i a ON a.dst = v.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shinglesCteSql,
         |$graphCteSql,
         |seeds AS (SELECT id FROM verts ORDER BY id LIMIT 3),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
         |r0 AS (SELECT v.id, CASE WHEN v.id IN (SELECT id FROM seeds)
         |    THEN 1.0e0 / (SELECT n FROM ns) ELSE 0.0e0 END AS r
         |  FROM verts v),
         |$iters
         |SELECT id, round(r, 6) AS ppr FROM r5
         |ORDER BY id""".stripMargin
    }))

  /** Per-node triangle counts (GraphOps.triangleCounts) over the brand
    * co-purchase graph (q174's ≥5-support edges): a<b<c wedge closure,
    * each triangle found once, credited to all three corners. */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val baskets = t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
    val edges = Baskets.pairLift(baskets, "l_orderkey", "p_brand",
        minSupport = 5L)
      .select(col("item_a"), col("item_b"))
    GraphOps.triangleCounts(edges, "item_a", "item_b")
      .orderBy(col("node"))
  }
  register(Q("q178_triangles", qTriangles,
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |e AS (
        |  SELECT a.it AS a, b2.it AS b
        |  FROM items a JOIN items b2 ON a.bk = b2.bk AND a.it < b2.it
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 5),
        |wedge AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |tri AS (
        |  SELECT w.a, w.b, w.c
        |  FROM wedge w JOIN e e3 ON w.a = e3.a AND w.c = e3.b),
        |nodes AS (SELECT unnest([a, b, c]) AS node FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY node
        |ORDER BY node""".stripMargin))
}
