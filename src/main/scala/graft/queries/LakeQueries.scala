package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries that persist tables under a per-process lake root as part
  * of their read path: bucketed co-located tables ([[graft.SeriesLake]])
  * and an observed kept corpus. */
private[graft] object LakeQueries extends Queries {

  /** Per-process lake root for queries that persist tables/files as
    * part of their read path (q228's bucketed tables, q229's kept
    * corpus). A per-run temp directory — NOT a fixed /tmp path — so
    * concurrent bench/test/verify processes never clobber each other's
    * tables and nothing stale survives across runs; within the process
    * the skip-if-exists build gates still amortize builds across
    * bench passes. */
  private lazy val lakeRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_lake_")
    // deleteOnExit only removes EMPTY directories and the lake is
    // always populated — recursively delete on JVM shutdown instead
    // (children first), so bench/verify processes don't leak a full
    // bucketed-table tree per run
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(d).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: Throwable => () }
    }))
    d.toString
  }

  /** Bucketed co-located join (SeriesLake.writeBucketed): both join
    * sides land as bucket-sorted tables hashed on their order key with
    * the SAME bucket count, so the fact join plans as a sort-merge join
    * with NO ShuffleExchange below it (PlanSpec asserts exactly that) —
    * the pay-the-shuffle-once layout contract of the 100 TB tier.
    * Build-once/probe-many, like the persisted ANN indexes (q58/q59):
    * the bucketed write is the pay-once layout job, gated skip-if-
    * exists on its _SUCCESS marker, so repeat calls (bench timed
    * passes; every downstream join/agg on the key at cluster scale)
    * time the exchange-free PROBE — the number a deployment cares
    * about. Results are layout-independent, so the oracle replays the
    * plain join from the raw tables. */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // dir-keyed like the ANN index paths, in case one process gates
    // several scale factors. The gate checks BOTH the _SUCCESS marker
    // of the LAST build step and the session catalog (the read path is
    // s.table(...), and a restarted SparkContext in the same JVM would
    // have files but an empty catalog — the marker alone would skip
    // the build and then fail TABLE_OR_VIEW_NOT_FOUND).
    val key = math.abs(dir.hashCode)
    if (!new java.io.File(s"$lakeRoot/q228_items_$key/_SUCCESS").exists() ||
        !s.catalog.tableExists(s"q228_orders_bkt_$key") ||
        !s.catalog.tableExists(s"q228_items_bkt_$key")) {
      SeriesLake.writeBucketed(
        t.orders
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_orderpriority")),
        s"q228_orders_bkt_$key", s"$lakeRoot/q228_orders_$key",
        bucketKey = "o_orderkey", buckets = 16, sortCols = Seq("o_orderkey"))
      SeriesLake.writeBucketed(
        t.lineitem.select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")),
        s"q228_items_bkt_$key", s"$lakeRoot/q228_items_$key",
        bucketKey = "l_orderkey", buckets = 16, sortCols = Seq("l_orderkey"))
    }
    s.table(s"q228_orders_bkt_$key")
      .join(s.table(s"q228_items_bkt_$key"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }
  // layout-independent replay of the bucketed join from the raw tables
  register(Q("q228_bucketed_join", qBucketedJoin,
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin))

  /** Single-pass pipeline telemetry via `Dataset.observe`: the ingest
    * and post-gate metrics ride the SAME action that writes the kept
    * corpus — at 100 TB, data-quality counters must never cost a
    * second scan, and `observe` plants `CollectMetrics` nodes whose
    * aggregates accumulate inside the one write job (exactly the
    * AccumulatorV2 mechanism, but declarative and plan-visible). The
    * query's RESULT is the funnel report assembled from the observed
    * values; the oracle recomputes the same aggregates from the raw
    * table, proving the in-flight metrics equal a dedicated pass. */
  private def qObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val inObs = org.apache.spark.sql.Observation()
    val keptObs = org.apache.spark.sql.Observation()
    t.documents.select(col("doc_id"), col("lang"), col("n_chars"))
      .observe(inObs, count(lit(1)).as("n_in"),
        sum(col("n_chars")).as("chars_in"))
      .filter(col("n_chars") >= 200)
      .observe(keptObs, count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept"))
      .write.mode("overwrite").parquet(s"$lakeRoot/q229_kept")
    // A MISSING key means the observe plumbing broke — fail with the
    // metric's name, not an opaque NoSuchElementException. Only the
    // sums may be legitimately null (empty input after the gate);
    // counts never are.
    def l(m: Map[String, Any], k: String, nullableSum: Boolean): Long =
      m.get(k) match {
        case None =>
          sys.error(s"observed metric '$k' missing; got keys ${m.keys}")
        case Some(null) if nullableSum => 0L
        case Some(null) =>
          sys.error(s"observed count '$k' was null — observe regression")
        case Some(v) => v.asInstanceOf[Long]
      }
    val (in, kept) = (inObs.get, keptObs.get)
    import s.implicits._
    Seq((l(in, "n_in", nullableSum = false),
        l(in, "chars_in", nullableSum = true),
        l(kept, "n_kept", nullableSum = false),
        l(kept, "chars_kept", nullableSum = true)))
      .toDF("n_in", "chars_in", "n_kept", "chars_kept")
      .withColumn("kept_ratio",
        round(col("n_kept") / col("n_in").cast("double"), 6))
  }
  // a dedicated pass recomputing what the observe() metrics measured
  // in flight — equality proves the single-pass telemetry is exact
  register(Q("q229_observe_metrics", qObserveMetrics,
      """SELECT count(*) AS n_in,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_in,
        |  count(*) FILTER (WHERE n_chars >= 200) AS n_kept,
        |  CAST(coalesce(sum(n_chars) FILTER (WHERE n_chars >= 200), 0)
        |    AS BIGINT) AS chars_kept,
        |  round(CAST(count(*) FILTER (WHERE n_chars >= 200) AS DOUBLE)
        |    / count(*), 6) AS kept_ratio
        |FROM documents""".stripMargin))
}
