package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import graft.queries._
import graft.queries.RelationalQueries.qStarRevenue

/** Driver contract (see SURVEY.md §2 / §7 + builder prompt).
  *
  * Every operator from the SURVEY §2 inventory (plus the north-star
  * LLM-pipeline operators) is exposed as a named query over the driver's
  * parquet tables. Each query is declared once, as a [[queries.Q]] next
  * to its DuckDB-equivalent oracle, in the per-domain objects under
  * `graft.queries`; this object is the registry over them.
  * Column names are aliased identically on both sides; all floating
  * outputs are rounded; every query is deterministically ordered.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the star-schema revenue rollup
    * (broadcast dims, one fact shuffle). Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qStarRevenue(spark, "/root/testdata/sf0.001")

  /** `stack()` melt over dynamically-discovered pivot column names,
    * with SQL-injection-proof escaping: the names come from DATA (a
    * distinct over a string column), so a value carrying a quote,
    * backslash or backtick must survive both the string-literal and
    * the identifier position of the generated expression (regression
    * test in OperatorsSpec: "meltStack escaping"). */
  private[graft] def meltStack(names: Seq[String], varCol: String,
      valCol: String): Column = {
    def sqlLit(v: String) =
      "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    def sqlId(v: String) = "`" + v.replace("`", "``") + "`"
    expr(s"stack(${names.length}, " +
      names.map(n => s"${sqlLit(n)}, ${sqlId(n)}").mkString(", ") +
      s") as ($varCol, $valCol)")
  }

  /** Every query, each declared once next to its builder. */
  val all: Seq[Q] = Seq(RelationalQueries, ReportsQueries, SourcesQueries,
    BasketsQueries, CurationQueries, DedupQueries, EntityResolutionQueries,
    EventAnalyticsQueries, GraphOpsQueries, JoinPruneQueries, LakeQueries,
    MultiModalQueries, PackingQueries, ProfilingQueries, SamplingQueries,
    SimilarityQueries, SketchesQueries, SkewQueries, SnapshotQueries,
    TextAnalysisQueries, TimeSeriesOpsQueries).flatMap(_.all)

  /** Query name → builder over a table directory. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** Query name → the DuckDB SQL its result must match. */
  val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap

  /** The queries named in the comma-separated `names` (every query when
    * None) as (name, build) pairs sorted by name. Throws on a name no
    * query has, so a typo cannot select nothing and pass. */
  def selectQueries(names: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = wanted.getOrElse(Set.empty[String]) -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    queries.toSeq.filter { case (n, _) => wanted.forall(_.contains(n)) }
      .sortBy(_._1)
  }
}
