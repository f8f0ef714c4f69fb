package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its Spark builder over a table directory, and the
  * DuckDB SQL that must return the same rows over the same parquet
  * tables (the correctness gate). */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

/** A domain's queries in declaration order. Each query is declared
  * once, as `register(Q(...))` next to its builder. */
private[graft] abstract class Queries {
  private val declared = scala.collection.mutable.ArrayBuffer.empty[Q]

  protected def register(q: Q): Q = { declared += q; q }

  def all: Seq[Q] = declared.toSeq
}
