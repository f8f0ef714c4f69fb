package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: every query is declared once, with its oracle,
  * and the two driver-facing maps derived from it agree. */
class RegistrySpec extends AnyFunSuite {

  test("236 uniquely named queries, each with a non-empty oracle") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 236)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    names.foreach(n => assert(n.matches("q\\d+_[a-z0-9_]+"), n))
    SparkEntry.all.foreach(q => assert(q.oracle.trim.nonEmpty, q.name))
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == SparkEntry.all.size)
  }

  test("native re-expressions share their composed query's oracle") {
    val o = SparkEntry.oracleSql
    assert(o("q194_kmv_native") eq o("q29_kmv_distinct"))
    assert(o("q183_asof_native") eq o("q61_asof_join"))
  }

  test("query selection sorts by name and rejects unknown names") {
    val picked = SparkEntry.selectQueries(Some(" q06_star_revenue,q01_pricing_summary "))
    assert(picked.map(_._1) == Seq("q01_pricing_summary", "q06_star_revenue"))
    assert(SparkEntry.selectQueries(None).map(_._1) ==
      SparkEntry.queries.keySet.toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("q01_pricing_summary,q01_pricing_sumary")))
    assert(e.getMessage.contains("q01_pricing_sumary"))
  }
}
