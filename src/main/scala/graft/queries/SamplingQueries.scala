package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.operators.{Dedup, Sampling}
import OracleSql.{hash32Sql, normTextSql, wsTokensSql}

/** Queries exercising [[graft.operators.Sampling]]. */
private[graft] object SamplingQueries extends Queries {

  /** Target shares for the q70 mixture rebalance — en down-weighted
    * toward a balanced multilingual mixture. Shared with the generated
    * oracle so the two sides cannot drift. */
  private val MixtureShares: Seq[(String, Double)] =
    Seq("de" -> 0.2, "en" -> 0.3, "es" -> 0.2, "fr" -> 0.15, "zh" -> 0.15)

  /** Deterministic hash-based train/val/test split: counts per
    * (language, split) — stable across runs/engines/cluster sizes
    * (Sampling.withSplit). */
  private def qSplit(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sampling.withSplit(t.documents, "doc_id")
      .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))
  }
  register(Q("q45_hash_split", qSplit,
      s"""WITH b AS (SELECT lang,
         |    ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents),
         |s AS (SELECT lang, CASE WHEN bucket < 80 THEN 'train'
         |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b)
         |SELECT lang, split, count(*) AS n
         |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin))

  /** Stratified deterministic sampling: per-language keep rates (en is
    * over-represented in the synthetic corpus, zh up-weighted) — the
    * training-mixture constructor (Sampling.withStratifiedFlag). */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sampling.withStratifiedFlag(t.documents, "lang", "doc_id",
        Map("en" -> 0.2, "zh" -> 0.5), defaultRate = 0.35)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("lang"))
  }
  register(Q("q49_stratified_sample", qStratifiedSample,
      s"""WITH b AS (SELECT lang,
         |    CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 5000
         |      ELSE 3500 END AS thr,
         |    ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled
         |FROM b GROUP BY lang ORDER BY lang""".stripMargin))

  /** Deterministic corpus shuffle (Sampling.deterministicShuffle):
    * training order as a salted-hash total sort, positions verified
    * within hash shards (partitioned window, never a global one). */
  private def qShuffle(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    Sampling.deterministicShuffle(t.documents.select("doc_id"),
        "doc_id", epoch = 1)
      .withColumn("shard", pmod(col("shuffle_key"), lit(8)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shuffle_key"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }
  // same epoch salt ("sh1_") and shard modulus as qShuffle
  register(Q("q56_shuffle", qShuffle,
      s"""WITH k AS (SELECT doc_id,
         |    ${hash32Sql("'sh1_' || CAST(doc_id AS VARCHAR)")}
         |      AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, shuffle_key,
         |  CAST(shuffle_key % 8 AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
         |    ORDER BY shuffle_key, doc_id) AS INT) AS pos
         |FROM k ORDER BY shard, pos""".stripMargin))

  /** Mixture rebalancing (Sampling.mixtureRebalance): per-language
    * keep-rates that hit the target shares by downsampling only, then
    * the per-language kept counts under the deterministic hash gate. */
  private def qMixture(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sampling.mixtureRebalance(t.documents, "lang", "doc_id",
        MixtureShares.toMap)
      .groupBy(col("lang"), col("rate_bp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }
  // shares CTE generated from the SAME Scala constants qMixture uses;
  // CAST to DOUBLE because DuckDB parses bare 0.2 as DECIMAL
  register(Q("q70_mixture", qMixture,
      s"""WITH shares AS (SELECT * FROM (VALUES ${
            MixtureShares.map { case (l, sh) =>
              s"('$l', CAST($sh AS DOUBLE))" }.mkString(", ")
          }) AS t(lang, share)),
         |cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |j AS (SELECT s.lang, share, n FROM shares s JOIN cnt USING (lang)),
         |sc AS (SELECT min(CAST(n AS DOUBLE) / share) AS scale FROM j),
         |rates AS (SELECT lang,
         |    CAST(floor(least(share * scale / n, 1.0) * 10000) AS BIGINT)
         |      AS rate_bp
         |  FROM j, sc),
         |d AS (SELECT lang, doc_id,
         |    ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM documents)
         |SELECT d.lang, r.rate_bp, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept
         |FROM d JOIN rates r USING (lang)
         |GROUP BY d.lang, r.rate_bp
         |ORDER BY d.lang""".stripMargin))

  /** Deterministic weighted sampling (Sampling.weightedSample): top-5
    * A-ES winners per language, length-weighted. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sampling.weightedSample(t.documents, "lang", "doc_id", "n_chars",
        k = 5)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        col("priority"), col("rank"))
      .orderBy(col("lang"), col("rank"))
  }
  register(Q("q87_weighted_sample", qWeightedSample,
      s"""WITH p AS (SELECT lang, doc_id, n_chars,
         |    round(ln((${hash32Sql("doc_id::VARCHAR")} + 0.5)
         |        / 4294967296.0) / CAST(n_chars AS DOUBLE), 9) AS priority
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY priority DESC, doc_id) AS rank FROM p)
         |SELECT lang, doc_id, n_chars, priority, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin))

  /** Temperature-scaled mixture allocation over sources
    * (Sampling.temperatureAllocation): weight ∝ √count, exact integer
    * token budget via largest-remainder apportionment. */
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sampling.temperatureAllocation(t.documents, "source",
        budget = 1000000L)
      .orderBy(col("source"))
  }
  // √count weights: sqrt is IEEE-correctly-rounded on every engine
  // (pow is not), the denominator folds group-sorted, the leftover is
  // an integer sum — every double in the apportionment is bit-equal
  register(Q("q135_temperature_mix", qTemperatureMix,
      """WITH c AS (SELECT source, count(*) AS n_docs,
        |    sqrt(count(*)) AS w FROM documents GROUP BY source),
        |tot AS (SELECT list_aggregate(list(w ORDER BY source), 'sum')
        |    AS tot FROM c),
        |i AS (SELECT source, n_docs, w / tot AS weight,
        |    CAST(floor(1000000 * (w / tot)) AS BIGINT) AS base,
        |    1000000 * (w / tot) - floor(1000000 * (w / tot)) AS rem
        |  FROM c, tot),
        |l AS (SELECT 1000000 - sum(base) AS leftover FROM i),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
        |    AS rk FROM i)
        |SELECT source, n_docs, round(weight, 6) AS weight,
        |  base + (CASE WHEN rk <= (SELECT leftover FROM l)
        |          THEN 1 ELSE 0 END) AS alloc
        |FROM r ORDER BY source""".stripMargin))

  /** Token-budget curriculum phases (Sampling.curriculumPhases): score
    * = distinct-token ratio (lexical-diversity quality proxy), order
    * (score desc, id), phase = floor(tokens-before / 2000) via the
    * scalable two-pass (bin-offset + per-bin window) running sum. */
  private def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ws = GF.wsTokens(col("text"))
    val scored = t.documents.select(col("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      (size(array_distinct(ws)).cast("double") /
        size(ws).cast("double")).as("score"))
    Sampling.curriculumPhases(scored, "score", "n_tokens", "doc_id",
        phaseBudget = 2000L)
      .select(col("doc_id"), col("n_tokens"),
        round(col("score"), 4).as("score"), col("phase"))
      .orderBy(col("doc_id"))
  }
  // oracle runs the NAIVE global running sum the operator's two-pass
  // plan is provably equal to (binning is order-consistent with the
  // sort key, so offsets + per-bin cumsum = the global cumsum)
  register(Q("q142_curriculum", qCurriculum, {
      val ws = wsTokensSql("text")
      s"""WITH tk AS (SELECT doc_id,
         |    CAST(len($ws) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct($ws)) AS DOUBLE) / len($ws) AS score
         |  FROM documents)
         |SELECT doc_id, n_tokens, round(score, 4) AS score,
         |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    // 2000 AS BIGINT) AS phase
         |FROM tk ORDER BY doc_id""".stripMargin
    }))

  /** Water-filling token-budget allocation (Sampling.budgetAllocation):
    * per-source char masses, hash-derived milliweights (portable, no
    * literal table), budget = 2× the corpus, repeat ceiling 3 epochs —
    * high-weight sources hit their cap and the surplus redistributes.
    * The budget scalar is a 1-row aggregate collect (metadata scale). */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val masses = t.documents.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("available"))
      .withColumn("weight_mw",
        lit(10L) + pmod(GF.hash32(col("source")), lit(191L)))
    val total = masses.agg(sum(col("available")).as("t"))
      .first().getLong(0)
    Sampling.budgetAllocation(masses, "source", "available", "weight_mw",
        budget = 2L * total, maxEpochs = 3)
      .orderBy(col("source"))
  }
  // water-filling closed form: sort by r = cap/w, the level is t at
  // the FIRST row with r >= t; all prefix sums are exact BIGINTs
  register(Q("q155_token_budget", qTokenBudget,
      s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available,
         |    10 + (${hash32Sql("source")} % 191) AS weight_mw
         |  FROM documents GROUP BY source),
         |tot AS (SELECT 2 * CAST(sum(available) AS BIGINT) AS budget FROM m),
         |b AS (SELECT source, available, weight_mw,
         |    available * 3 AS cap,
         |    CAST(available * 3 AS DOUBLE) / weight_mw AS r FROM m),
         |w AS (SELECT *,
         |    coalesce(sum(cap) OVER (ORDER BY r, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cap_pre,
         |    coalesce(sum(weight_mw) OVER (ORDER BY r, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS w_pre,
         |    sum(weight_mw) OVER () AS w_tot
         |  FROM b),
         |lv AS (SELECT w.*,
         |    CAST(budget - cap_pre AS DOUBLE) / (w_tot - w_pre) AS t
         |  FROM w, tot),
         |st AS (SELECT *, first_value(CASE WHEN r >= t THEN t END
         |      IGNORE NULLS)
         |    OVER (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND UNBOUNDED FOLLOWING) AS t_star FROM lv),
         |al AS (SELECT source, available, cap, weight_mw,
         |    CASE WHEN t_star IS NULL THEN cap
         |      ELSE least(cap, CAST(floor(t_star * weight_mw) AS BIGINT))
         |      END AS allocated
         |  FROM st)
         |SELECT source, available, CAST(cap AS BIGINT) AS cap,
         |  CAST(weight_mw AS BIGINT) AS weight_mw,
         |  CAST(allocated AS BIGINT) AS allocated,
         |  round(CAST(allocated AS DOUBLE) / available, 6) AS epochs
         |FROM al ORDER BY source""".stripMargin))

  /** Exact-k deterministic per-group sample (Sampling.bottomK): ten
    * docs per language by bottom-k hash priority — reproducible by any
    * engine, stable under corpus growth, WindowGroupLimit-pruned. */
  private def qBottomKSample(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Sampling.bottomK(t.documents, "lang", "doc_id", k = 10)
      .select(col("lang"), col("doc_id"), col("source"))
      .orderBy(col("lang"), col("doc_id"))
  }
  register(Q("q197_bottomk_sample", qBottomKSample,
      s"""WITH ranked AS (SELECT lang, doc_id, source,
         |    row_number() OVER (PARTITION BY lang ORDER BY
         |      ${hash32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |SELECT lang, doc_id, source FROM ranked WHERE rk <= 10
         |ORDER BY lang, doc_id""".stripMargin))

  /** Pipeline-parity capstone: a three-stage curation pipeline —
    * quality gate (token floor + length ceiling) → exact dedup
    * (keep-min per normalized-text digest) → stratified hash-gated
    * sampling — composed from the REAL operators and verified
    * end-to-end against one oracle that replays every stage in SQL.
    * FullFlowSpec checks composition plumbing; this checks composed
    * SEMANTICS against an independent engine. Per (lang, source):
    * surviving docs and their token mass (what the mixture allocator
    * downstream would consume). */
  private def qPipelineParity(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val toks = t.documents.select(col("doc_id"), col("lang"),
      col("source"), col("text"),
      size(GF.wsTokens(col("text"))).as("n_tokens"), col("n_chars"))
    val gated = toks.filter(col("n_tokens") >= 5 && col("n_chars") <= 4000)
    val deduped = Dedup.exactDedup(gated, "text", "doc_id")
    val sampled = Sampling.stratifiedSample(deduped, "lang", "doc_id",
      Map("en" -> 0.2, "zh" -> 0.5), defaultRate = 0.35)
    sampled.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"), col("source"))
  }
  register(Q("q200_pipeline_parity", qPipelineParity,
      s"""WITH toks AS (SELECT doc_id, lang, source, text,
         |    len(${wsTokensSql("text")}) AS n_tokens, n_chars
         |  FROM documents),
         |gated AS (SELECT * FROM toks
         |  WHERE n_tokens >= 5 AND n_chars <= 4000),
         |keep AS (SELECT min(doc_id) AS doc_id
         |  FROM (SELECT doc_id, $normTextSql AS nt FROM gated)
         |  GROUP BY nt),
         |dedup AS (SELECT g.* FROM gated g
         |  JOIN keep USING (doc_id)),
         |sampled AS (SELECT * FROM dedup
         |  WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 10000 <
         |    CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 5000
         |    ELSE 3500 END)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM sampled GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin))
}
