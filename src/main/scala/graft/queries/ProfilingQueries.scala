package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Profiling
import OracleSql.cosineSql

/** Queries exercising [[graft.operators.Profiling]]. */
private[graft] object ProfilingQueries extends Queries {

  /** Columns profiled by q57 and its generated oracle — one list, two
    * engines. Booleans mark numeric columns (mean defined). */
  private val ProfileCols = Seq(
    ("l_orderkey", true), ("l_quantity", true),
    ("l_returnflag", false), ("l_shipdate", false))

  /** Targets for q100: even sources get 0.09, odd sources are
    * unplanned (1e-6 smoothing -> visible KL penalty). */
  private val MixTargets: Map[String, Double] =
    (0 until 20 by 2).map(i => s"src$i" -> 0.09).toMap

  /** One-pass relational profile (Profiling.profile) over mixed-type
    * lineitem columns. */
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.profile(t.lineitem, ProfileCols.map(_._1))
  }
  // generated from the same ProfileCols list as qProfile
  register(Q("q57_profile", qProfile, ProfileCols.map { case (c, isNum) =>
      val mean = if (isNum) s"round(avg($c), 4)" else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value,
         |  $mean AS mean_value FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")))

  /** Distribution drift between corpus halves (Profiling.psiDrift):
    * per-language PSI of document length, equal-width bins over the
    * reference half's range — the pre-retraining drift monitor. */
  private def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.psiDrift(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        "n_chars", "lang", bins = 10)
      .orderBy(col("lang"))
  }
  register(Q("q84_psi_drift", qPsiDrift,
      """WITH ref AS (SELECT lang, n_chars::DOUBLE AS v FROM documents
        |  WHERE doc_id % 2 = 0),
        |cur AS (SELECT lang, n_chars::DOUBLE AS v FROM documents
        |  WHERE doc_id % 2 = 1),
        |edges AS (SELECT lang, min(v) AS lo, max(v) AS hi FROM ref
        |  GROUP BY lang),
        |rb AS (SELECT r.lang,
        |    CASE WHEN e.hi = e.lo THEN 0
        |         ELSE least(greatest(
        |           floor((r.v - e.lo) / ((e.hi - e.lo) / 10)), 0), 9)
        |    END AS bin, count(*) AS n_ref
        |  FROM ref r JOIN edges e USING (lang) GROUP BY 1, 2),
        |cb AS (SELECT c.lang,
        |    CASE WHEN e.hi = e.lo THEN 0
        |         ELSE least(greatest(
        |           floor((c.v - e.lo) / ((e.hi - e.lo) / 10)), 0), 9)
        |    END AS bin, count(*) AS n_cur
        |  FROM cur c JOIN edges e USING (lang) GROUP BY 1, 2),
        |j AS (SELECT coalesce(rb.lang, cb.lang) AS lang,
        |    coalesce(rb.bin, cb.bin) AS bin,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM rb FULL OUTER JOIN cb
        |  ON rb.lang = cb.lang AND rb.bin = cb.bin),
        |tot AS (SELECT lang, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
        |  FROM j GROUP BY 1),
        |p AS (SELECT j.lang,
        |    greatest(n_ref / t_ref, 1e-6) AS p_ref,
        |    greatest(n_cur / t_cur, 1e-6) AS p_cur
        |  FROM j JOIN tot USING (lang)),
        |psi AS (SELECT lang,
        |    round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
        |    count(*) AS n_bins_present
        |  FROM p GROUP BY lang),
        |curonly AS (SELECT DISTINCT c.lang FROM cur c
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.lang = c.lang))
        |SELECT * FROM (SELECT * FROM psi UNION ALL
        |  SELECT lang, CAST(NULL AS DOUBLE) AS psi,
        |    CAST(0 AS BIGINT) AS n_bins_present FROM curonly)
        |ORDER BY lang""".stripMargin))

  /** Embedding-corpus QA (Profiling.embeddingDimStats): per-dimension
    * mean/std/min/max — the collapsed-dimension detector. */
  private def qDimStats(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.embeddingDimStats(t.embeddings, "embedding")
      .orderBy(col("dim"))
  }
  register(Q("q89_dim_stats", qDimStats,
      """WITH x AS (SELECT unnest(embedding) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings)
        |SELECT CAST(dim AS INT) AS dim, count(*) AS n,
        |  round(avg(v::DOUBLE), 6) AS mean,
        |  round(stddev(v::DOUBLE), 6) AS std,
        |  min(v::DOUBLE) AS min_v, max(v::DOUBLE) AS max_v
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin))

  /** Schema-drift report between lineitem halves
    * (Profiling.profileDiff): null-spike / distinct-drop / mean-shift
    * flags per column. */
  private def qProfileDiff(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.profileDiff(
      t.lineitem.filter(col("l_orderkey") % 2 === 0),
      t.lineitem.filter(col("l_orderkey") % 2 === 1),
      ProfileCols.map(_._1))
  }
  register(Q("q91_profile_diff", qProfileDiff, {
      def sideSql(sfx: String, parity: Int): String =
        ProfileCols.map { case (c, isNum) =>
          val mean = if (isNum) s"round(avg($c), 4)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS "column",
             |  round((count(*) - count($c))::DOUBLE / count(*), 6)
             |    AS null_rate_$sfx,
             |  count(DISTINCT $c) AS n_distinct_$sfx,
             |  $mean AS mean_$sfx
             |FROM lineitem WHERE l_orderkey % 2 = $parity""".stripMargin
        }.mkString("(", "\nUNION ALL\n", ")")
      s"""WITH r AS ${sideSql("ref", 0)},
         |c AS ${sideSql("cur", 1)}
         |SELECT r."column", null_rate_ref, null_rate_cur,
         |  n_distinct_ref, n_distinct_cur, mean_ref, mean_cur,
         |  (null_rate_cur - null_rate_ref > 0.05) AS null_spike,
         |  (n_distinct_cur < 0.5 * n_distinct_ref) AS distinct_drop,
         |  CASE WHEN mean_ref IS NULL OR mean_cur IS NULL THEN false
         |    ELSE abs(mean_cur - mean_ref) > 0.1 * abs(mean_ref)
         |  END AS mean_shift
         |FROM r JOIN c USING ("column")
         |ORDER BY r."column"""".stripMargin
    }))

  /** Source concentration per language (Profiling.sourceConcentration):
    * HHI + top-source share — the diversity monitor. */
  private def qConcentration(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.sourceConcentration(t.documents, "lang", "source")
      .orderBy(col("lang"))
  }
  register(Q("q95_concentration", qConcentration,
      """WITH c AS (SELECT lang, source, count(*) AS n_src
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_sources,
        |  CAST(sum(n_src) AS BIGINT) AS n_rows,
        |  round(max(n_src)::DOUBLE / sum(n_src), 6) AS top_share,
        |  round(sum(n_src * n_src)::DOUBLE /
        |    (sum(n_src) * sum(n_src)), 6) AS hhi
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin))

  /** Per-language length histogram with explicit bin edges
    * (Profiling.histogramReport). */
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.histogramReport(t.documents, "n_chars", "lang", bins = 10)
      .orderBy(col("lang"), col("bin"))
  }
  register(Q("q99_histogram", qHistogram,
      """WITH e AS (SELECT lang, min(n_chars::DOUBLE) AS lo,
        |    max(n_chars::DOUBLE) AS hi FROM documents GROUP BY 1),
        |h AS (SELECT d.lang,
        |    CASE WHEN e.hi = e.lo THEN 0
        |      ELSE least(greatest(floor((d.n_chars::DOUBLE - e.lo) /
        |        ((e.hi - e.lo) / 10)), 0), 9) END AS bin,
        |    count(*) AS n
        |  FROM documents d JOIN e USING (lang) GROUP BY 1, 2)
        |SELECT h.lang, CAST(h.bin AS BIGINT) AS bin,
        |  round(e.lo + h.bin * ((e.hi - e.lo) / 10), 6) AS lo_edge,
        |  round(e.lo + (h.bin + 1) * ((e.hi - e.lo) / 10), 6) AS hi_edge,
        |  n
        |FROM h JOIN e USING (lang) ORDER BY lang, bin""".stripMargin))

  /** Realized-vs-target mixture divergence (Profiling.mixKlDivergence)
    * per language, in nats. */
  private def qMixKl(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.mixKlDivergence(t.documents, "lang", "source", MixTargets)
      .orderBy(col("lang"))
  }
  register(Q("q100_mix_kl", qMixKl, {
      val caseQ = MixTargets.toSeq.sortBy(_._1)
        .map { case (s, q) => s"WHEN source = '$s' THEN $q" }
        .mkString("\n    ")
      s"""WITH c AS (SELECT lang, source, count(*) AS n_src
         |  FROM documents GROUP BY 1, 2),
         |w AS (SELECT lang, n_src,
         |    CASE $caseQ ELSE 1e-6 END AS q
         |  FROM c)
         |SELECT lang, CAST(sum(n_src) AS BIGINT) AS n_rows,
         |  round((sum(n_src * ln(n_src)) - sum(n_src * ln(q)))
         |    / sum(n_src) - ln(sum(n_src)), 6) AS kl_nats
         |FROM w GROUP BY lang ORDER BY lang""".stripMargin
    }))

  /** Exact per-language quantiles of document length at VALUE grain —
    * no row sort, no sketch (Profiling.exactQuantilesByValue). */
  private def qExactQuantiles(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.exactQuantilesByValue(t.documents, "n_chars", "lang",
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy(col("lang"), col("q"))
  }
  // value-grain exact quantiles: the oracle replays the SAME
  // cumulative-window formulation (equivalent to percentile_disc —
  // smallest v whose cumulative count reaches q*n; the q*n threshold
  // is the identical IEEE multiply on both engines)
  register(Q("q127_exact_quantiles", qExactQuantiles,
      """WITH c AS (SELECT lang, n_chars AS v, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT lang, v,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS n FROM c),
        |qs AS (SELECT unnest([0.25e0, 0.5e0, 0.75e0, 0.9e0, 0.99e0]) AS q)
        |SELECT lang, q, min(v) AS value FROM w, qs
        |WHERE CAST(cum AS DOUBLE) >= q * n
        |GROUP BY lang, q ORDER BY lang, q""".stripMargin))

  /** Embedding-store hygiene audit (Profiling.embeddingHygiene): per
    * label — dimension consistency, non-finite values, all-zero
    * vectors, L2-norm envelope. The per-ingest-batch admission check
    * that keeps a broken encoder checkpoint out of the ANN index. */
  private def qEmbeddingHygiene(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.embeddingHygiene(t.embeddings, "embedding", "label")
      .orderBy(col("label"))
  }
  // per-vector folds run left-to-right in both engines (HOF aggregate
  // vs list_aggregate), so the 6-dp norms agree bit-for-bit
  register(Q("q145_embedding_hygiene", qEmbeddingHygiene,
      """WITH v AS (SELECT label, len(embedding) AS dim,
        |    CASE WHEN len(list_filter(embedding,
        |        x -> NOT isfinite(CAST(x AS DOUBLE)))) > 0
        |      THEN 1 ELSE 0 END AS bad,
        |    CASE WHEN len(list_filter(embedding,
        |        x -> CAST(x AS DOUBLE) <> 0)) = 0
        |      THEN 1 ELSE 0 END AS zer,
        |    round(sqrt(coalesce(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0)), 6)
        |      AS nrm
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(dim) AS BIGINT) AS dim_min,
        |  CAST(max(dim) AS BIGINT) AS dim_max,
        |  CAST(sum(bad) AS BIGINT) AS n_nonfinite,
        |  CAST(sum(zer) AS BIGINT) AS n_zero,
        |  min(nrm) AS norm_min, max(nrm) AS norm_max,
        |  round(avg(nrm), 4) AS norm_mean
        |FROM v GROUP BY label ORDER BY label""".stripMargin))

  /** k-anonymity audit (Profiling.kAnonymity) over the customer
    * quasi-identifier pair (nation, market segment) at k = 10 — the
    * "is any row re-identifiable by its released attributes" gate. */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.kAnonymity(t.customer,
      Seq("c_nationkey", "c_mktsegment"), k = 10)
  }
  register(Q("q153_k_anonymity", qKAnonymity,
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS grp_n
        |  FROM customer GROUP BY 1, 2)
        |SELECT 10 AS k, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(grp_n) AS BIGINT) AS n_rows,
        |  CAST(min(grp_n) AS BIGINT) AS min_group,
        |  CAST(sum(CASE WHEN grp_n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_k,
        |  CAST(sum(CASE WHEN grp_n < 10 THEN grp_n ELSE 0 END) AS BIGINT)
        |    AS rows_below_k,
        |  round(sum(CASE WHEN grp_n < 10 THEN grp_n ELSE 0 END) * 100.0e0
        |    / sum(grp_n), 6) AS at_risk_pct
        |FROM g""".stripMargin))

  /** Per-label centroid-distance outliers
    * (Profiling.centroidOutliers, q = 0.05): cosine of every embedding
    * against its label centroid, flagged at or below the label's exact
    * 5th-percentile — the mislabeled/garbage-vector screen. */
  private def qEmbeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.centroidOutliers(t.embeddings, "vec_id", "embedding",
        "label", q = 0.05)
      .orderBy(col("label"), col("vec_id"))
  }
  // 4-dp centroids (same quantization as the operator), sequential-
  // fold cosine, exact discrete 5th percentile over the 6-dp domain
  register(Q("q157_embedding_outliers", qEmbeddingOutliers,
      s"""WITH pos AS (SELECT label, vec_id, unnest(embedding) AS x,
         |    unnest(generate_series(1, len(embedding))) AS d
         |  FROM embeddings),
         |cen AS (SELECT label, d, round(avg(CAST(x AS DOUBLE)), 4) AS c
         |  FROM pos GROUP BY label, d),
         |cent AS (SELECT label, list(c ORDER BY d) AS centroid
         |  FROM cen GROUP BY label),
         |sc AS (SELECT e.label, e.vec_id,
         |    round(${cosineSql("e.embedding", "ct.centroid")}, 6)
         |      AS cos_centroid
         |  FROM embeddings e JOIN cent ct USING (label)),
         |vg AS (SELECT label, cos_centroid AS v,
         |    CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY 1, 2),
         |cm AS (SELECT label, v,
         |    sum(cnt) OVER (PARTITION BY label ORDER BY v) AS cum,
         |    sum(cnt) OVER (PARTITION BY label) AS n FROM vg),
         |th AS (SELECT label, min(v) AS threshold FROM cm
         |  WHERE CAST(cum AS DOUBLE) >= 0.05e0 * n GROUP BY label)
         |SELECT sc.label, sc.vec_id, sc.cos_centroid, th.threshold,
         |  sc.cos_centroid <= th.threshold AS is_outlier
         |FROM sc JOIN th USING (label)
         |ORDER BY sc.label, sc.vec_id""".stripMargin))

  /** Pearson correlation matrix (Profiling.correlationMatrix) over the
    * four lineitem measures — exact decimal power sums in ONE pass, FP
    * only in the final one-row formula. */
  private def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.correlationMatrix(t.lineitem,
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"),
        scale = 2)
      .orderBy(col("col_x"), col("col_y"))
  }
  // exact HUGEINT power sums (sum(BIGINT) promotes), FP only in the
  // final one-row formula — generated from the same column list
  register(Q("q159_corr_matrix", qCorrMatrix, {
      val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val defs = cs.map(c => s"CAST(round($c * 100) AS BIGINT) AS x_$c")
        .mkString(", ")
      val sums = (cs.map(c => s"sum(x_$c) AS s_$c") ++
        cs.map(c => s"sum(x_$c * x_$c) AS ss_$c") ++
        (for { i <- cs.indices; j <- cs.indices if i < j }
          yield s"sum(x_${cs(i)} * x_${cs(j)}) AS sp_${cs(i)}_${cs(j)}"))
        .mkString(",\n    ")
      val selects = (for { i <- cs.indices; j <- cs.indices if i < j }
        yield {
          val (a, b) = (cs(i), cs(j))
          s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
             |  round(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) /
             |    nullif(sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)) *
             |      sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)), 0.0e0),
             |    6) AS corr
             |  FROM s""".stripMargin
        }).mkString("\nUNION ALL\n")
      s"""WITH c AS (SELECT $defs FROM lineitem),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    $sums
         |  FROM c)
         |$selects
         |ORDER BY col_x, col_y""".stripMargin
    }))

  /** Mutual information lang × source (Profiling.mutualInformation) —
    * "are sources language-siloed"; exact cell counts, sorted-fold
    * entropies, min-normalized NMI. */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.mutualInformation(t.documents, "lang", "source")
  }
  // cell-sorted list folds pin the IEEE summation order; NMI uses
  // the UNROUNDED entropies (the 6-dp rounding is output-only)
  register(Q("q160_mutual_info", qMutualInfo,
      """WITH cells AS (SELECT CAST(lang AS VARCHAR) AS x,
        |    CAST(source AS VARCHAR) AS y, CAST(count(*) AS BIGINT) AS cxy
        |  FROM documents GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx
        |  FROM cells GROUP BY x),
        |ys AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy
        |  FROM cells GROUP BY y),
        |tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
        |terms AS (SELECT c.x, c.y,
        |    CAST(cxy AS DOUBLE) / n *
        |      ln((CAST(cxy AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))
        |      AS term
        |  FROM cells c JOIN xs USING (x) JOIN ys USING (y), tot),
        |mi AS (SELECT list_aggregate(list(term ORDER BY x, y), 'sum')
        |    AS mi FROM terms),
        |hx AS (SELECT list_aggregate(list(
        |    -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n)
        |    ORDER BY x), 'sum') AS h_x FROM xs, tot),
        |hy AS (SELECT list_aggregate(list(
        |    -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n)
        |    ORDER BY y), 'sum') AS h_y FROM ys, tot)
        |SELECT n, round(h_x, 6) AS h_x, round(h_y, 6) AS h_y,
        |  round(mi, 6) AS mi,
        |  round(mi / nullif(least(h_x, h_y), 0.0e0), 6) AS nmi
        |FROM tot, hx, hy, mi""".stripMargin))

  /** Dominant principal component (Profiling.pcaPowerComponent):
    * 3 exact-integer power iterations over the 1e-6-quantized
    * covariance — float arithmetic only in the one-per-cell closed
    * form and the final normalization, so the oracle reproduces every
    * intermediate bit-for-bit. */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.pcaPowerComponent(t.embeddings, "embedding", iters = 3)
  }
  register(Q("q175_pca_power", qPcaPower,
      """WITH e AS (
        |  SELECT vec_id,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000.0)
        |      AS BIGINT) AS xq,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i
        |  FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |sx AS (SELECT i, sum(xq) AS sx FROM e GROUP BY i),
        |sxy AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS sxy
        |  FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
        |cov AS (
        |  SELECT sxy.i, sxy.j,
        |    CAST(round((CAST(sxy AS DOUBLE) / n
        |      - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE) / n / n)
        |      / 100.0) AS HUGEINT) AS c
        |  FROM sxy JOIN sx si ON sxy.i = si.i
        |  JOIN sx sj ON sxy.j = sj.i, nn),
        |w1 AS (SELECT i, sum(c) AS w FROM cov GROUP BY i),
        |w2 AS (SELECT cov.i, sum(c * w1.w) AS w
        |  FROM cov JOIN w1 ON cov.j = w1.i GROUP BY cov.i),
        |w3 AS (SELECT cov.i, sum(c * w2.w) AS w
        |  FROM cov JOIN w2 ON cov.j = w2.i GROUP BY cov.i),
        |ref3 AS (SELECT w AS ref, abs(w) AS maxabs FROM w3
        |  ORDER BY abs(w) DESC, i LIMIT 1),
        |ref2 AS (SELECT abs(w) AS maxabs_prev FROM w2
        |  ORDER BY abs(w) DESC, i LIMIT 1)
        |SELECT i AS dim,
        |  round(CAST(w AS DOUBLE) / CAST(ref AS DOUBLE), 6) AS loading,
        |  round(CAST(maxabs AS DOUBLE) / CAST(maxabs_prev AS DOUBLE)
        |    / 1000000.0, 6) AS eigenvalue
        |FROM w3, ref3, ref2
        |ORDER BY dim""".stripMargin))

  /** Equi-depth binning (Profiling.equiDepthBins): deciles of event
    * value per event type. Per-bin count and envelope are
    * tiebreak-invariant, so no id column is needed. */
  private def qEquiDepth(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.equiDepthBins(t.events, "event_type", "value", nBins = 10)
      .orderBy(col("event_type"), col("bin"))
  }
  register(Q("q179_equi_depth", qEquiDepth,
      """WITH t AS (
        |  SELECT event_type, value,
        |    CAST(ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS INT) AS bin
        |  FROM events)
        |SELECT event_type, bin, count(*) AS n,
        |  round(min(value), 4) AS v_min, round(max(value), 4) AS v_max
        |FROM t GROUP BY 1, 2
        |ORDER BY event_type, bin""".stripMargin))

  /** Functional-dependency audit (Profiling.functionalDependencies):
    * does o_orderkey determine o_custkey (a real key), and do
    * o_custkey → o_orderpriority / o_orderstatus hold (they must not —
    * customers place orders of many priorities)? */
  private def qFdAudit(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.functionalDependencies(t.orders, Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority",
        "o_custkey" -> "o_orderstatus"))
      .orderBy(col("lhs"), col("rhs"))
  }
  register(Q("q206_fd_audit", qFdAudit, {
      def fd(a: String, b: String) =
        s"""SELECT '$a' AS lhs, '$b' AS rhs, count(*) AS n_lhs,
           |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
           |FROM (SELECT $a, count(DISTINCT coalesce(CAST($b AS VARCHAR),
           |  ' null')) AS nb FROM orders GROUP BY $a)""".stripMargin
      Seq(fd("o_orderkey", "o_custkey"),
        fd("o_custkey", "o_orderpriority"),
        fd("o_custkey", "o_orderstatus"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY lhs, rhs")
    }))

  /** Exact weighted median (Profiling.weightedMedian): per return
    * flag, the price-cents value at which half the shipped QUANTITY
    * sits below — the volume-weighted "typical price" an unweighted
    * median misstates. Integer crossing test, zero interpolation. */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val li = t.lineitem.select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"),
      round(col("l_quantity")).cast("long").as("qty"))
    Profiling.weightedMedian(li, "l_returnflag", "cents", "qty")
      .orderBy(col("l_returnflag"))
  }
  register(Q("q208_weighted_median", qWeightedMedian,
      """WITH li AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS qty FROM lineitem),
        |bv AS (SELECT l_returnflag, cents, sum(qty) AS w
        |  FROM li GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, cents,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS c,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM bv)
        |SELECT l_returnflag,
        |  CAST(min(cents) AS BIGINT) AS weighted_median,
        |  CAST(max(tot) AS BIGINT) AS total_weight
        |FROM cum WHERE c * 2 >= tot
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin))

  /** Robust outliers (Profiling.madOutliers): per language, document
    * lengths beyond 3 MADs of the median — the outlier screen the
    * outliers themselves cannot skew (a mean/σ z-score gate moves
    * with every monster doc it should be catching). */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.madOutliers(t.documents, "lang", "n_chars", nMads = 3)
      .orderBy(col("lang"))
  }
  register(Q("q209_mad_outliers", qMadOutliers,
      """WITH base AS (SELECT lang, CAST(n_chars AS BIGINT) AS x
        |  FROM documents),
        |m1 AS (SELECT lang, min(x) AS med FROM (
        |    SELECT lang, x,
        |      sum(w) OVER (PARTITION BY lang ORDER BY x
        |        ROWS UNBOUNDED PRECEDING) AS c,
        |      sum(w) OVER (PARTITION BY lang) AS tot
        |    FROM (SELECT lang, x, count(*) AS w FROM base GROUP BY 1, 2))
        |  WHERE c * 2 >= tot GROUP BY lang),
        |dev AS (SELECT b.lang, b.x, abs(b.x - m1.med) AS d, m1.med
        |  FROM base b JOIN m1 ON b.lang = m1.lang),
        |m2 AS (SELECT lang, min(d) AS mad FROM (
        |    SELECT lang, d,
        |      sum(w) OVER (PARTITION BY lang ORDER BY d
        |        ROWS UNBOUNDED PRECEDING) AS c,
        |      sum(w) OVER (PARTITION BY lang) AS tot
        |    FROM (SELECT lang, d, count(*) AS w FROM dev GROUP BY 1, 2))
        |  WHERE c * 2 >= tot GROUP BY lang)
        |SELECT dev.lang, count(*) AS n,
        |  CAST(max(dev.med) AS BIGINT) AS median,
        |  CAST(max(m2.mad) AS BIGINT) AS mad,
        |  CAST(sum(CASE WHEN dev.d > 3 * m2.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN m2 ON dev.lang = m2.lang
        |GROUP BY dev.lang
        |ORDER BY dev.lang""".stripMargin))

  /** 2-D skyline (Profiling.skyline2D): per brand, parts on the
    * (price ↓, size ↑) Pareto front — no other part of the brand is
    * both no-more-expensive and no-smaller with one strict. The
    * window formulation replaces the quadratic EXISTS; the oracle
    * IS the quadratic EXISTS, so the front must agree exactly. */
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val p = t.part.select(col("p_brand"), col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("price_cents"),
      col("p_size"))
    Profiling.skyline2D(p, "p_brand", "price_cents", "p_size")
      .select(col("p_brand"), col("p_partkey"), col("price_cents"),
        col("p_size"))
      .orderBy(col("p_brand"), col("p_partkey"))
  }
  // the independent quadratic dominance definition — the window
  // formulation must reproduce it exactly
  register(Q("q213_skyline", qSkyline,
      """WITH p AS (SELECT p_brand, p_partkey,
        |    CAST(round(p_retailprice * 100, 0) AS BIGINT)
        |      AS price_cents, p_size
        |  FROM part)
        |SELECT p_brand, p_partkey, price_cents, p_size
        |FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.p_brand = a.p_brand
        |    AND b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
        |ORDER BY p_brand, p_partkey""".stripMargin))

  /** Per-group mode (Profiling.modeBy): each language's most frequent
    * source, with the winner's count and the count-tie width —
    * deterministic smallest-value tiebreak. */
  private def qMode(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Profiling.modeBy(t.documents, "lang", "source")
      .orderBy(col("lang"))
  }
  register(Q("q214_mode", qMode,
      """WITH c AS (SELECT lang, source, count(*) AS n
        |  FROM documents GROUP BY lang, source),
        |m AS (SELECT lang, max(n) AS mx FROM c GROUP BY lang),
        |t AS (SELECT c.lang, CAST(count(*) AS BIGINT) AS n_tied
        |  FROM c JOIN m ON c.lang = m.lang AND c.n = m.mx
        |  GROUP BY c.lang),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, source) AS rk FROM c)
        |SELECT r.lang, source AS mode, n AS n_mode, n_tied
        |FROM r JOIN t ON r.lang = t.lang
        |WHERE rk = 1
        |ORDER BY r.lang""".stripMargin))
}
