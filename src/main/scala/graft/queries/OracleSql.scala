package graft
package queries

import graft.functions.GF
import graft.operators.TextAnalysis

/** DuckDB oracle fragments shared across queries: the same table names,
  * aliases and rounding as the Spark side. Portable-hash and
  * tokenization fragments are generated from the same Scala constants
  * the operators use, so the two sides cannot drift. */
private[graft] object OracleSql {

  val missingTokensSqlList: String =
    GF.MissingTokens.map(t => "'" + t + "'").mkString("[", ", ", "]")

  /** DuckDB equivalent of GF.hash32 (hexOffset selects the md5 window,
    * matching the Scala default of 1). */
  def hash32Sql(x: String, hexOffset: Int = 1): String =
    s"CAST(('0x' || substr(md5($x), $hexOffset, 8)) AS BIGINT)"

  /** DuckDB equivalent of Dedup.normalizeText over `text`. */
  val normTextSql: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** DuckDB equivalent of GF.wsTokens. */
  def wsTokensSql(x: String): String =
    s"list_filter(string_split_regex($x, '\\s+'), t -> len(t) > 0)"

  /** Shared CTE chain replaying Dedup.exactSubstrSpans (tokenize →
    * stride-1 8-gram hash pairs → repeated grams → gaps-and-islands
    * maximal spans `sp`), used by both the q233 span gate and the
    * q236 removal-transform gate. */
  lazy val exactSubstrCtesSql: String =
    s"""t AS (SELECT doc_id, ${wsTokensSql("text")} AS arr
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, i AS pos,
       |    ${hash32Sql("array_to_string(arr[i+1:i+8], ' ')")} AS h1,
       |    ${hash32Sql("array_to_string(arr[i+1:i+8], ' ')", 9)} AS h2
       |  FROM t, unnest(range(0, len(arr) - 7)) AS u(i)
       |  WHERE len(arr) >= 8),
       |rep AS (SELECT h1, h2 FROM g GROUP BY 1, 2
       |  HAVING count(*) >= 2),
       |f AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (h1, h2)),
       |isl AS (SELECT doc_id, pos, pos - row_number() OVER
       |    (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM f),
       |sp AS (SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + 8 AS span_end
       |  FROM isl GROUP BY doc_id, grp)""".stripMargin

  /** DuckDB replay of TextAnalysis.unigramLmTrain — the WHOLE training
    * loop, program-generated per EM round so the two sides cannot
    * drift: recursive CTEs walk the α/β recursions carrying a 4-slot
    * window of previous values, the 4 l-terms sum in the same
    * left-associated order as the Scala chain, expected counts fold
    * over (word, i, l)-sorted lists with an explicit 0.0 seed
    * (list_prepend) exactly like Spark's aggregate(…, 0.0, +), and
    * the normalizer folds piece-sorted. Bit-exact, not just
    * rounded-digit-exact. */
  def unigramLmOracleSql(emIters: Int): String = {
    // the 4-term α/β step at new index n, joined piece probs c1..c4:
    // (((t1 + t2) + t3) + t4), t_l = coalesce(c_l.p, 0) * win[5-l]
    val step = "(((coalesce(c1.p, 0) * r.win[4] + " +
      "coalesce(c2.p, 0) * r.win[3]) + " +
      "coalesce(c3.p, 0) * r.win[2]) + " +
      "coalesce(c4.p, 0) * r.win[1])"
    def recCte(k: Int, name: String, iExpr: Int => String): String = {
      val joins = (1 to 4).map { l =>
        s"  LEFT JOIN cand$k c$l ON c$l.word = r.word AND c$l.l = $l " +
          s"AND c$l.i = ${iExpr(l)}"
      }.mkString("\n")
      s"""$name$k(word, len, j, v, win) AS (
         |  SELECT word, len, 0, CAST(1.0 AS DOUBLE),
         |    CAST([0.0, 0.0, 0.0, 1.0] AS DOUBLE[])
         |  FROM words
         |  UNION ALL
         |  SELECT r.word, r.len, r.j + 1, $step,
         |    [r.win[2], r.win[3], r.win[4], $step]
         |  FROM $name$k r
         |$joins
         |  WHERE r.j < r.len)""".stripMargin
    }
    val iters = (1 to emIters).map { k =>
      val prev = if (k == 1) "probs0" else s"probs${k - 1}"
      // α at new index n = r.j + 1: piece starts at i = n - l;
      // β (reversed, γ[t]): piece starts at i = len - n, all four l
      val alpha = recCte(k, "alpha", l => s"r.j + 1 - $l")
      val beta = recCte(k, "beta", _ => "r.len - r.j - 1")
      s"""cand$k AS (SELECT o.word, o.freq, o.len, o.i, o.l, o.piece, p.p
         |  FROM occ o JOIN $prev p USING (piece)),
         |$alpha,
         |$beta,
         |ev$k AS (SELECT c.piece, c.word, c.i, c.l,
         |    c.freq * ai.v * c.p * bj.v / al.v AS contrib
         |  FROM cand$k c
         |  JOIN alpha$k ai ON ai.word = c.word AND ai.j = c.i
         |  JOIN alpha$k al ON al.word = c.word AND al.j = c.len
         |  JOIN beta$k bj ON bj.word = c.word
         |    AND bj.j = c.len - (c.i + c.l)),
         |ec$k AS (SELECT piece, list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE), list_transform(
         |      list(struct_pack(w := word, i := i, l := l, c := contrib)
         |        ORDER BY word, i, l), x -> x.c)),
         |    (a, b) -> a + b) AS ec
         |  FROM ev$k GROUP BY piece),
         |tot$k AS (SELECT list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE), list_transform(
         |      list(struct_pack(p := piece, e := ec) ORDER BY piece),
         |      x -> x.e)),
         |    (a, b) -> a + b) AS t FROM ec$k),
         |probs$k AS (SELECT piece, ec / t AS p FROM ec$k, tot$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE w0 AS (SELECT
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |words AS (SELECT word, count(*) AS freq,
       |    CAST(length(word) AS INT) AS len
       |  FROM w0 GROUP BY 1),
       |occ AS (SELECT word, freq, len, CAST(u.i AS INT) AS i,
       |    CAST(v.l AS INT) AS l,
       |    substr(word, CAST(u.i AS INT) + 1, CAST(v.l AS INT)) AS piece
       |  FROM words, unnest(range(0, len)) AS u(i),
       |    unnest(range(1, 5)) AS v(l)
       |  WHERE u.i + v.l <= len),
       |pf AS (SELECT piece, sum(freq) AS pfreq FROM occ GROUP BY 1),
       |vocab AS (SELECT piece, pfreq FROM pf
       |  WHERE pfreq >= 2 OR length(piece) = 1),
       |tot0 AS (SELECT sum(pfreq) AS t FROM vocab),
       |probs0 AS (SELECT piece, CAST(pfreq AS DOUBLE) / t AS p
       |  FROM vocab, tot0),
       |$iters
       |SELECT CAST(row_number() OVER (ORDER BY p DESC, piece) AS BIGINT)
       |    AS rank,
       |  piece, round(p, 8) AS p
       |FROM probs$emIters ORDER BY p DESC, piece LIMIT 40""".stripMargin
  }

  /** DuckDB equivalent of Similarity.cosine (sequential fold order). */
  def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_aggregate(list_transform(generate_series(1, len($a)), i -> $x[i]::DOUBLE * $y[i]::DOUBLE), 'sum')"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** Shared shingle CTE (3-gram shingles of normalized text), DuckDB
    * equivalent of Dedup.shingles(n=3). */
  val shinglesCteSql: String =
    s"""docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
       |toks AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr FROM docs_norm),
       |sh AS (SELECT doc_id, unnest(CASE WHEN len(arr) >= 3
       |  THEN list_distinct(list_transform(generate_series(1, len(arr) - 2),
       |       i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
       |  ELSE [array_to_string(arr, ' ')] END) AS shingle FROM toks)""".stripMargin

  /** Shared similarity-graph CTE chain (follows [[shinglesCteSql]],
    * ends at `verts` + `od`) — the q110/q112 edge build: lang-blocked
    * bounded pairs sharing >= 1 shingle, symmetrized. */
  val graphCteSql: String =
    s"""prs AS (SELECT d1.doc_id AS id1, d2.doc_id AS id2
       |  FROM documents d1 JOIN documents d2 ON d1.lang = d2.lang
       |  AND d2.doc_id > d1.doc_id AND d2.doc_id <= d1.doc_id + 10),
       |e0 AS (SELECT DISTINCT p.id1, p.id2 FROM prs p
       |  JOIN sh a ON a.doc_id = p.id1
       |  JOIN sh b ON b.doc_id = p.id2 AND a.shingle = b.shingle),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM e0
       |  UNION ALL SELECT id2, id1 FROM e0),
       |verts AS (SELECT src AS id FROM edges
       |  UNION SELECT dst FROM edges),
       |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY src)""".stripMargin

  /** Prefixed, doc-filtered variant of [[shinglesCteSql]] (ends at
    * `<pfx>sh`) so one query can shingle two document subsets — q86
    * shingles the current half against the reference half. */
  def shinglesCteFor(pfx: String, where: String): String =
    s"""${pfx}d AS (SELECT doc_id, $normTextSql AS norm FROM documents
       |  WHERE $where),
       |${pfx}t AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr FROM ${pfx}d),
       |${pfx}sh AS (SELECT doc_id, unnest(CASE WHEN len(arr) >= 3
       |  THEN list_distinct(list_transform(generate_series(1, len(arr) - 2),
       |       i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
       |  ELSE [array_to_string(arr, ' ')] END) AS shingle FROM ${pfx}t)""".stripMargin

  /** Shared minhash-LSH candidate-pair CTE chain (ends at `pairs`);
    * reused by q31 and the q44 duplicate-cluster closure. Generated
    * from the SAME Scala constants Dedup uses. */
  /** Shared minhash-LSH bucket CTE chain (ends at `buckets(doc_id,
    * band, bucket)`); the q81 index probe replays it with a parity
    * split. */
  val lshBucketsCteSql: String = {
    val k = 8; val bands = 4; val r = k / bands
    val mins = (0 until k).map(i =>
      s"min((h * ${2 * i + 1} + ${101 * i + 17}) % ${GF.MinhashPrime}) AS mh$i")
      .mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r)
        .map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, md5($slice) AS bucket FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""$shinglesCteSql,
       |hashed AS (SELECT doc_id, ${hash32Sql("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
       |buckets AS (
       |$bandSelects)""".stripMargin
  }

  val lshPairsCteSql: String =
    s"""$lshBucketsCteSql,
       |pairs AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
       |  FROM buckets l JOIN buckets r
       |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)""".stripMargin

  /** Quality-signal CTE chain ending at `qsc(doc_id, n_tokens, …,
    * quality_score)` — the DuckDB replay of TextAnalysis.qualityScore,
    * shared by q37 and the q68 quantile gate. */
  lazy val qualityCtesSql: String = {
    val allStop = sqlStringList(
      TextAnalysis.StopwordsByLang.flatMap(_._2).distinct)
    s"""t AS (SELECT doc_id, text, length(text)::DOUBLE AS n_chars,
       |    ${wsTokensSql("text")} AS toks,
       |    ${wsTokensSql("lower(text)")} AS ltoks
       |  FROM documents),
       |qsig AS (SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  round(length(array_to_string(toks, ''))::DOUBLE /
       |    nullif(len(toks), 0)::DOUBLE, 6) AS mean_token_len,
       |  round((n_chars - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) /
       |    nullif(n_chars, 0.0), 6) AS punct_ratio,
       |  round((n_chars - length(regexp_replace(text, '[0-9]', '', 'g'))) /
       |    nullif(n_chars, 0.0), 6) AS digit_ratio,
       |  round((n_chars - length(regexp_replace(text, '[A-Z]', '', 'g'))) /
       |    nullif(n_chars, 0.0), 6) AS upper_ratio,
       |  round(len(list_filter(ltoks, w -> list_contains($allStop, w)))::DOUBLE /
       |    nullif(len(toks), 0)::DOUBLE, 6) AS stopword_ratio
       |  FROM t),
       |qsc AS (SELECT doc_id, n_tokens, mean_token_len, punct_ratio,
       |  digit_ratio, upper_ratio, stopword_ratio,
       |  round(greatest(0.0, least(1.0,
       |    0.4 * least(n_tokens::DOUBLE / 50.0, 1.0) +
       |    0.4 * least(stopword_ratio * 5.0, 1.0) +
       |    0.2 * (1.0 - least(punct_ratio * 4.0, 1.0)))), 6) AS quality_score
       |  FROM qsig)""".stripMargin
  }

  /** Shared SQ8 dequantization CTE chain (ends at `q(query_id, qv)` and
    * `c(cand_id, cv)`) — the DuckDB replay of Similarity.sq8Stats +
    * sq8Reconstruct, shared by q109 and the q124 rerank. */
  val sq8CtesSql: String =
    s"""dims AS (SELECT vec_id, unnest(embedding) AS v,
       |    unnest(generate_series(1, len(embedding))) AS d
       |  FROM embeddings),
       |st AS (SELECT d, min(CAST(v AS DOUBLE)) AS mn,
       |    max(CAST(v AS DOUBLE)) AS mx FROM dims GROUP BY d),
       |rec AS (SELECT vec_id, list(CASE WHEN mx - mn = 0 THEN mn
       |      ELSE greatest(least(round((CAST(v AS DOUBLE) - mn)
       |          / (mx - mn) * 255), 255.0e0), 0.0e0)
       |        * (mx - mn) / 255.0e0 + mn END ORDER BY d) AS cv
       |  FROM dims JOIN st USING (d) GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qv
       |  FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS cand_id, cv FROM rec)""".stripMargin

  /** DuckDB equivalent of Similarity.planeProjection for bit j. */
  def planeProjSql(j: Int): String =
    s"list_aggregate(list_transform(generate_series(1, len(embedding)), " +
      s"i -> embedding[i]::DOUBLE * (CASE WHEN ${hash32Sql(s"'${j}_' || CAST(i - 1 AS VARCHAR)")} % 2 = 0 " +
      s"THEN 1.0 ELSE -1.0 END)), 'sum')"

  def sqlStringList(xs: Seq[String]): String =
    xs.map(x => "'" + x + "'").mkString("[", ", ", "]")

  /** DuckDB replay of the full PQ pipeline (pqTrain + pqEncode +
    * pqSearch): per subspace, a hash-seeded Lloyd chain on the vector
    * slice, a re-estimated codebook, code assignment — then ADC
    * scoring as an ORDER BY s sum of per-subspace contributions (the
    * same sequential fold order as the Spark zip_with/aggregate).
    * Generated from the SAME m/k/iters/dims constants as the query.
    * With `coarse = true` the replay adds the IVF-PQ index gate: every
    * (query, candidate) pair must share the nearest label-derived 4-dp
    * coarse centroid — exactly the posting-list partitions a
    * pqSearchFromIndex probe reads. */
  def pqOracleSql(m: Int, k: Int, iters: Int, dims: Int,
      topK: Int, maxQ: Int, coarse: Boolean = false): String = {
    val sub = dims / m
    def dotSql(a: String, b: String): String =
      s"list_aggregate(list_transform(generate_series(1, len($a)), " +
        s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')"
    def centOf(src: String): String =
      s"""(SELECT cell, list(c ORDER BY d) AS centroid FROM (
         |    SELECT cell, d, round(avg(x), 4) AS c FROM (
         |      SELECT cell, unnest(sv)::DOUBLE AS x,
         |             unnest(generate_series(1, len(sv))) AS d FROM $src)
         |    GROUP BY cell, d) GROUP BY cell)""".stripMargin
    def assignOf(book: String, s: Int): String =
      s"""(SELECT vec_id, sv, cell FROM (
         |    SELECT t.vec_id, t.sv, b.cell,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY round(${cosineSql("t.sv", "b.centroid")}, 6)
         |          DESC NULLS LAST, b.cell) AS rn
         |    FROM sl$s t, $book b) WHERE rn = 1)""".stripMargin
    val perSub = (0 until m).map { s =>
      val lloyd = (1 to iters).map(i =>
        s"c${s}_$i AS ${centOf(s"a${s}_${i - 1}")},\n" +
          s"a${s}_$i AS ${assignOf(s"c${s}_$i", s)}").mkString(",\n")
      s"""sl$s AS (SELECT vec_id,
         |    embedding[${s * sub + 1}:${(s + 1) * sub}] AS sv
         |  FROM embeddings),
         |a${s}_0 AS (SELECT vec_id, sv,
         |    CAST(${hash32Sql("CAST(vec_id AS VARCHAR)")} % $k AS INT)
         |      AS cell FROM sl$s),
         |$lloyd,
         |bk$s AS ${centOf(s"a${s}_$iters")},
         |en$s AS ${assignOf(s"bk$s", s)},
         |ct$s AS (SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
         |    $s AS s, ${dotSql("q.sv", "b.centroid")} AS pdot,
         |    ${dotSql("b.centroid", "b.centroid")} AS cn2
         |  FROM sl$s q, en$s e, bk$s b
         |  WHERE e.cell = b.cell AND q.vec_id < $maxQ)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until m).map(s => s"SELECT * FROM ct$s")
      .mkString("\nUNION ALL\n")
    val coarseCtes = if (!coarse) "" else
      s""",
         |cdims AS (SELECT label AS cell, unnest(embedding)::DOUBLE AS x,
         |       unnest(generate_series(1, len(embedding))) AS d
         |  FROM embeddings),
         |ccd AS (SELECT cell, d, round(avg(x), 4) AS c
         |  FROM cdims GROUP BY cell, d),
         |ccent AS (SELECT cell, list(c ORDER BY d) AS centroid
         |  FROM ccd GROUP BY cell),
         |cassign AS (SELECT e.vec_id, c.cell,
         |    round(${cosineSql("e.embedding", "c.centroid")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN ccent c),
         |casg AS (SELECT vec_id, cell FROM (SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |  FROM cassign) WHERE rn = 1)""".stripMargin
    val coarseJoin = if (!coarse) "" else
      "\n  JOIN casg g1 ON g1.vec_id = a.query_id" +
        "\n  JOIN casg g2 ON g2.vec_id = a.cand_id AND g2.cell = g1.cell"
    s"""WITH $perSub$coarseCtes,
       |contribs AS (
       |$unions),
       |agg AS (SELECT query_id, cand_id,
       |    list_aggregate(list(pdot ORDER BY s), 'sum') AS adc,
       |    sqrt(list_aggregate(list(cn2 ORDER BY s), 'sum')) AS recn
       |  FROM contribs GROUP BY query_id, cand_id),
       |qn AS (SELECT vec_id AS query_id,
       |    sqrt(${dotSql("embedding", "embedding")}) AS qn
       |  FROM embeddings WHERE vec_id < $maxQ),
       |scored AS (SELECT a.query_id, a.cand_id,
       |    round(a.adc / NULLIF(q.qn * a.recn, 0), 6) AS sim_adc
       |  FROM agg a JOIN qn q USING (query_id)$coarseJoin
       |  WHERE a.query_id <> a.cand_id),
       |ranked AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim_adc DESC, cand_id)
       |      AS "rank" FROM scored)
       |SELECT query_id, cand_id, sim_adc, CAST("rank" AS INT) AS "rank"
       |FROM ranked WHERE "rank" <= $topK
       |ORDER BY query_id, "rank"""".stripMargin
  }

  /** DuckDB replay of Similarity.kmeansCells: same seed hash (portable
    * md5-prefix, mod k), same 4-dp centroid rounding, same 6-dp cosine
    * with lowest-cell tie-break — one CTE pair per Lloyd iteration,
    * generated from the SAME k/iters constants the query uses. */
  def kmeansOracleSql(k: Int, iters: Int): String = {
    val seed = s"asg0 AS (SELECT vec_id, embedding, " +
      s"CAST(${hash32Sql("CAST(vec_id AS VARCHAR)")} % $k AS INT) AS cell " +
      "FROM embeddings)"
    val steps = (1 to iters).map { i =>
      s"""cd$i AS (SELECT cell, d, round(avg(x), 4) AS c FROM (
         |    SELECT cell, unnest(embedding)::DOUBLE AS x,
         |           unnest(generate_series(1, len(embedding))) AS d
         |    FROM asg${i - 1}) GROUP BY cell, d),
         |cent$i AS (SELECT cell, list(c ORDER BY d) AS centroid
         |  FROM cd$i GROUP BY cell),
         |sc$i AS (SELECT e.vec_id, e.embedding, c.cell,
         |    round(${cosineSql("e.embedding", "c.centroid")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent$i c),
         |asg$i AS (SELECT vec_id, embedding, cell FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |    FROM sc$i) WHERE rn = 1)""".stripMargin
    }
    s"WITH $seed,\n${steps.mkString(",\n")}\n" +
      s"SELECT vec_id, CAST(cell AS INT) AS cell FROM asg$iters\n" +
      "ORDER BY vec_id"
  }

  val scrapeGridSql: String =
    s"""grid AS (
       |  SELECT 'hoja' AS sheet, 1 AS row, CAST(event_id + 1 AS INT) AS col,
       |         CASE WHEN event_id = 0 THEN 'indice_tiempo'
       |              ELSE 's' || CAST(event_id + 1 AS VARCHAR) END AS value
       |  FROM events WHERE event_id < 6
       |  UNION ALL
       |  SELECT 'hoja', CAST(event_id % 200 + 2 AS INT) AS row,
       |         CAST(event_id // 200 + 1 AS INT) AS col,
       |         CASE WHEN event_id // 200 + 1 = 1 THEN
       |             '20' || lpad(CAST((event_id % 200) // 12 AS VARCHAR), 2, '0') ||
       |             '-' || lpad(CAST((event_id % 200) % 12 + 1 AS VARCHAR), 2, '0')
       |           WHEN event_id % 13 = 0 THEN
       |             $missingTokensSqlList[CAST(event_id % 19 + 1 AS INT)]
       |           ELSE CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) END AS value
       |  FROM events WHERE event_id < 1000
       |)""".stripMargin

  val scrapeLongSql: String =
    s"""WITH $scrapeGridSql,
       |tm AS (
       |  SELECT row, CAST(value || '-01' AS DATE) AS indice_tiempo
       |  FROM grid WHERE sheet = 'hoja' AND col = 1 AND row >= 2
       |    AND regexp_matches(trim(value), '^\\d{4}-\\d{2}$$')
       |),
       |vals AS (
       |  SELECT row, 's' || CAST(col AS VARCHAR) AS serie_id,
       |         CASE WHEN value IS NULL OR list_contains($missingTokensSqlList, trim(value)) THEN NULL
       |              ELSE TRY_CAST(trim(value) AS DOUBLE) END AS valor
       |  FROM grid WHERE sheet = 'hoja' AND col >= 2 AND row >= 2
       |)
       |SELECT serie_id, indice_tiempo, valor
       |FROM tm JOIN vals USING (row)""".stripMargin
}
