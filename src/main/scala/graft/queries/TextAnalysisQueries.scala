package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.operators.{Profiling, Similarity, TextAnalysis}
import OracleSql.{hash32Sql, normTextSql, wsTokensSql, unigramLmOracleSql,
  cosineSql, shinglesCteSql, shinglesCteFor, qualityCtesSql, sqlStringList}

/** Queries exercising [[graft.operators.TextAnalysis]]. */
private[graft] object TextAnalysisQueries extends Queries {

  /** Language-ID: stopword scores + guess vs labeled lang. */
  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val scored = TextAnalysis.withLangScores(
      t.documents.select(col("doc_id"), col("lang").as("lang_true"),
        col("text")), "text")
    scored.withColumn("lang_guess", TextAnalysis.langId(col("text")))
      .drop("text")
      .orderBy(col("doc_id"))
  }
  register(Q("q36_langid", qLangId, {
      val langs = TextAnalysis.StopwordsByLang.sortBy(_._1)
      val scoreCols = TextAnalysis.StopwordsByLang.map { case (l, words) =>
        s"len(list_filter(toks, w -> list_contains(${sqlStringList(words)}, w))) AS score_$l"
      }.mkString(",\n  ")
      val mx = langs.map(l => s"score_${l._1}").mkString("greatest(", ", ", ")")
      val guess = langs.map { case (l, _) =>
        s"WHEN score_$l = $mx THEN '$l'"
      }.mkString("\n    ")
      s"""WITH t AS (SELECT doc_id, lang AS lang_true,
         |    ${wsTokensSql("lower(text)")} AS toks FROM documents),
         |sc AS (SELECT doc_id, lang_true,
         |  $scoreCols
         |  FROM t)
         |SELECT doc_id, lang_true, score_en, score_es, score_fr, score_de, score_zh,
         |  CASE WHEN $mx = 0 THEN 'und'
         |    $guess
         |  END AS lang_guess
         |FROM sc ORDER BY doc_id""".stripMargin
    }))

  /** Quality scoring: signals + composite score per document. */
  private def qQuality(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.qualityScore(t.documents.select(col("doc_id"), col("text")),
        "text")
      .drop("text")
      .orderBy(col("doc_id"))
  }
  register(Q("q37_quality", qQuality,
      s"WITH $qualityCtesSql\nSELECT * FROM qsc ORDER BY doc_id"))

  /** Token counting: whitespace + BPE-ish subword counts. */
  private def qTokenCounts(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.tokenCounts(t.documents.select(col("doc_id"), col("text")),
        "text")
      .drop("text")
      .orderBy(col("doc_id"))
  }
  register(Q("q38_token_counts", qTokenCounts,
      s"""SELECT doc_id,
         |  len(${wsTokensSql("text")}) AS ws_tokens,
         |  len(regexp_extract_all(text, '${GF.BpeTokenRegex}')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin))

  /** Document fingerprinting: whole-doc hash + winnowing count. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fp = TextAnalysis.winnowingFingerprints(t.documents, "text", "doc_id")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fingerprint")).as("n_winnow"))
    t.documents
      .select(col("doc_id"),
        TextAnalysis.docFingerprint(col("text")).as("doc_fp"))
      .join(fp, Seq("doc_id"), "left")
      .withColumn("n_winnow", coalesce(col("n_winnow"), lit(0L)))
      .orderBy(col("doc_id"))
  }
  register(Q("q39_fingerprint", qFingerprint,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |t AS (SELECT doc_id,
         |    unnest(${wsTokensSql("norm")}) AS tok,
         |    unnest(generate_series(1, len(${wsTokensSql("norm")}))) AS pos1
         |  FROM docs_norm),
         |sh AS (SELECT doc_id, pos1,
         |    count(*) OVER (PARTITION BY doc_id) AS n_toks,
         |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
         |      || ' ' || lead(tok, 3) OVER w AS shingle
         |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos1)),
         |h AS (SELECT doc_id, pos1, n_toks, ${hash32Sql("shingle")} AS h
         |  FROM sh WHERE pos1 - 1 <= n_toks - 4),
         |win AS (SELECT doc_id, pos1, n_toks, min(h) OVER
         |    (PARTITION BY doc_id ORDER BY pos1
         |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
         |  FROM h),
         |fps AS (SELECT DISTINCT doc_id, fingerprint FROM win
         |  WHERE pos1 - 1 <= n_toks - 7),
         |cnt AS (SELECT doc_id, count(*) AS n_winnow FROM fps GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(('0x' || substr(md5(md5(d.norm)), 1, 8)) AS BIGINT) AS doc_fp,
         |  coalesce(cnt.n_winnow, 0) AS n_winnow
         |FROM docs_norm d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
         |ORDER BY d.doc_id""".stripMargin))

  /** Repetition quality signals: duplicate 3-gram ratio + top-word
    * share (TextAnalysis.repetitionSignals). */
  private def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.repetitionSignals(t.documents, "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  register(Q("q43_repetition", qRepetition,
      s"""WITH $shinglesCteSql,
         |gram_raw AS (
         |  SELECT toks.doc_id,
         |    CASE WHEN len(arr) >= 3 THEN len(arr) - 2 ELSE 1 END AS n_grams
         |  FROM toks),
         |gram_distinct AS (
         |  SELECT doc_id, count(DISTINCT shingle) AS n_distinct_grams
         |  FROM sh GROUP BY doc_id),
         |grams AS (
         |  SELECT r.doc_id, r.n_grams, d.n_distinct_grams,
         |    round(1.0 - CAST(d.n_distinct_grams AS DOUBLE) / r.n_grams, 6)
         |      AS dup_gram_ratio
         |  FROM gram_raw r JOIN gram_distinct d ON r.doc_id = d.doc_id),
         |words AS (
         |  SELECT doc_id, unnest(arr) AS tok FROM toks),
         |wc AS (SELECT doc_id, tok, count(*) AS c FROM words
         |  GROUP BY doc_id, tok),
         |tw AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_word_count,
         |    CAST(sum(c) AS BIGINT) AS n_words
         |  FROM wc GROUP BY doc_id)
         |SELECT g.doc_id, CAST(g.n_grams AS BIGINT) AS n_grams,
         |  g.dup_gram_ratio, tw.top_word_count, tw.n_words,
         |  round(CAST(tw.top_word_count AS DOUBLE) / tw.n_words, 6)
         |    AS top_word_ratio
         |FROM grams g JOIN tw ON g.doc_id = tw.doc_id
         |ORDER BY g.doc_id""".stripMargin))

  /** Corpus TF-IDF top terms per language
    * (TextAnalysis.tfidfTopTerms). */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.tfidfTopTerms(t.documents, "text", "lang", "doc_id", k = 5)
      .orderBy(col("lang"), col("rank"))
  }
  register(Q("q46_tfidf", qTfidf,
      s"""WITH words AS (
         |  SELECT lang, doc_id,
         |    unnest(${wsTokensSql(normTextSql)}) AS tok
         |  FROM documents),
         |nd AS (SELECT lang, count(DISTINCT doc_id) AS n_docs
         |  FROM documents GROUP BY lang),
         |agg AS (SELECT lang, tok, count(*) AS tf,
         |    count(DISTINCT doc_id) AS df
         |  FROM words GROUP BY lang, tok),
         |scored AS (SELECT a.lang, a.tok, a.tf, a.df,
         |    round(a.tf * ln(CAST(n.n_docs AS DOUBLE) / a.df), 6) AS tfidf
         |  FROM agg a JOIN nd n ON a.lang = n.lang),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY lang ORDER BY tfidf DESC, tok) AS "rank"
         |  FROM scored)
         |SELECT lang, tok, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, tfidf, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY lang, "rank"""".stripMargin))

  /** PII scrubbing: per-doc counts of redacted entities + a hash of the
    * scrubbed text (TextAnalysis.redactPii). */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // salt the synthetic corpus with PII-bearing suffixes so the
    // redaction has something to bite on, deterministically per doc
    val salted = t.documents.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"),
            lit("@example.org now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" see https://example.org/d/"), col("doc_id")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" from 10.0.0.1"))
          .otherwise(lit(""))).as("text"))
    salted.select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.EmailPattern), lit(0))).as("n_email"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.UrlPattern), lit(0))).as("n_url"),
        md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
      .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
        col("n_url").cast("long").as("n_url"), col("redacted_md5"))
      .orderBy(col("doc_id"))
  }
  register(Q("q47_pii_redact", qPiiRedact,
      s"""WITH salted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.org now' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/d/' ||
         |      CAST(doc_id AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.1' ELSE '' END
         |    AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.EmailPattern}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.UrlPattern}')) AS BIGINT) AS n_url,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.UrlPattern}', '<URL>', 'g'),
         |    '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Pattern}', '<IP>', 'g')) AS redacted_md5
         |FROM salted ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination: shingle-overlap ratio of each corpus
    * doc against the benchmark set (docs 0-19), flagged at 0.5
    * (TextAnalysis.decontaminationRatios). */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val benchmark = t.documents.filter(col("doc_id") < 20)
    val corpus = t.documents.filter(col("doc_id") >= 20)
    TextAnalysis.decontaminationRatios(corpus, benchmark, "text", "doc_id")
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        col("overlap_ratio"), col("contaminated"))
      .orderBy(col("doc_id"))
  }
  register(Q("q48_decontaminate", qDecontaminate,
      s"""WITH $shinglesCteSql,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |corpus AS (SELECT DISTINCT doc_id, shingle FROM sh
         |  WHERE doc_id >= 20),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM corpus
         |  GROUP BY doc_id),
         |hits AS (SELECT c.doc_id, count(*) AS n_hit
         |  FROM corpus c JOIN bench b USING (shingle) GROUP BY c.doc_id)
         |SELECT s.doc_id, CAST(s.n_sh AS BIGINT) AS n_sh,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_sh, 6)
         |    AS overlap_ratio,
         |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_sh, 6) >= 0.5
         |    AS contaminated
         |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
         |ORDER BY s.doc_id""".stripMargin))

  /** Corpus composition stats per language: count, mean and exact
    * p50/p90/p99 of document length (TextAnalysis.corpusStats). */
  private def qCorpusStats(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.corpusStats(t.documents, "lang", "n_chars")
      .orderBy(col("lang"))
  }
  register(Q("q51_corpus_stats", qCorpusStats,
      s"""SELECT lang, count(*) AS n_docs,
         |  round(avg(n_chars), 4) AS mean_len,
         |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
         |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
         |  round(quantile_cont(n_chars, 0.99), 4) AS p99
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Per-language quantile quality gate
    * (TextAnalysis.qualityQuantileGate): each language keeps docs above
    * its own P75 quality score — a relative curation bar. */
  private def qQualityGate(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val scored = TextAnalysis.qualityScore(
      t.documents.select(col("doc_id"), col("lang"), col("text")), "text")
    TextAnalysis.qualityQuantileGate(scored, "lang", "quality_score", 0.75)
      .groupBy(col("lang"), col("threshold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_ratio",
        round(col("n_kept").cast("double") / col("n_docs"), 6))
      .orderBy(col("lang"))
  }
  // thresholds are quantile_cont over 6-dp scores, rounded to 6 dp on
  // BOTH sides before the >= comparison (same interpolation formula
  // as Spark's percentile, see q51)
  register(Q("q68_quality_gate", qQualityGate,
      s"""WITH $qualityCtesSql,
         |j AS (SELECT d.lang, q.quality_score
         |  FROM qsc q JOIN documents d USING (doc_id)),
         |th AS (SELECT lang,
         |    round(quantile_cont(quality_score, 0.75), 6) AS threshold
         |  FROM j GROUP BY lang)
         |SELECT j.lang, th.threshold, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN j.quality_score >= th.threshold
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(sum(CASE WHEN j.quality_score >= th.threshold
         |    THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS kept_ratio
         |FROM j JOIN th USING (lang)
         |GROUP BY j.lang, th.threshold
         |ORDER BY j.lang""".stripMargin))

  /** Corpus-trained unigram LM scoring (TextAnalysis.unigramLogProb):
    * mean token log-probability per document — the dependency-free form
    * of CCNet-style LM quality filtering. */
  private def qUnigramLm(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.unigramLogProb(t.documents, "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  // per-doc fold order pinned by list(... ORDER BY pos) so the FP sum
  // matches Spark's sequential aggregate over the position-sorted array
  register(Q("q71_unigram_lm", qUnigramLm,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm
         |  FROM documents),
         |arrs AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr
         |  FROM docs_norm),
         |toks AS (SELECT doc_id, unnest(arr) AS tok,
         |    unnest(generate_series(1, len(arr))) AS pos FROM arrs),
         |lm AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM lm),
         |perdoc AS (SELECT doc_id, count(*) AS n,
         |    list_aggregate(list(ln(CAST(cnt AS DOUBLE)) ORDER BY pos),
         |      'sum') AS s
         |  FROM toks JOIN lm USING (tok) GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS INT) AS n_tokens,
         |  round((s - CAST(n AS DOUBLE) * ln(total)) / CAST(n AS DOUBLE), 6)
         |    AS logprob
         |FROM perdoc, tot ORDER BY doc_id""".stripMargin))

  /** Exact vocabulary heavy hitters (TextAnalysis.topTokens): top-10
    * normalized tokens per language; the bounded-memory Misra-Gries
    * companion (Sketches.heavyHitters) is spec-covered since its
    * residual counts are merge-order-dependent. */
  private def qTopTokens(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.topTokens(t.documents, "text", "lang", k = 10)
      .orderBy(col("stratum"), col("rank"))
  }
  register(Q("q80_top_tokens", qTopTokens,
      s"""WITH docs_norm AS (SELECT lang, $normTextSql AS norm
         |  FROM documents),
         |toks AS (SELECT lang AS stratum, unnest(${wsTokensSql("norm")})
         |    AS tok FROM docs_norm),
         |counts AS (SELECT stratum, tok, count(*) AS n FROM toks
         |  GROUP BY 1, 2),
         |ranked AS (SELECT stratum, tok, n, row_number() OVER (
         |    PARTITION BY stratum ORDER BY n DESC, tok) AS rank
         |  FROM counts)
         |SELECT stratum, tok, n, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 10 ORDER BY stratum, rank""".stripMargin))

  /** Character-distribution entropy per doc (TextAnalysis.charEntropy,
    * the native codegen'd CharEntropyExpr) — order-independent fold,
    * 6-dp round. */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.documents.select(col("doc_id"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }
  register(Q("q83_char_entropy", qCharEntropy,
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |ent AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n,
        |    sum(k * ln(k)) AS s FROM cnt GROUP BY 1)
        |SELECT d.doc_id,
        |  round(coalesce(ln(e.n) - e.s / e.n, 0.0), 6) AS entropy,
        |  d.n_chars
        |FROM documents d LEFT JOIN ent e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin))

  /** Per-doc 3-gram novelty of the odd half vs the even half's shingle
    * vocabulary (TextAnalysis.ngramNovelty). */
  private def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.ngramNovelty(
        t.documents.filter(col("doc_id") % 2 === 1),
        t.documents.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", n = 3)
      .orderBy(col("doc_id"))
  }
  register(Q("q86_ngram_novelty", qNgramNovelty,
      s"""WITH ${shinglesCteFor("c", "doc_id % 2 = 1")},
         |${shinglesCteFor("r", "doc_id % 2 = 0")},
         |cdist AS (SELECT DISTINCT doc_id, shingle FROM csh),
         |vocab AS (SELECT DISTINCT shingle FROM rsh)
         |SELECT c.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN v.shingle IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN v.shingle IS NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty
         |FROM cdist c LEFT JOIN vocab v ON c.shingle = v.shingle
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin))

  /** PMI collocations (TextAnalysis.pmiCollocations): top adjacent
    * token pairs that co-occur beyond chance. */
  private def qPmi(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.pmiCollocations(t.documents, "text", minCount = 5, k = 50)
  }
  register(Q("q90_pmi", qPmi,
      s"""WITH dn AS (SELECT $normTextSql AS norm FROM documents),
         |tk AS (SELECT ${wsTokensSql("norm")} AS arr FROM dn),
         |uni AS (SELECT unnest(arr) AS tok FROM tk),
         |uc AS (SELECT tok, count(*) AS c_tok FROM uni GROUP BY 1),
         |nu AS (SELECT sum(c_tok) AS n_uni FROM uc),
         |bg AS (SELECT unnest(CASE WHEN len(arr) >= 2
         |    THEN list_transform(generate_series(1, len(arr) - 1),
         |         i -> arr[i] || ' ' || arr[i+1])
         |    ELSE CAST([] AS VARCHAR[]) END) AS bigram FROM tk),
         |bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY 1),
         |nb AS (SELECT sum(c_ab) AS n_bi FROM bc),
         |cand AS (SELECT bigram, c_ab,
         |    string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2
         |  FROM bc WHERE c_ab >= 5)
         |SELECT c.bigram, c.c_ab, a.c_tok AS c_a, b.c_tok AS c_b,
         |  round(ln((c.c_ab::DOUBLE / n_bi) /
         |    ((a.c_tok::DOUBLE / n_uni) * (b.c_tok::DOUBLE / n_uni))), 6)
         |    AS pmi
         |FROM cand c
         |CROSS JOIN nu CROSS JOIN nb
         |JOIN uc a ON c.w1 = a.tok
         |JOIN uc b ON c.w2 = b.tok
         |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin))

  /** Item-side benchmark leakage (TextAnalysis.benchmarkLeakage):
    * which benchmark docs are compromised, by how many corpus docs. */
  private def qLeakage(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.benchmarkLeakage(
        t.documents.filter(col("doc_id") >= 20),
        t.documents.filter(col("doc_id") < 20),
        "text", "doc_id", n = 3, threshold = 0.5, maxDocFreq = 100)
      .orderBy(col("bench_id"))
  }
  register(Q("q98_bench_leakage", qLeakage,
      s"""WITH $shinglesCteSql,
         |corpus AS (SELECT DISTINCT doc_id, shingle FROM sh
         |  WHERE doc_id >= 20),
         |freq AS (SELECT shingle, count(*) AS df FROM corpus GROUP BY 1),
         |rare AS (SELECT shingle FROM freq WHERE df <= 100),
         |cr AS (SELECT c.doc_id AS corpus_id, c.shingle
         |  FROM corpus c JOIN rare USING (shingle)),
         |bench AS (SELECT DISTINCT doc_id AS bench_id, shingle FROM sh
         |  WHERE doc_id < 20),
         |bs AS (SELECT bench_id, count(*) AS n_sh FROM bench GROUP BY 1),
         |inter AS (SELECT b.bench_id, c.corpus_id, count(*) AS n_int
         |  FROM bench b JOIN cr c USING (shingle) GROUP BY 1, 2),
         |per AS (SELECT i.bench_id,
         |    round(i.n_int::DOUBLE / bs.n_sh, 6) AS containment
         |  FROM inter i JOIN bs USING (bench_id)),
         |agg AS (SELECT bench_id,
         |    CAST(sum(CASE WHEN containment >= 0.5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_leaky_docs,
         |    max(containment) AS max_containment
         |  FROM per GROUP BY 1)
         |SELECT bs.bench_id, CAST(bs.n_sh AS BIGINT) AS n_sh,
         |  coalesce(n_leaky_docs, 0) AS n_leaky_docs,
         |  coalesce(max_containment, 0.0) AS max_containment
         |FROM bs LEFT JOIN agg USING (bench_id)
         |ORDER BY bs.bench_id""".stripMargin))

  /** Corpus-trained BPE token counts (TextAnalysis.bpeTokenCounts):
    * BpeMerges rounds of iterative pair-count aggregation learn merge
    * ranks from the corpus itself; per-doc counts under the learned
    * tokenizer. The oracle replays the ENTIRE training loop in
    * generated per-iteration SQL — any drift in pair counting, the
    * (count desc, pair asc) tie-break, or greedy merge application
    * breaks the hash. */
  private def qBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.bpeTokenCounts(
        t.documents.select(col("doc_id"), col("text")), "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  // full replay of the BPE training loop: one generated (pair-count,
  // argmax, merge-apply) CTE triple per round, TextAnalysis.BpeMerges
  // rounds. replace() substitutes left-to-right non-overlapping in
  // both engines, which is exactly greedy BPE merge semantics.
  register(Q("q103_bpe_tokens", qBpeTokens, {
      val iters = (1 to TextAnalysis.BpeMerges).map { i =>
        val prev = s"w${i - 1}"
        s"""s$i AS (SELECT seg, freq,
           |    unnest(generate_series(1,
           |      len(string_split(seg, ' ')) - 1)) AS i
           |  FROM $prev),
           |p$i AS (SELECT string_split(seg, ' ')[i] || ' ' ||
           |    string_split(seg, ' ')[i + 1] AS pair, sum(freq) AS c
           |  FROM s$i GROUP BY 1),
           |m$i AS (SELECT pair FROM p$i ORDER BY c DESC, pair LIMIT 1),
           |w$i AS (SELECT w.word, w.freq,
           |    replace(w.seg, m.pair, replace(m.pair, '> <', '')) AS seg
           |  FROM $prev w, m$i m)""".stripMargin
      }.mkString(",\n")
      s"""WITH docw AS (SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |  FROM documents),
         |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    array_to_string(list_transform(regexp_extract_all(word, '.'),
         |      x -> '<' || x || '>'), ' ') AS seg
         |  FROM docw GROUP BY word),
         |$iters
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(string_split(w.seg, ' '))) AS BIGINT)
         |    AS n_bpe_tokens
         |FROM docw d JOIN w${TextAnalysis.BpeMerges} w USING (word)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    }))

  /** BM25 top-k retrieval for a fixed query-term bag
    * (TextAnalysis.bm25TopK) — the corpus-slice retrieval primitive. */
  private def qBm25(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.bm25TopK(t.documents, "text", "doc_id",
      Seq("spark", "window", "join"), k = 10)
  }
  // Constants are written in e-notation so DuckDB parses them as
  // DOUBLE (bare decimals parse as DECIMAL, whose exact arithmetic
  // diverges from the JVM's IEEE-754 path before the 6-dp round).
  register(Q("q106_bm25", qBm25,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |toks AS (SELECT doc_id, unnest(${wsTokensSql("norm")}) AS tok
         |  FROM docs_norm),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |q AS (SELECT doc_id, tok FROM toks
         |  WHERE tok IN ('spark', 'window', 'join')),
         |dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM q GROUP BY tok),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM q GROUP BY doc_id, tok),
         |sc AS (SELECT t.doc_id, t.tok,
         |    ln(1.0e0 + (c.n_docs - d.df + 5e-1) / (d.df + 5e-1)) *
         |    (t.tf * (1.2e0 + 1.0e0) / (t.tf + 1.2e0 * ((1.0e0 - 7.5e-1)
         |      + 7.5e-1 * CAST(l.dl AS DOUBLE) * c.n_docs / c.sum_dl)))
         |      AS s
         |  FROM tf t JOIN dfq d USING (tok) JOIN dl l USING (doc_id),
         |    corpus c)
         |SELECT doc_id,
         |  round(list_aggregate(list(s ORDER BY tok), 'sum'), 6) AS bm25,
         |  CAST(count(*) AS INT) AS n_terms_hit
         |FROM sc GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin))

  /** Interpolated bigram LM scores (TextAnalysis.bigramLogProb) — the
    * transition-aware upgrade of q71's unigram quality signal. */
  private def qBigramLm(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.bigramLogProb(t.documents, "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  register(Q("q107_bigram_lm", qBigramLm,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |arrs AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr
         |  FROM docs_norm),
         |toks AS (SELECT doc_id, unnest(arr) AS tok,
         |    unnest(generate_series(1, len(arr))) AS pos FROM arrs),
         |bi AS (SELECT * FROM (SELECT doc_id, pos, tok,
         |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM toks) WHERE prev IS NOT NULL),
         |c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
         |  FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM c1),
         |c2 AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c2
         |  FROM bi GROUP BY prev, tok),
         |lp AS (SELECT b.doc_id, b.pos,
         |    ln(7e-1 * c2.c2 / p.c1 + (1.0e0 - 7e-1) * c1.c1 / t.total)
         |      AS lp
         |  FROM bi b
         |  JOIN c2 ON c2.prev = b.prev AND c2.tok = b.tok
         |  JOIN c1 p ON p.tok = b.prev
         |  JOIN c1 ON c1.tok = b.tok, tot t),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    round(list_aggregate(list(lp ORDER BY pos), 'sum')
         |      / count(*), 6) AS logprob
         |  FROM lp GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.logprob
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin))

  /** Repeated-shingle boilerplate coverage per document
    * (TextAnalysis.boilerplateSpans). */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.boilerplateSpans(t.documents, "text", "doc_id",
      n = 3, minDf = 3)
      .orderBy(col("doc_id"))
  }
  register(Q("q108_boilerplate", qBoilerplate,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |arrs AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr
         |  FROM docs_norm),
         |st AS (SELECT doc_id,
         |    unnest(generate_series(1, greatest(len(arr) - 2, 0))) AS i,
         |    arr FROM arrs),
         |sh AS (SELECT doc_id, i,
         |    arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
         |  FROM st),
         |bo AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(DISTINCT doc_id) >= 3),
         |cov AS (SELECT DISTINCT s.doc_id, s.i + o.o AS p
         |  FROM sh s JOIN bo USING (shingle)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS o) o),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
         |  FROM cov GROUP BY doc_id)
         |SELECT a.doc_id, CAST(len(a.arr) AS BIGINT) AS n_tokens,
         |  coalesce(nb.n_boiler, 0) AS n_boiler,
         |  round(coalesce(nb.n_boiler, 0) / CAST(len(a.arr) AS BIGINT), 6)
         |    AS boiler_ratio
         |FROM arrs a LEFT JOIN nb USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin))

  /** Per-language bigram-LM quality gate: q107's transition-aware
    * score composed with the exact-percentile keep gate
    * (TextAnalysis.qualityQuantileGate, q = 0.25) — drop the
    * lowest-fluency quartile per language. */
  private def qBigramGate(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val scored = TextAnalysis.bigramLogProb(t.documents, "text", "doc_id")
      .filter(col("n_bigrams") > 0)
      .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
    TextAnalysis.qualityQuantileGate(scored, "lang", "logprob", 0.25)
      .select(col("lang"), col("doc_id"), col("logprob"),
        col("threshold"), col("kept"))
      .orderBy(col("lang"), col("doc_id"))
  }
  // q107's LM replayed, then the exact-percentile keep gate per lang
  register(Q("q120_bigram_gate", qBigramGate,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |arrs AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr
         |  FROM docs_norm),
         |toks AS (SELECT doc_id, unnest(arr) AS tok,
         |    unnest(generate_series(1, len(arr))) AS pos FROM arrs),
         |bi AS (SELECT * FROM (SELECT doc_id, pos, tok,
         |    lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM toks) WHERE prev IS NOT NULL),
         |c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
         |  FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM c1),
         |c2 AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c2
         |  FROM bi GROUP BY prev, tok),
         |lp AS (SELECT b.doc_id, b.pos,
         |    ln(7e-1 * c2.c2 / p.c1 + (1.0e0 - 7e-1) * c1.c1 / t.total)
         |      AS lp
         |  FROM bi b
         |  JOIN c2 ON c2.prev = b.prev AND c2.tok = b.tok
         |  JOIN c1 p ON p.tok = b.prev
         |  JOIN c1 ON c1.tok = b.tok, tot t),
         |agg AS (SELECT doc_id,
         |    round(list_aggregate(list(lp ORDER BY pos), 'sum')
         |      / count(*), 6) AS logprob
         |  FROM lp GROUP BY doc_id),
         |sc AS (SELECT d.lang, a.doc_id, a.logprob
         |  FROM agg a JOIN documents d USING (doc_id)),
         |th AS (SELECT lang, round(quantile_cont(logprob, 0.25), 6)
         |    AS threshold FROM sc GROUP BY lang)
         |SELECT sc.lang, sc.doc_id, sc.logprob, th.threshold,
         |  sc.logprob >= th.threshold AS kept
         |FROM sc JOIN th USING (lang)
         |ORDER BY sc.lang, sc.doc_id""".stripMargin))

  /** DSIR-style importance weights against the English-docs target LM
    * (TextAnalysis.importanceWeights) — domain-matched data selection
    * without a classifier. */
  private def qDsir(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.importanceWeights(t.documents, "text", "doc_id",
        col("lang") === "en")
      .orderBy(col("doc_id"))
  }
  // add-half smoothed target/corpus unigram LMs, position-sorted fold
  register(Q("q121_dsir", qDsir,
      s"""WITH docs_norm AS (SELECT doc_id, lang, $normTextSql AS norm
         |  FROM documents),
         |arrs AS (SELECT doc_id, lang, ${wsTokensSql("norm")} AS arr
         |  FROM docs_norm),
         |toks AS (SELECT doc_id, lang = 'en' AS tgt, unnest(arr) AS tok,
         |    unnest(generate_series(1, len(arr))) AS pos FROM arrs),
         |cc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_c
         |  FROM toks GROUP BY tok),
         |ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_t
         |  FROM toks WHERE tgt GROUP BY tok),
         |tot AS (SELECT CAST(sum(c_c) AS BIGINT) AS t_c,
         |    CAST(count(*) AS BIGINT) AS vocab FROM cc),
         |tt AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_t FROM ct),
         |lp AS (SELECT k.doc_id, k.pos,
         |    ln((coalesce(ct.c_t, 0) + 5e-1) / (tt.t_t + 5e-1 * tot.vocab))
         |    - ln((cc.c_c + 5e-1) / (tot.t_c + 5e-1 * tot.vocab)) AS lp
         |  FROM toks k JOIN cc USING (tok) LEFT JOIN ct USING (tok),
         |    tot, tt)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
         |  round(list_aggregate(list(lp ORDER BY pos), 'sum') / count(*), 6)
         |    AS log_ratio
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Hybrid retrieval via Reciprocal Rank Fusion
    * (TextAnalysis.rrfFuse): BM25 lexical top-10 fused with the
    * embedding cosine top-10 of query vector 0 — score scales never
    * compared, only ranks. */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id"))
    val lexical = TextAnalysis.bm25TopK(t.documents, "text", "doc_id",
        Seq("spark", "window", "join"), k = 10)
      .withColumn("rank", row_number().over(w))
    val semantic = Similarity.bruteForceKnn(
        t.embeddings.filter(col("vec_id") === 0), t.embeddings,
        "vec_id", "embedding", k = 10)
      .select(col("cand_id").as("doc_id"), col("rank"))
    TextAnalysis.rrfFuse(
        Seq("bm25" -> lexical, "cosine" -> semantic),
        "doc_id", "rank", k = 10)
      .orderBy(col("rrf").desc, col("doc_id"))
  }
  // q106's BM25 chain ranked 1..10 + the cosine top-10 of query
  // vector 0, fused by sum of 1/(60 + rank) in (ranker, rank) order
  register(Q("q125_rrf_fusion", qRrfFusion,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |toks AS (SELECT doc_id, unnest(${wsTokensSql("norm")}) AS tok
         |  FROM docs_norm),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |q AS (SELECT doc_id, tok FROM toks
         |  WHERE tok IN ('spark', 'window', 'join')),
         |dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM q GROUP BY tok),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM q GROUP BY doc_id, tok),
         |sc AS (SELECT t.doc_id, t.tok,
         |    ln(1.0e0 + (c.n_docs - d.df + 5e-1) / (d.df + 5e-1)) *
         |    (t.tf * (1.2e0 + 1.0e0) / (t.tf + 1.2e0 * ((1.0e0 - 7.5e-1)
         |      + 7.5e-1 * CAST(l.dl AS DOUBLE) * c.n_docs / c.sum_dl)))
         |      AS s
         |  FROM tf t JOIN dfq d USING (tok) JOIN dl l USING (doc_id),
         |    corpus c),
         |bm AS (SELECT doc_id,
         |    round(list_aggregate(list(s ORDER BY tok), 'sum'), 6) AS bm25
         |  FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10),
         |bmr AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS rank FROM bm),
         |qv0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cos AS (SELECT vec_id AS doc_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM (SELECT vec_id, embedding AS cv FROM embeddings
         |    WHERE vec_id <> 0), qv0),
         |ct AS (SELECT doc_id, sim FROM cos
         |  ORDER BY sim DESC, doc_id LIMIT 10),
         |cr AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY sim DESC, doc_id) AS rank FROM ct),
         |fused AS (SELECT doc_id, 'bm25' AS ranker, rank FROM bmr
         |  UNION ALL SELECT doc_id, 'cosine' AS ranker, rank FROM cr),
         |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_rankers,
         |    round(list_aggregate(
         |      list(1.0e0 / (6e1 + rank) ORDER BY ranker, rank),
         |      'sum'), 6) AS rrf
         |  FROM fused GROUP BY doc_id)
         |SELECT doc_id, n_rankers, rrf FROM agg
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin))

  /** Encoding-quality scoring over a corpus salted with deterministic
    * transcoding damage (TextAnalysis.encodingQuality): replacement
    * chars, control bytes, mojibake signatures, ascii ratio. */
  private def qEncQuality(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // salt: doc_id%4==0 gets a mis-decoded accent, %5==0 mis-decoded
    // curly quotes, %7==0 a replacement char, %11==0 a BEL control byte
    val salted = t.documents.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 4 === 0, lit(" cafÃ©"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit(" â€œokâ€")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" x�y")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" ab")).otherwise(lit("")))
      .as("text"))
    TextAnalysis.encodingQuality(salted, "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  // the salt reproduces the Spark side's escapes via chr():
  // 195/169 = mis-decoded e-acute, 226/8364/339 = mis-decoded curly
  // quotes, 65533 = replacement char, 7 = BEL
  register(Q("q128_enc_quality", qEncQuality,
      """WITH s AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ' caf' || chr(195) || chr(169)
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(226) || chr(8364) ||
        |          chr(339) || 'ok' || chr(226) || chr(8364) || chr(157)
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN ' x' || chr(65533) || 'y'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN ' a' || chr(7) || 'b'
        |          ELSE '' END) AS t
        |  FROM documents),
        |m AS (SELECT doc_id, length(t) AS len,
        |    length(t) - length(replace(t, chr(65533), '')) AS n_repl,
        |    length(t) - length(regexp_replace(t,
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')) AS n_ctrl,
        |    len(regexp_extract_all(t, '\x{00C3}[\x{0080}-\x{00BF}' ||
        |      '\x{20AC}\x{201A}\x{0192}\x{201E}\x{2026}\x{2020}' ||
        |      '\x{2021}\x{02C6}\x{2030}\x{0160}\x{2039}\x{0152}' ||
        |      '\x{017D}\x{2018}\x{2019}\x{201C}\x{201D}\x{2022}' ||
        |      '\x{2013}\x{2014}\x{02DC}\x{2122}\x{0161}\x{203A}' ||
        |      '\x{0153}\x{017E}\x{0178}]')) +
        |      len(regexp_extract_all(t, chr(226) || chr(8364)))
        |        AS n_moji,
        |    length(t) - length(regexp_replace(t, '[^\x00-\x7f]', '', 'g'))
        |      AS n_na
        |  FROM s)
        |SELECT doc_id, CAST(n_repl AS BIGINT) AS n_replacement,
        |  CAST(n_ctrl AS BIGINT) AS n_ctrl,
        |  CAST(n_moji AS BIGINT) AS n_mojibake,
        |  CASE WHEN len > 0 THEN round((len - n_na)::DOUBLE / len, 6)
        |       ELSE 1.0e0 END AS ascii_ratio,
        |  (n_repl = 0 AND n_ctrl = 0 AND n_moji = 0) AS enc_clean
        |FROM m ORDER BY doc_id""".stripMargin))

  /** Zipf's-law fit of the corpus vocabulary (TextAnalysis.zipfFit):
    * one row, OLS over the top-100 token ranks. */
  private def qZipf(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    TextAnalysis.zipfFit(t.documents, "text", topN = 100)
  }
  register(Q("q130_zipf", qZipf,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm
         |    FROM documents),
         |toks AS (SELECT unnest(${wsTokensSql("norm")}) AS tok
         |  FROM docs_norm),
         |f AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
         |top AS (SELECT tok, freq FROM f ORDER BY freq DESC, tok LIMIT 100),
         |r AS (SELECT
         |    ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))
         |      AS x,
         |    ln(CAST(freq AS DOUBLE)) AS y FROM top),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
         |    sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx,
         |    sum(y*y) AS syy FROM r)
         |SELECT n AS n_ranks,
         |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
         |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
         |    AS intercept,
         |  round((n*sxy - sx*sy) * (n*sxy - sx*sy) /
         |    ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
         |FROM s""".stripMargin))

  /** C4/Gopher rule-based quality filter (TextAnalysis.gopherRules)
    * over documents salted with deterministic line structure: every doc
    * gets a terminal period, every 3rd bullet lines, every 4th an
    * unpunctuated trailing line, every 10th a lorem-ipsum footer. */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val salted = t.documents.select(col("doc_id"), concat(
      col("text"), lit("."),
      when(col("doc_id") % 3 === 0,
        lit("\n- item one\n- item two")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        lit("\nTrailing line without punct")).otherwise(lit("")),
      when(col("doc_id") % 10 === 0,
        lit("\nLorem ipsum dolor sit amet.")).otherwise(lit("")))
      .as("text"))
    TextAnalysis.gopherRules(salted, "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  // stopword list generated from the SAME Scala constant gopherRules
  // uses; bullet-class char via chr(8226) so no non-ascii literal
  register(Q("q136_gopher_rules", qGopherRules, {
      val enStops = TextAnalysis.StopwordsByLang.toMap.apply("en")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH s AS (SELECT doc_id, text || '.' ||
         |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- item one' ||
         |          chr(10) || '- item two' ELSE '' END) ||
         |    (CASE WHEN doc_id % 4 = 0 THEN chr(10) ||
         |          'Trailing line without punct' ELSE '' END) ||
         |    (CASE WHEN doc_id % 10 = 0 THEN chr(10) ||
         |          'Lorem ipsum dolor sit amet.' ELSE '' END) AS t
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(${wsTokensSql("t")}) AS BIGINT) AS n_words,
         |    round(CAST(list_aggregate(list_transform(${wsTokensSql("t")},
         |      x -> len(x)), 'sum') AS DOUBLE) /
         |      len(${wsTokensSql("t")}), 6) AS mean_word_len,
         |    list_filter(list_transform(string_split(t, chr(10)),
         |      l -> trim(l)), l -> len(l) > 0) AS lines,
         |    CAST(len(list_filter(list_distinct(
         |      ${wsTokensSql("lower(t)")}), x -> x IN ($enStops)))
         |      AS BIGINT) AS n_stop_hits,
         |    contains(lower(t), 'lorem ipsum') AS has_lorem
         |  FROM s),
         |r AS (SELECT doc_id, n_words, mean_word_len,
         |    round(CAST(len(list_filter(lines,
         |      l -> regexp_matches(l, '[.!?"]$$'))) AS DOUBLE) /
         |      len(lines), 6) AS frac_lines_end_punct,
         |    round(CAST(len(list_filter(lines,
         |      l -> regexp_matches(l, '^[-*' || chr(8226) || ']')))
         |      AS DOUBLE) / len(lines), 6) AS frac_bullet_lines,
         |    n_stop_hits, has_lorem
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, frac_lines_end_punct,
         |  frac_bullet_lines, n_stop_hits, has_lorem,
         |  (n_words >= 10 AND n_words <= 100000 AND
         |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
         |   frac_lines_end_punct >= 0.3 AND frac_bullet_lines <= 0.9 AND
         |   n_stop_hits >= 2 AND NOT has_lorem) AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    }))

  /** Code-vs-prose routing (TextAnalysis.codeDetect) over documents
    * salted with deterministic code blocks for every 4th doc. */
  private def qCodeDetect(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val salted = t.documents.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 4 === 0, lit(
        "\ndef load(path):\n    return read(path);\nimport os\nx = 1;"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("\nplain trailing prose line"))
        .otherwise(lit(""))).as("text"))
    TextAnalysis.codeDetect(salted, "text", "doc_id")
      .orderBy(col("doc_id"))
  }
  register(Q("q137_code_detect", qCodeDetect,
      """WITH s AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'def load(path):'
        |      || chr(10) || '    return read(path);' || chr(10) ||
        |      'import os' || chr(10) || 'x = 1;' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
        |      'plain trailing prose line' ELSE '' END) AS t
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    list_filter(string_split(t, chr(10)),
        |      l -> len(trim(l)) > 0) AS lines, t
        |  FROM s),
        |r AS (SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    round(CAST(len(list_filter(lines, l ->
        |      regexp_matches(l, '^(    |\t)') OR
        |      regexp_matches(trim(l), '[;{}]$') OR
        |      regexp_matches(trim(l), '^(def|class|import|function|return|var|let|const|if|for|while)\b')))
        |      AS DOUBLE) / len(lines), 6) AS frac_code_lines,
        |    round(CAST(length(t) - length(regexp_replace(t,
        |      '[\[\]{}();=<>]', '', 'g')) AS DOUBLE) / length(t), 6)
        |      AS symbol_ratio
        |  FROM m)
        |SELECT doc_id, n_lines, frac_code_lines, symbol_ratio,
        |  (frac_code_lines >= 0.3 OR symbol_ratio >= 0.05) AS is_code
        |FROM r ORDER BY doc_id""".stripMargin))

  /** Langid confidence calibration (Profiling.confidenceCalibration):
    * confidence = best stopword-hit score over token count, correctness
    * = prediction vs the corpus's true `lang` column — the reliability
    * diagram that says whether the router's confidence can gate
    * routing decisions. Scores computed once (withLangScores); the
    * prediction is re-derived from the score columns with the same
    * max-score, alphabetical-tie, zero→"und" rule as langId. */
  private def qLangidCalibration(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val scored = TextAnalysis.withLangScores(t.documents, "text")
    val langsSorted = TextAnalysis.StopwordsByLang.map(_._1).sorted
    val best = greatest(langsSorted.map(l => col(s"score_$l")): _*)
    var pred: Column = lit("und")
    for (l <- langsSorted.reverse)
      pred = when(col(s"score_$l") === col("best"), lit(l)).otherwise(pred)
    val nTok = size(GF.wsTokens(lower(col("text"))))
    val perDoc = scored
      .withColumn("best", best)
      .withColumn("n_toks", nTok)
      .select(
        round(when(col("n_toks") > 0,
          col("best").cast("double") / col("n_toks"))
          .otherwise(lit(0.0)), 6).as("conf"),
        (when(col("best") === 0, lit("und")).otherwise(pred)
          === col("lang")).cast("int").as("ok"))
    Profiling.confidenceCalibration(perDoc, "conf", "ok")
      .orderBy(col("bin"))
  }
  // scores replayed from the SAME stopword constants as q36; gap is
  // computed from the rounded bin aggregates on both sides
  register(Q("q150_langid_calibration", qLangidCalibration, {
      val langs = TextAnalysis.StopwordsByLang.sortBy(_._1)
      val scoreCols = TextAnalysis.StopwordsByLang.map { case (l, words) =>
        s"len(list_filter(toks, w -> list_contains(${sqlStringList(words)}, w))) AS score_$l"
      }.mkString(",\n  ")
      val mx = langs.map(l => s"score_${l._1}").mkString("greatest(", ", ", ")")
      val guess = langs.map { case (l, _) =>
        s"WHEN score_$l = best THEN '$l'"
      }.mkString("\n      ")
      s"""WITH t AS (SELECT doc_id, lang AS lang_true,
         |    ${wsTokensSql("lower(text)")} AS toks FROM documents),
         |sc AS (SELECT doc_id, lang_true, len(toks) AS n_toks,
         |  $scoreCols
         |  FROM t),
         |b AS (SELECT *, $mx AS best FROM sc),
         |p AS (SELECT
         |    round(CASE WHEN n_toks > 0
         |      THEN CAST(best AS DOUBLE) / n_toks ELSE 0 END, 6) AS conf,
         |    CASE WHEN (CASE WHEN best = 0 THEN 'und'
         |      $guess
         |      END) = lang_true THEN 1 ELSE 0 END AS ok
         |  FROM b),
         |bn AS (SELECT CAST(least(floor(conf * 10), 9) AS INT) AS bin,
         |    conf, ok FROM p)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(conf), 4) AS mean_conf, round(avg(ok), 4) AS accuracy,
         |  round(abs(round(avg(conf), 4) - round(avg(ok), 4)), 4) AS gap
         |FROM bn GROUP BY bin ORDER BY bin""".stripMargin
    }))

  /** DEFLATE compression ratio (TextAnalysis.compressionRatio) — the
    * whole-redundancy quality signal. Raw DEFLATE byte counts are not
    * SQL-expressible, so the gate frame carries oracle-VERIFIABLE
    * derived columns instead of the raw counts: n_bytes (exact UTF-8
    * length), `deflate_ok` (the emitted count/ratio satisfy a
    * conservative zlib size bound, positivity, and ratio-formula
    * consistency) and `roundtrip_ok` (the compressed stream inflates
    * back to the input bytes, computed in the same partition pass) —
    * both booleans are the constant TRUE iff the codec plumbing is
    * correct, which IS what a DuckDB oracle can express. The full
    * query path still executes the Deflater+Inflater per row (nothing
    * is pruned: every boolean reads the deflate outputs), and the
    * exact byte values stay pinned by OperatorsSpec's independent
    * java.util.zip recompute and closed-form fixtures. */
  private def qDeflateRatio(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // Size bound: java.util.zip.Deflater at DEFAULT_COMPRESSION emits
    // stored-fallback blocks at its ~16 KB symbol-buffer granularity
    // (memLevel 8), NOT at the 65535-byte stored-block maximum — pure
    // random input measures ~5 bytes of header per 16 KB (100000
    // random bytes → 100035). Bound at 5 bytes per 16383-byte block
    // plus a 16-byte finish margin; UTF-8 String input compresses far
    // below it, but the bound must hold for ANY input, not just ours.
    val bound = col("n_bytes") +
      lit(5) * (floor(col("n_bytes") / 16383L) + 1) + lit(16)
    TextAnalysis.compressionRatio(t.documents, "text", "doc_id",
        verifyRoundtrip = true)
      .withColumn("deflate_ok",
        col("n_deflate") >= 1L && col("n_deflate") <= bound &&
        (when(col("n_bytes") === 0L, col("deflate_ratio").isNull)
          // the ratio is the 6-dp rounding of n_deflate/n_bytes; allow
          // the half-ulp rounding window rather than re-deriving the
          // exact rounding mode (rint = HALF_EVEN vs round = HALF_UP)
          .otherwise(abs(col("deflate_ratio") -
            col("n_deflate").cast("double") / col("n_bytes")) <= 5.01e-7)))
      .select(col("doc_id"), col("n_bytes"), col("deflate_ok"),
        col("roundtrip_ok"))
      .orderBy(col("doc_id"))
  }
  // DEFLATE byte counts are not SQL-expressible, so the gate frame
  // compares what IS: n_bytes exactly (UTF-8 length via encode) and
  // two codec self-check booleans whose correct value is the
  // constant TRUE — `deflate_ok` (worst-case size bound + ratio
  // consistency) and `roundtrip_ok` (inflate(deflate(text)) ==
  // text, computed in the Spark pass). A codec regression flips a
  // boolean and the hash goes red; the exact byte values are pinned
  // by OperatorsSpec's independent java.util.zip recompute.
  register(Q("q156_deflate_ratio", qDeflateRatio,
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  TRUE AS deflate_ok, TRUE AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** BPE serving path (TextAnalysis.bpeEncode): merges trained on
    * documents applied to HELD-OUT words (reversed doc words — OOV
    * sequences the training table never saw) as one chained-replace
    * projection, no vocabulary join. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val (merges, _) = TextAnalysis.bpeLearn(t.documents, "text", "doc_id")
    val held = t.documents.filter(col("doc_id") % 7 === 0)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("w"))
      .select(reverse(col("w")).as("word")).distinct()
    TextAnalysis.bpeEncode(held, "word", merges)
      .orderBy(col("word"))
  }
  // the q103 training replay (same generated CTE chain) feeding the
  // ENCODE path: held-out reversed words segmented by the trained
  // merge list alone — replace() applies each rank left-to-right
  // non-overlapping in both engines, i.e. greedy BPE
  register(Q("q176_bpe_encode", qBpeEncode, {
      val iters = (1 to TextAnalysis.BpeMerges).map { i =>
        val prev = s"w${i - 1}"
        s"""s$i AS (SELECT seg, freq,
           |    unnest(generate_series(1,
           |      len(string_split(seg, ' ')) - 1)) AS i
           |  FROM $prev),
           |p$i AS (SELECT string_split(seg, ' ')[i] || ' ' ||
           |    string_split(seg, ' ')[i + 1] AS pair, sum(freq) AS c
           |  FROM s$i GROUP BY 1),
           |m$i AS (SELECT pair FROM p$i ORDER BY c DESC, pair LIMIT 1),
           |w$i AS (SELECT w.word, w.freq,
           |    replace(w.seg, m.pair, replace(m.pair, '> <', '')) AS seg
           |  FROM $prev w, m$i m)""".stripMargin
      }.mkString(",\n")
      val encodes = (1 to TextAnalysis.BpeMerges).map { i =>
        s"""e$i AS (SELECT word,
           |    replace(w.seg, m.pair, replace(m.pair, '> <', '')) AS seg
           |  FROM e${i - 1} w, m$i m)""".stripMargin
      }.mkString(",\n")
      s"""WITH docw AS (SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |  FROM documents),
         |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    array_to_string(list_transform(regexp_extract_all(word, '.'),
         |      x -> '<' || x || '>'), ' ') AS seg
         |  FROM docw GROUP BY word),
         |$iters,
         |held AS (SELECT DISTINCT reverse(word) AS word
         |  FROM docw WHERE doc_id % 7 = 0),
         |e0 AS (SELECT word,
         |    array_to_string(list_transform(regexp_extract_all(word, '.'),
         |      x -> '<' || x || '>'), ' ') AS seg
         |  FROM held),
         |$encodes
         |SELECT word, seg,
         |  CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tokens
         |FROM e${TextAnalysis.BpeMerges}
         |ORDER BY word""".stripMargin
    }))

  /** Unigram-LM (SentencePiece-style) tokenizer training
    * (TextAnalysis.unigramLmTrain): 2 rounds of full soft EM — the
    * forward-backward recursions over every segmentation of every
    * word — with every double sum order-pinned, so the DuckDB oracle
    * replays the whole training loop bit-for-bit (recursive CTEs walk
    * the same α/β recursions in the same l-ascending term order).
    * Output: the top-40 pieces by final probability. */
  private def qUnigramTokenizer(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val probs = TextAnalysis.unigramLmTrain(
      t.documents.filter(col("text").isNotNull), "text", "doc_id",
      maxPieceLen = 4, emIters = 2, minFreq = 2L)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("p").desc, col("piece"))
    probs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 40)
      .select(col("rank"), col("piece"), round(col("p"), 8).as("p"))
      .orderBy(col("rank"))
  }
  register(Q("q235_unigram_tok", qUnigramTokenizer, unigramLmOracleSql(2)))
}
