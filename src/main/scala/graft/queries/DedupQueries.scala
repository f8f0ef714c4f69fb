package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling, TextAnalysis}
import OracleSql.{hash32Sql, normTextSql, wsTokensSql, exactSubstrCtesSql,
  shinglesCteSql, lshBucketsCteSql, lshPairsCteSql, qualityCtesSql}

/** Queries exercising [[graft.operators.Dedup]]. */
private[graft] object DedupQueries extends Queries {

  /** Lang-blocked bounded candidate pairs (id2 ∈ (id1, id1+window]),
    * built with a BLOCK-key EQUI-join: each left row posts to its own
    * and the next id-block of size `window`, so the join intermediate
    * is ~2 rows per doc instead of the per-language cartesian the
    * naive lang-join + range-filter materializes before filtering.
    * Identical pair set; the oracles keep the declarative range form. */
  private[queries] def langBlockedPairs(t: Tables, window: Int): DataFrame = {
    val blk = (c: Column) => floor(c / lit(window)).cast("long")
    val d1 = t.documents.select(col("lang"), col("doc_id").as("id1"))
      .withColumn("blk",
        explode(array(blk(col("id1")), blk(col("id1")) + 1)))
    val d2 = t.documents.select(col("lang"), col("doc_id").as("id2"),
      blk(col("doc_id")).as("blk"))
    d1.join(d2, Seq("lang", "blk"))
      .filter(col("id2") > col("id1") && col("id2") <= col("id1") + window)
      .select(col("id1"), col("id2"))
  }

  /** Exact dedup groups over a corpus with planted duplicates. */
  private def qExactDedup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val base = t.documents.select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    Dedup.exactDuplicateGroups(base.union(planted), "text", "doc_id")
      .orderBy(col("keeper_id"))
  }
  register(Q("q30_exact_dedup", qExactDedup,
      s"""WITH docs2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |h AS (SELECT md5($normTextSql) AS digest, doc_id FROM docs2)
         |SELECT digest, count(*) AS group_size, min(doc_id) AS keeper_id
         |FROM h GROUP BY digest HAVING count(*) > 1 ORDER BY keeper_id""".stripMargin))

  /** MinHash + LSH banding: candidate near-dup pairs (k=8, 4 bands). */
  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sig = Dedup.minhashSignature(t.documents, "text", "doc_id", k = 8)
    val pairs = Dedup.candidatePairs(Dedup.lshBuckets(sig, "doc_id", 8, 4),
      "doc_id")
    pairs.agg(count(lit(1)).as("n_pairs"),
      coalesce(sum(col("id1") + col("id2")), lit(0L)).as("pair_checksum"))
  }
  register(Q("q31_minhash_lsh", qMinhashLsh,
      s"""WITH $lshPairsCteSql
         |SELECT count(*) AS n_pairs,
         |  CAST(coalesce(sum(id1 + id2), 0) AS BIGINT) AS pair_checksum
         |FROM pairs""".stripMargin))

  /** n-gram Jaccard verification over blocked candidate pairs. */
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.ngramJaccard(t.documents, langBlockedPairs(t, 3), "text", "doc_id")
      .select(col("id1"), col("id2"), col("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }
  register(Q("q32_ngram_jaccard", qNgramJaccard,
      s"""WITH $shinglesCteSql,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT d1.doc_id AS id1, d2.doc_id AS id2
         |  FROM documents d1 JOIN documents d2 ON d1.lang = d2.lang
         |  AND d2.doc_id > d1.doc_id AND d2.doc_id <= d1.doc_id + 3),
         |inter AS (SELECT p.id1, p.id2, count(*) AS n_inter
         |  FROM pairs p
         |  JOIN sh a ON a.doc_id = p.id1
         |  JOIN sh b ON b.doc_id = p.id2 AND a.shingle = b.shingle
         |  GROUP BY p.id1, p.id2)
         |SELECT p.id1, p.id2,
         |  round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
         |    (s1.n_sh + s2.n_sh - coalesce(n_inter, 0)), 6) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter ON inter.id1 = p.id1 AND inter.id2 = p.id2
         |JOIN sizes s1 ON s1.doc_id = p.id1
         |JOIN sizes s2 ON s2.doc_id = p.id2
         |ORDER BY p.id1, p.id2""".stripMargin))

  /** 32-bit SimHash per document. */
  private def qSimhash(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.simhash(t.documents, "text", "doc_id").orderBy(col("doc_id"))
  }
  register(Q("q33_simhash", qSimhash,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |t AS (SELECT doc_id, unnest(${wsTokensSql("norm")}) AS tok FROM docs_norm),
         |h AS (SELECT doc_id, ${hash32Sql("tok")} AS h FROM t),
         |bits AS (SELECT doc_id, b.bit,
         |    sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
         |  GROUP BY doc_id, b.bit)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
         |    AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Duplicate clusters: LSH candidate pairs → connected components →
    * per-cluster sizes (Dedup.duplicateClusters — the "keep one per
    * cluster" completion of the dedup story). */
  private def qDupClusters(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sig = Dedup.minhashSignature(t.documents, "text", "doc_id", k = 8)
    val pairs = Dedup.candidatePairs(
      Dedup.lshBuckets(sig, "doc_id", k = 8, bands = 4), "doc_id")
    Dedup.duplicateClusters(pairs)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster"))
  }
  register(Q("q44_dup_clusters", qDupClusters,
      s"""WITH RECURSIVE $lshPairsCteSql,
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2 AS a, id1 AS b FROM pairs),
         |closure(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a),
         |labels AS (SELECT a AS id, min(b) AS cluster
         |  FROM closure GROUP BY a)
         |SELECT cluster, count(*) AS n_members
         |FROM labels GROUP BY cluster ORDER BY cluster""".stripMargin))

  /** Chunk-level (line/paragraph-style) exact dedup with reassembly
    * (Dedup.chunkDedup): per-doc chunk counts + digest of the
    * deduplicated text. */
  private def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.chunkDedup(t.documents, "text", "doc_id", chunkTokens = 8)
      .orderBy(col("doc_id"))
  }
  register(Q("q50_chunk_dedup", qChunkDedup,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm
         |  FROM documents),
         |t AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr FROM docs_norm),
         |ch0 AS (SELECT doc_id, unnest(list_transform(generate_series(1,
         |    greatest(1, CAST(ceil(len(arr) / 8.0) AS BIGINT))),
         |    i -> struct_pack(idx := i,
         |      chunk := array_to_string(arr[((i-1)*8+1):(i*8)], ' '))))
         |    AS s
         |  FROM t),
         |ch AS (SELECT doc_id, s.idx AS chunk_idx, s.chunk AS chunk
         |  FROM ch0),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
         |  FROM ch)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
         |    ORDER BY chunk_idx), '')) AS dedup_md5
         |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Edit-distance verification of candidate pairs
    * (Dedup.editDistanceVerify) — same deterministic pair frame as q32,
    * character-level verdict instead of shingle overlap. */
  private def qEditDistance(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.editDistanceVerify(t.documents, langBlockedPairs(t, 3),
        "text", "doc_id")
      .select(col("id1"), col("id2"), col("len1"), col("len2"),
        col("edit_dist"), col("dist_ratio"), col("near_dup"))
      .orderBy(col("id1"), col("id2"))
  }
  register(Q("q74_edit_distance", qEditDistance,
      s"""WITH norm AS (SELECT doc_id, lang, $normTextSql AS norm
         |  FROM documents),
         |pairs AS (SELECT d1.doc_id AS id1, d2.doc_id AS id2,
         |    d1.norm AS t1, d2.norm AS t2
         |  FROM norm d1 JOIN norm d2 ON d1.lang = d2.lang
         |  AND d2.doc_id > d1.doc_id AND d2.doc_id <= d1.doc_id + 3)
         |SELECT id1, id2,
         |  CAST(len(t1) AS INT) AS len1, CAST(len(t2) AS INT) AS len2,
         |  CAST(levenshtein(t1, t2) AS INT) AS edit_dist,
         |  round(CAST(levenshtein(t1, t2) AS DOUBLE) /
         |    greatest(len(t1), len(t2)), 6) AS dist_ratio,
         |  round(CAST(levenshtein(t1, t2) AS DOUBLE) /
         |    greatest(len(t1), len(t2)), 6) <= 0.3 AS near_dup
         |FROM pairs ORDER BY id1, id2""".stripMargin))

  /** Shingle containment (Dedup.shingleContainment) — the subset-dup
    * signal Jaccard misses; same pair frame as q32. */
  private def qContainment(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.shingleContainment(t.documents, langBlockedPairs(t, 3),
        "text", "doc_id")
      .select(col("id1"), col("id2"), col("n_inter"), col("n1"), col("n2"),
        col("containment"))
      .orderBy(col("id1"), col("id2"))
  }
  register(Q("q75_containment", qContainment,
      s"""WITH $shinglesCteSql,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT d1.doc_id AS id1, d2.doc_id AS id2
         |  FROM documents d1 JOIN documents d2 ON d1.lang = d2.lang
         |  AND d2.doc_id > d1.doc_id AND d2.doc_id <= d1.doc_id + 3),
         |inter AS (SELECT p.id1, p.id2, count(*) AS n_inter
         |  FROM pairs p
         |  JOIN sh a ON a.doc_id = p.id1
         |  JOIN sh b ON b.doc_id = p.id2 AND a.shingle = b.shingle
         |  GROUP BY p.id1, p.id2)
         |SELECT p.id1, p.id2,
         |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
         |  s1.n_sh AS n1, s2.n_sh AS n2,
         |  round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
         |    least(s1.n_sh, s2.n_sh), 6) AS containment
         |FROM pairs p
         |LEFT JOIN inter ON inter.id1 = p.id1 AND inter.id2 = p.id2
         |JOIN sizes s1 ON s1.doc_id = p.id1
         |JOIN sizes s2 ON s2.doc_id = p.id2
         |ORDER BY p.id1, p.id2""".stripMargin))

  /** Incremental dedup (Dedup.writeSignatureIndex /
    * dedupAgainstIndex): even doc_ids are the served corpus whose LSH
    * postings persist as an index; odd doc_ids are the arriving crawl
    * batch probing it. Same skip-if-exists build gate as q58 — repeat
    * calls time the probe, the path a pipeline actually runs per
    * batch. */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sigidx_${math.abs(dir.hashCode)}").getPath
    if (!new java.io.File(path, "buckets/_SUCCESS").exists())
      Dedup.writeSignatureIndex(
        t.documents.filter(col("doc_id") % 2 === 0), "text", "doc_id", path)
    Dedup.dedupAgainstIndex(
        t.documents.filter(col("doc_id") % 2 === 1), "text", "doc_id", path)
      .orderBy(col("doc_id"))
  }
  register(Q("q81_incremental_dedup", qIncrementalDedup,
      s"""WITH $lshBucketsCteSql,
         |hits AS (SELECT b.doc_id, count(DISTINCT c.corpus_id) AS n_hits
         |  FROM (SELECT doc_id, band, bucket FROM buckets
         |        WHERE doc_id % 2 = 1) b
         |  JOIN (SELECT doc_id AS corpus_id, band, bucket FROM buckets
         |        WHERE doc_id % 2 = 0) c
         |  ON b.band = c.band AND b.bucket = c.bucket
         |  GROUP BY 1),
         |batchdocs AS (SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id % 2 = 1)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(h.n_hits, 0) > 0 AS is_dup,
         |  false AS hits_capped
         |FROM batchdocs d LEFT JOIN hits h USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin))

  /** Cross-source duplication matrix (Dedup.sourceOverlap): shared
    * distinct digests + overlap coefficient per source pair. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.sourceOverlap(t.documents, "text", "doc_id", "source")
      .orderBy(col("source1"), col("source2"))
  }
  register(Q("q85_source_overlap", qSourceOverlap,
      s"""WITH sd AS (SELECT DISTINCT source, md5($normTextSql) AS digest
         |  FROM documents),
         |sizes AS (SELECT source, count(*) AS n FROM sd GROUP BY 1),
         |shared AS (SELECT a.source AS source1, b.source AS source2,
         |    count(*) AS n_shared
         |  FROM sd a JOIN sd b ON a.digest = b.digest
         |    AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT m1.source AS source1, m2.source AS source2,
         |  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
         |  m1.n AS n1, m2.n AS n2,
         |  round(CAST(coalesce(sh.n_shared, 0) AS DOUBLE) /
         |    least(m1.n, m2.n), 6) AS overlap
         |FROM sizes m1 JOIN sizes m2 ON m1.source < m2.source
         |LEFT JOIN shared sh
         |  ON sh.source1 = m1.source AND sh.source2 = m2.source
         |ORDER BY source1, source2""".stripMargin))

  /** Duplicate inflation per source (Dedup.dupInflation): raw rows vs
    * distinct digests. */
  private def qDupInflation(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.dupInflation(t.documents, "text", "source")
      .orderBy(col("source"))
  }
  register(Q("q96_dup_inflation", qDupInflation,
      s"""WITH d AS (SELECT source, md5($normTextSql) AS digest
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  count(DISTINCT digest) AS n_distinct,
         |  round(count(*)::DOUBLE / count(DISTINCT digest), 6)
         |    AS inflation
         |FROM d GROUP BY source ORDER BY source""".stripMargin))

  /** Canonical-representative selection — the step that actually ENDS
    * a dedup pipeline: within every LSH duplicate cluster (q44's
    * machinery) keep the highest-quality member (q37's score, id
    * tiebreak). WindowGroupLimit prunes the per-cluster argmax. */
  private def qCanonical(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sig = Dedup.minhashSignature(t.documents, "text", "doc_id", k = 8)
    val pairs = Dedup.candidatePairs(
      Dedup.lshBuckets(sig, "doc_id", k = 8, bands = 4), "doc_id")
    val labels = Dedup.duplicateClusters(pairs)
    val q = TextAnalysis
      .qualityScore(t.documents.select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("quality_score"))
    val j = labels.join(q, labels("id") === q("doc_id"))
      .select(col("cluster"), col("id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("id"))
    val winners = j.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("id").as("winner_id"),
        col("quality_score").as("best_quality"))
    j.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .join(winners, Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("winner_id"),
        col("best_quality"))
      .orderBy(col("cluster"))
  }
  // q44's transitive closure composed with q37's quality CTEs: the
  // per-cluster argmax (quality desc, id asc) is the canonical doc
  register(Q("q122_canonical", qCanonical,
      s"""WITH RECURSIVE $lshPairsCteSql,
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2 AS a, id1 AS b FROM pairs),
         |closure(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a),
         |labels AS (SELECT a AS id, min(b) AS cluster
         |  FROM closure GROUP BY a),
         |$qualityCtesSql,
         |j AS (SELECT l.cluster, l.id, q.quality_score
         |  FROM labels l JOIN qsc q ON q.doc_id = l.id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY quality_score DESC, id) AS rn FROM j),
         |m AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
         |  FROM j GROUP BY cluster)
         |SELECT r.cluster, m.n_members, r.id AS winner_id,
         |  r.quality_score AS best_quality
         |FROM r JOIN m USING (cluster) WHERE rn = 1
         |ORDER BY r.cluster""".stripMargin))

  /** LSH banding recall/precision against exact-Jaccard ground truth
    * (Dedup.lshPairRecall) on the shared bounded-window domain — the
    * (k, bands) tuning measurement. */
  private def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // ONE shared shingle pass (lazy, distinct) feeds both the minhash
    // signature and the exact-Jaccard truth arm — the r16 form
    // tokenized + shingled the corpus twice (r17 plan audit); the
    // signature is identical from distinct shingles (min is
    // multiset-insensitive)
    val shD = Dedup.shingleRows(t.documents, "text", "doc_id", 3)
      .distinct().graftCp(false)
    val sig = Dedup.minhashSignatureFromShingles(shD, "doc_id", k = 8)
    val cand = Dedup.candidatePairs(
      Dedup.lshBuckets(sig, "doc_id", k = 8, bands = 4), "doc_id")
    val window = langBlockedPairs(t, 10).graftCp(false)
    val candW = cand.join(window, Seq("id1", "id2"), "left_semi")
    val truth = Dedup.ngramJaccardFromShingles(shD, window, "doc_id")
      .filter(col("jaccard") >= 0.01)
      .select(col("id1"), col("id2"))
    Dedup.lshPairRecall(candW, truth)
  }
  // LSH candidates ∩ window vs exact-Jaccard truth (>= 1e-2) on the
  // same window domain; counts + guarded ratio rounds
  register(Q("q126_lsh_recall", qLshRecall,
      s"""WITH $lshPairsCteSql,
         |wprs AS (SELECT d1.doc_id AS id1, d2.doc_id AS id2
         |  FROM documents d1 JOIN documents d2 ON d1.lang = d2.lang
         |  AND d2.doc_id > d1.doc_id AND d2.doc_id <= d1.doc_id + 10),
         |candw AS (SELECT p.id1, p.id2 FROM pairs p
         |  JOIN wprs w ON w.id1 = p.id1 AND w.id2 = p.id2),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT p.id1, p.id2, count(*) AS n_inter
         |  FROM wprs p
         |  JOIN sh a ON a.doc_id = p.id1
         |  JOIN sh b ON b.doc_id = p.id2 AND a.shingle = b.shingle
         |  GROUP BY p.id1, p.id2),
         |truth AS (SELECT p.id1, p.id2
         |  FROM wprs p
         |  LEFT JOIN inter ON inter.id1 = p.id1 AND inter.id2 = p.id2
         |  JOIN sizes s1 ON s1.doc_id = p.id1
         |  JOIN sizes s2 ON s2.doc_id = p.id2
         |  WHERE round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
         |    (s1.n_sh + s2.n_sh - coalesce(n_inter, 0)), 6) >= 1e-2),
         |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM truth t JOIN candw c ON c.id1 = t.id1 AND c.id2 = t.id2)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM candw) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
         |  (SELECT n_hit FROM hit) AS n_hit,
         |  round((SELECT n_hit FROM hit) / nullif(
         |    CAST((SELECT count(*) FROM truth) AS DOUBLE), 0.0e0), 6)
         |    AS recall,
         |  round((SELECT n_hit FROM hit) / nullif(
         |    CAST((SELECT count(*) FROM candw) AS DOUBLE), 0.0e0), 6)
         |    AS "precision"""".stripMargin))

  /** Mega-bucket cap on LSH candidate generation
    * (Dedup.candidatePairs maxBucketSize): over-cap (band, bucket)
    * groups demote from all-pairs to star expansion. One row asserting
    * (a) a cap larger than every bucket reproduces the uncapped pair
    * set exactly, and (b) the tight-cap pair set + over-bucket counts
    * match a closed-form replay. */
  private def qLshBucketCap(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sig = Dedup.minhashSignature(t.documents, "text", "doc_id", k = 8)
    val buckets = Dedup.lshBuckets(sig, "doc_id", k = 8, bands = 4)
      .graftCp(false)
    val unc = Dedup.candidatePairs(buckets, "doc_id",
      maxBucketSize = Int.MaxValue)
    val capped = Dedup.candidatePairs(buckets, "doc_id", maxBucketSize = 2)
    val cappedLarge =
      Dedup.candidatePairs(buckets, "doc_id", maxBucketSize = 1000000)
    val over = Dedup.overCapBuckets(buckets, "doc_id", 2)
    unc.agg(count(lit(1)).as("n_uncapped"))
      .crossJoin(broadcast(
        cappedLarge.agg(count(lit(1)).as("n_capped_large"))))
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_capped"),
        coalesce(sum(col("id1") + col("id2")), lit(0L)).cast("long")
          .as("pair_checksum"))))
      .crossJoin(broadcast(over.agg(count(lit(1)).as("n_over_buckets"),
        coalesce(sum(col("n_docs")), lit(0L)).cast("long")
          .as("n_over_docs"))))
  }
  // star expansion replay: buckets over the cap pair every member
  // with the bucket's min-id hub instead of all-pairs; a cap above
  // every bucket size must reproduce the uncapped pair set
  register(Q("q139_lsh_bucket_cap", qLshBucketCap,
      s"""WITH $lshBucketsCteSql,
         |sized AS (SELECT doc_id, band, bucket,
         |    count(*) OVER (PARTITION BY band, bucket) AS n,
         |    min(doc_id) OVER (PARTITION BY band, bucket) AS hub
         |  FROM buckets),
         |unc AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
         |  FROM buckets l JOIN buckets r
         |  ON l.band = r.band AND l.bucket = r.bucket
         |    AND l.doc_id < r.doc_id),
         |cap4 AS (SELECT DISTINCT id1, id2 FROM (
         |  SELECT l.doc_id AS id1, r.doc_id AS id2
         |    FROM sized l JOIN sized r
         |    ON l.band = r.band AND l.bucket = r.bucket
         |      AND l.doc_id < r.doc_id
         |    WHERE l.n <= 2
         |  UNION ALL
         |  SELECT hub AS id1, doc_id AS id2 FROM sized
         |    WHERE n > 2 AND doc_id <> hub)),
         |big AS (SELECT DISTINCT id1, id2 FROM (
         |  SELECT l.doc_id AS id1, r.doc_id AS id2
         |    FROM sized l JOIN sized r
         |    ON l.band = r.band AND l.bucket = r.bucket
         |      AND l.doc_id < r.doc_id
         |    WHERE l.n <= 1000000
         |  UNION ALL
         |  SELECT hub AS id1, doc_id AS id2 FROM sized
         |    WHERE n > 1000000 AND doc_id <> hub)),
         |ovr AS (SELECT band, bucket, count(*) AS n_docs FROM buckets
         |  GROUP BY band, bucket HAVING count(*) > 2)
         |SELECT
         |  (SELECT count(*) FROM unc) AS n_uncapped,
         |  (SELECT count(*) FROM big) AS n_capped_large,
         |  (SELECT count(*) FROM cap4) AS n_capped,
         |  (SELECT CAST(coalesce(sum(id1 + id2), 0) AS BIGINT) FROM cap4)
         |    AS pair_checksum,
         |  (SELECT count(*) FROM ovr) AS n_over_buckets,
         |  (SELECT CAST(coalesce(sum(n_docs), 0) AS BIGINT) FROM ovr)
         |    AS n_over_docs""".stripMargin))

  /** Cross-document duplicated-span coverage (Dedup.duplicateSpans):
    * rolling 20-char grams at every position, grams shared by >= 2
    * distinct docs mark spans, per-doc interval-union coverage — the
    * alignment-free "memorized substring" pass chunk dedup misses. */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.duplicateSpans(t.documents, "text", "doc_id", gramLen = 20)
      .orderBy(col("doc_id"))
  }
  // rolling 20-gram at every position; duplicated = held by >= 2
  // DISTINCT docs (intra-doc repeats collapse first); union coverage
  // of fixed-length sorted intervals = sum(least(20, pos - prev)),
  // 20 for the first
  register(Q("q141_dup_spans", qDupSpans,
      """WITH g AS (SELECT doc_id, i AS pos, substr(text, i, 20) AS gram
        |  FROM documents,
        |    unnest(generate_series(1, length(text) - 19)) AS t(i)
        |  WHERE length(text) >= 20),
        |d AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
        |  GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        |lg AS (SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM dp),
        |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_pos,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 20
        |      ELSE least(20, pos - prev) END) AS BIGINT) AS dup_chars
        |  FROM lg GROUP BY doc_id)
        |SELECT d0.doc_id, CAST(length(d0.text) AS BIGINT) AS doc_len,
        |  coalesce(cov.n_dup_pos, 0) AS n_dup_pos,
        |  coalesce(cov.dup_chars, 0) AS dup_chars,
        |  round(CAST(coalesce(cov.dup_chars, 0) AS DOUBLE) /
        |    length(d0.text), 4) AS dup_frac
        |FROM documents d0 LEFT JOIN cov USING (doc_id)
        |ORDER BY d0.doc_id""".stripMargin))

  /** Leakage-safe train/val/test split (Sampling.clusterSplit): q44's
    * LSH duplicate clusters feed the split key, so two near-duplicate
    * documents can never straddle train and validation. Per-split doc
    * and cluster counts (clusters are whole by construction — the
    * oracle recomputes the closure independently and must land on the
    * same partition of the same clusters). */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val sig = Dedup.minhashSignature(t.documents, "text", "doc_id", k = 8)
    val pairs = Dedup.candidatePairs(
      Dedup.lshBuckets(sig, "doc_id", k = 8, bands = 4), "doc_id")
    val labels = Dedup.duplicateClusters(pairs)
    Sampling.clusterSplit(t.documents, "doc_id", labels)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split_key")).as("n_clusters"))
      .orderBy(col("split"))
  }
  // q44's closure re-derived; split key = coalesce(cluster, doc_id),
  // same md5-window hash bucketing as Sampling.pctBucket
  register(Q("q152_leakage_split", qLeakageSplit,
      s"""WITH RECURSIVE $lshPairsCteSql,
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION SELECT id2 AS a, id1 AS b FROM pairs),
         |closure(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a),
         |labels AS (SELECT a AS id, min(b) AS cluster
         |  FROM closure GROUP BY a),
         |keyed AS (SELECT d.doc_id,
         |    coalesce(l.cluster, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         |bk AS (SELECT split_key,
         |    ${hash32Sql("CAST(split_key AS VARCHAR)")} % 100 AS bucket
         |  FROM keyed)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT split_key) AS BIGINT) AS n_clusters
         |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Exact similarity join via prefix filtering
    * (Dedup.prefixFilterJoin): the AllPairs/PPJoin candidate rule over
    * rare-first shingle prefixes, verified by exact intersection. The
    * oracle computes the BRUTE-FORCE Jaccard join — the algorithm must
    * reproduce the specification's exact pair set. */
  private def qPrefixFilterJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.prefixFilterJoin(t.documents, "text", "doc_id",
        threshold = 0.5, shingleN = 3)
      .orderBy(col("id_a"), col("id_b"))
  }
  // brute-force Jaccard join: the SPECIFICATION the prefix-filter
  // algorithm must reproduce exactly (same shingling as q32)
  register(Q("q182_prefix_filter_join", qPrefixFilterJoin,
      """WITH docs_norm AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(norm, '\s+'),
        |      t -> len(t) > 0) AS arr
        |  FROM docs_norm),
        |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(arr) >= 3
        |    THEN list_distinct(list_transform(generate_series(1,
        |      len(arr) - 2), i -> arr[i] || ' ' || arr[i+1] || ' ' ||
        |      arr[i+2]))
        |    ELSE [array_to_string(arr, ' ')] END) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin))

  /** SimHash hamming-ball near-dup pairs (Dedup.simhashHammingPairs):
    * all doc pairs within hamming distance 3 of each other's 64-bit
    * SimHash, found by generalized-pigeonhole banding — the oracle
    * brute-forces every pair, so the banding must lose nothing. Two
    * 32-bit bands at probe radius 1 (any pair within distance 3 sits
    * within hamming 1 of one band, caught by the single-bit-flip
    * probe join): the ×100 audit measured the earlier 4×16-bit exact
    * banding at 205.9M candidates on 500k docs — correlated natural-
    * language fingerprints skew fixed 65,536-value buckets quadratically
    * — where the 2^32-value band domain holds the same output to a
    * candidate count near the true-pair floor. */
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.simhashHammingPairs(t.documents, "text", "doc_id",
        maxHamming = 3, nBits = 64, bands = 2)
      .orderBy(col("id_a"), col("id_b"))
  }
  // brute-force hamming over ALL pairs: the banding algorithm must
  // reproduce this exactly (pigeonhole completeness gate). 64-bit
  // fingerprint: bits 0-31 from md5 hex window 1-8, bits 32-63 from
  // window 9-16 (GF.hash32 offset 9). Bit 63 is the BIGINT sign bit:
  // DuckDB's `1::BIGINT << 63` raises on overflow, so that one term
  // is the literal minimum; xor/bit_count are sign-agnostic.
  register(Q("q204_simhash_pairs", qSimhashPairs,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |t AS (SELECT doc_id, unnest(${wsTokensSql("norm")}) AS tok FROM docs_norm),
         |h AS (SELECT doc_id, ${hash32Sql("tok")} AS h,
         |    ${hash32Sql("tok", 9)} AS h2 FROM t),
         |bits AS (SELECT doc_id, b.bit,
         |    sum(CASE WHEN ((CASE WHEN b.bit < 32 THEN h ELSE h2 END)
         |      >> (b.bit % 32)) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
         |  GROUP BY doc_id, b.bit),
         |sh AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN s <= 0 THEN CAST(0 AS BIGINT)
         |      WHEN bit = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |      ELSE (CAST(1 AS BIGINT) << bit) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin))

  /** Exact-substring dedup (Dedup.exactSubstrSpans — ExactSubstr
    * semantics, Lee et al. 2021): every maximal span of >= 8 tokens
    * repeated verbatim anywhere in the corpus, at arbitrary token
    * offsets, one row per occurrence with boundaries and the span's
    * content md5. Pair-free relational reformulation of the
    * suffix-array algorithm: repeated-L-gram start positions →
    * gaps-and-islands maximal runs — a boilerplate span repeated m
    * times costs m position rows, never m² pairs. */
  private def qExactSubstr(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.exactSubstrSpans(
        t.documents.filter(col("text").isNotNull), "text", "doc_id",
        minTokens = 8)
      .select(col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("span_tokens").cast("long").as("span_tokens"),
        col("span_md5"))
      .orderBy(col("doc_id"), col("span_start"))
  }
  register(Q("q233_exact_substr", qExactSubstr,
      s"""WITH $exactSubstrCtesSql
         |SELECT s.doc_id,
         |  CAST(s.span_start AS BIGINT) AS span_start,
         |  CAST(s.span_end AS BIGINT) AS span_end,
         |  CAST(s.span_end - s.span_start AS BIGINT) AS span_tokens,
         |  md5(array_to_string(t.arr[s.span_start+1:s.span_end], ' '))
         |    AS span_md5
         |FROM sp s JOIN t USING (doc_id)
         |ORDER BY doc_id, span_start""".stripMargin))

  /** The ExactSubstr REMOVAL transform (Dedup.exactSubstrDedup): the
    * corpus with every token covered by a repeated >= 8-token span
    * dropped from every occurrence — one row per document with the
    * surviving-text md5, so the gate checks the actual cleaned
    * content, untouched docs and whole-doc drops included. */
  private def qExactSubstrDedup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Dedup.exactSubstrDedup(
        t.documents.filter(col("text").isNotNull), "text", "doc_id",
        minTokens = 8)
      .orderBy(col("doc_id"))
  }
  register(Q("q236_exact_substr_dedup", qExactSubstrDedup,
      s"""WITH $exactSubstrCtesSql,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(span_end - span_start) AS BIGINT) AS n_dropped
         |  FROM sp GROUP BY doc_id),
         |cover AS (SELECT doc_id, u.p AS pos
         |  FROM sp, unnest(range(span_start, span_end)) AS u(p)),
         |tok AS (SELECT doc_id, i - 1 AS pos, arr[i] AS tok
         |  FROM t, unnest(range(1, len(arr) + 1)) AS u(i)),
         |clean AS (SELECT k.doc_id,
         |    md5(string_agg(k.tok, ' ' ORDER BY k.pos)) AS m
         |  FROM tok k LEFT JOIN cover c
         |    ON k.doc_id = c.doc_id AND k.pos = c.pos
         |  WHERE c.pos IS NULL GROUP BY k.doc_id)
         |SELECT t.doc_id, CAST(len(t.arr) AS BIGINT) AS n_tokens,
         |  coalesce(a.n_spans, 0) AS n_spans,
         |  coalesce(a.n_dropped, 0) AS n_dropped,
         |  coalesce(c2.m, md5('')) AS clean_md5
         |FROM t LEFT JOIN agg a USING (doc_id)
         |LEFT JOIN clean c2 USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin))
}
