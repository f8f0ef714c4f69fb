package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import OracleSql.{cosineSql, sq8CtesSql, planeProjSql, pqOracleSql,
  kmeansOracleSql}

/** Queries exercising [[graft.operators.Similarity]]. */
private[graft] object SimilarityQueries extends Queries {

  /** Brute-force cosine top-5 for 8 query vectors. */
  private def qKnnCosine(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.bruteForceKnn(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  register(Q("q34_knn_cosine", qKnnCosine,
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c, q WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin))

  /** LSH-bucketed ANN top-5 (8 hyperplane bits) for 8 query vectors. */
  private def qLshAnn(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.lshKnn(t.embeddings, t.embeddings.filter(col("vec_id") < 8),
        "vec_id", "embedding", nBits = 8, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  register(Q("q35_lsh_ann", qLshAnn, {
      val projs = (0 until 8).map(j => s"${planeProjSql(j)} AS p$j")
        .mkString(",\n  ")
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sig AS (SELECT vec_id,
         |  $projs
         |  FROM embeddings),
         |b AS (SELECT vec_id, $bucket AS bucket FROM sig),
         |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, b.bucket
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id WHERE e.vec_id < 8),
         |c AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, b.bucket
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |scored AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c JOIN q USING (bucket) WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin
    }))

  /** Embedding-cosine near-duplicate pairs, blocked by ADAPTIVE-depth
    * LSH (Similarity.adaptiveLshBlocks, baseBits = 8, cap 512). The
    * r12 form pinned the depth at 8 bits, which is the fixed-depth
    * quadratic the q65 audit already retired: with 256 buckets frozen,
    * within-block pairs grow as (n/256)² — the r13 ×100 audit measured
    * it superlinear (×124) at 200k vectors. Adaptive refinement bounds
    * blocks at the cap so pair volume stays ~n·cap/2. Oracle
    * precondition (same as q65/q196): at sf0.01 the corpus total
    * (500 vectors) is UNDER the cap, so refinement can never fire and
    * every block key is bucket₈ + (8 << 24) — the constant the DuckDB
    * oracle adds to its fixed 8-bit bucket replay. */
  private def qEmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val blocked = Similarity.adaptiveLshBlocks(t.embeddings, "embedding",
      "lsh_blk", baseBits = 8, maxBlockSize = 512)
    Similarity.cosineNearDupPairs(blocked, "vec_id", "embedding",
        "lsh_blk", threshold = 0.2)
      .orderBy(col("blk"), col("id1"), col("id2"))
  }
  // blk carries adaptiveLshBlocks' depth in the key (bits << 24);
  // at sf0.01 the whole corpus (500 vectors) is under the 512 cap so
  // refinement never fires and depth is the constant 8 — the oracle
  // replays the fixed 8-bit bucket plus that constant (the q65/q196
  // under-cap oracle pattern; precondition asserted in OperatorsSpec)
  register(Q("q40_embedding_near_dup", qEmbeddingNearDup, {
      val projs = (0 until 8).map(j => s"${planeProjSql(j)} AS p$j")
        .mkString(",\n  ")
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ") + s" + CAST(${8L << 24} AS BIGINT)"
      s"""WITH sig AS (SELECT vec_id, $projs FROM embeddings),
         |b AS (SELECT vec_id, $bucket AS blk FROM sig),
         |l AS (SELECT b.blk, e.vec_id AS id1, e.embedding AS v1
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |r AS (SELECT b.blk, e.vec_id AS id2, e.embedding AS v2
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |p AS (SELECT blk, id1, id2, round(${cosineSql("v1", "v2")}, 6) AS sim
         |  FROM l JOIN r USING (blk) WHERE id1 < id2)
         |SELECT blk, id1, id2, sim FROM p WHERE sim >= 0.2
         |ORDER BY blk, id1, id2""".stripMargin
    }))

  /** IVF ANN: label-seeded coarse quantizer, search within the query's
    * cell only (Similarity.ivfKnn). */
  private def qIvfAnn(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.ivfKnn(t.embeddings, t.embeddings.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  register(Q("q42_ivf_ann", qIvfAnn,
      s"""WITH dims AS (
         |  SELECT label AS cell, unnest(embedding)::DOUBLE AS x,
         |         unnest(generate_series(1, len(embedding))) AS d
         |  FROM embeddings),
         |cd AS (SELECT cell, d, round(avg(x), 4) AS c
         |  FROM dims GROUP BY cell, d),
         |cent AS (SELECT cell, list(c ORDER BY d) AS centroid
         |  FROM cd GROUP BY cell),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    round(${cosineSql("e.embedding", "c.centroid")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |best AS (SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |  FROM assign),
         |asg AS (SELECT vec_id, embedding, cell FROM best WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, cell
         |  FROM asg WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, cell FROM asg),
         |scored AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c JOIN q USING (cell) WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin))

  /** Label-free IVF build: Lloyd's k-means over the embeddings with a
    * deterministic hash seed and rounded centroids
    * (Similarity.kmeansCells) — the quantizer a production corpus
    * without labels feeds into writeIvfIndex. */
  private def qKmeansCells(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.kmeansCells(t.embeddings, "vec_id", "embedding",
        k = 4, iters = 2)
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }
  // same k/iters constants as qKmeansCells — the SQL is generated,
  // so the two sides cannot drift
  register(Q("q54_kmeans_cells", qKmeansCells,
      kmeansOracleSql(k = 4, iters = 2)))

  /** Product quantization + ADC search (Similarity.pqTrain/pqEncode/
    * pqSearch): 4 subspaces × 8 sub-centroids trained per-subspace by
    * the deterministic k-means, candidates scored by code lookup. */
  private def qPqAdc(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val books = Similarity.pqTrain(t.embeddings, "vec_id", "embedding",
      m = 4, k = 8, iters = 1, dims = 64)
    val codes = Similarity.pqEncode(t.embeddings, "vec_id", "embedding",
      books)
    Similarity.pqSearch(codes, t.embeddings.filter(col("vec_id") < 4),
        "vec_id", "embedding", books, topK = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  // same m/k/iters/dims constants as qPqAdc
  register(Q("q55_pq_adc", qPqAdc,
      pqOracleSql(m = 4, k = 8, iters = 1, dims = 64, topK = 5, maxQ = 4)))

  /** The persisted-index ANN read path, end to end: build the IVF-flat
    * index to disk (label-derived 4-dp centroids, posting lists =
    * parquet partitions, precomputed norms), then probe it with
    * nProbe=2 via Similarity.ivfKnnFromIndex — the partition-pruned
    * read a 100 TB deployment actually serves queries from, and the
    * multi-probe recall knob, both under the DuckDB hash gate. */
  private def qIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ivfidx_${math.abs(dir.hashCode)}").getPath
    // skip-if-exists build (the S2 fetch pattern): an index is built
    // once and served many times — repeat calls time the PROBE, the
    // path a deployment actually serves queries from. The _SUCCESS
    // marker of the postings write (the last build step) gates reuse;
    // the build is fully deterministic, so reuse cannot change results.
    if (!new java.io.File(path, "postings/_SUCCESS").exists())
      Similarity.writeIvfIndex(t.embeddings, "vec_id", "embedding",
        "label", path)
    Similarity.ivfKnnFromIndex(s, path,
        t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }
  // the q42 replay with the query side widened to its best TWO cells
  // (rn <= 2) — the from-index nProbe=2 probe of qIvfIndex; candidate
  // assignment (the posting-list layout) stays top-1
  register(Q("q58_ivf_index", qIvfIndex,
      s"""WITH dims AS (
         |  SELECT label AS cell, unnest(embedding)::DOUBLE AS x,
         |         unnest(generate_series(1, len(embedding))) AS d
         |  FROM embeddings),
         |cd AS (SELECT cell, d, round(avg(x), 4) AS c
         |  FROM dims GROUP BY cell, d),
         |cent AS (SELECT cell, list(c ORDER BY d) AS centroid
         |  FROM cd GROUP BY cell),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    round(${cosineSql("e.embedding", "c.centroid")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |best AS (SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |  FROM assign),
         |asg AS (SELECT vec_id, embedding, cell FROM best WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, cell
         |  FROM best WHERE rn <= 2 AND vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, cell FROM asg),
         |scored AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c JOIN q USING (cell) WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin))

  /** The composed IVF-PQ index read path, end to end: train the
    * codebooks, persist coarse-cell-partitioned code-only postings,
    * then ADC-probe via Similarity.pqSearchFromIndex — partition
    * pruning AND ~32× less scanned data per candidate, hash-matched
    * against a full DuckDB replay (train → encode → coarse-assign →
    * prune → ADC). */
  private def qPqIndex(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqidx_${math.abs(dir.hashCode)}").getPath
    // skip-if-exists build, as in qIvfIndex: train + persist once
    // (deterministic), probe per call — codebooks travel WITH the
    // index, so a probe needs only the path.
    if (!new java.io.File(path, "postings/_SUCCESS").exists()) {
      val books = Similarity.pqTrain(t.embeddings, "vec_id", "embedding",
        m = 4, k = 8, iters = 1, dims = 64)
      Similarity.writeIvfPqIndex(t.embeddings, "vec_id", "embedding",
        "label", books, path)
    }
    Similarity.pqSearchFromIndex(s, path,
        t.embeddings.filter(col("vec_id") < 4), "vec_id", "embedding",
        topK = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  // the q55 replay gated by the coarse posting-list layout — the
  // pqSearchFromIndex probe of qPqIndex
  register(Q("q59_pq_index", qPqIndex,
      pqOracleSql(m = 4, k = 8, iters = 1, dims = 64, topK = 5, maxQ = 4,
        coarse = true)))

  /** SemDeDup-style semantic dedup, composed end to end from existing
    * operators: embedding near-dup pairs (LSH-bucket blocked cosine,
    * the q40 stage) → connected components (Dedup.duplicateClusters) →
    * keep the min-id representative per semantic cluster. Output is
    * the per-vector verdict a curation pipeline acts on. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    // adaptive-depth blocking: 8 base bits exactly as before at test
    // scale (no block exceeds the cap there, so the oracle's fixed
    // 8-bit replay still matches); dense/over-cap blocks sub-split
    // with more hyperplane bits instead of going |block|² — the ×100
    // scaling run caught fixed-depth at 187M pairs / ×121 per decade
    val withBucket = Similarity.adaptiveLshBlocks(t.embeddings,
      "embedding", "lsh_blk", baseBits = 8)
    val pairs = Similarity.cosineNearDupPairs(withBucket, "vec_id",
      "embedding", "lsh_blk", threshold = 0.2)
    Dedup.duplicateClusters(pairs)
      .select(col("id").as("vec_id"), col("cluster"),
        (col("id") === col("cluster")).as("keeper"))
      .orderBy(col("vec_id"))
  }
  // the q40 near-dup pair chain closed into semantic clusters by the
  // same recursive transitive closure the q44 oracle uses
  register(Q("q65_semantic_dedup", qSemanticDedup, {
      val projs = (0 until 8).map(j => s"${planeProjSql(j)} AS p$j")
        .mkString(",\n  ")
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH RECURSIVE sig AS (SELECT vec_id, $projs FROM embeddings),
         |b AS (SELECT vec_id, $bucket AS blk FROM sig),
         |l AS (SELECT b.blk, e.vec_id AS id1, e.embedding AS v1
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |r AS (SELECT b.blk, e.vec_id AS id2, e.embedding AS v2
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |p AS (SELECT blk, id1, id2, round(${cosineSql("v1", "v2")}, 6) AS sim
         |  FROM l JOIN r USING (blk) WHERE id1 < id2),
         |np AS (SELECT id1, id2 FROM p WHERE sim >= 0.2),
         |edges AS (SELECT id1 AS a, id2 AS b FROM np
         |  UNION SELECT id2 AS a, id1 AS b FROM np),
         |closure(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a),
         |labels AS (SELECT a AS id, min(b) AS cluster
         |  FROM closure GROUP BY a)
         |SELECT id AS vec_id, cluster, id = cluster AS keeper
         |FROM labels ORDER BY vec_id""".stripMargin
    }))

  /** ANN evaluation harness (Similarity.recallAtK): per-query recall
    * of the 8-bit LSH probe against exact brute-force top-5. */
  private def qRecall(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val queries = t.embeddings.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceKnn(queries, t.embeddings,
      "vec_id", "embedding", k = 5)
    val approx = Similarity.lshKnn(t.embeddings, queries,
      "vec_id", "embedding", nBits = 8, k = 5)
    Similarity.recallAtK(approx, exact, k = 5)
      .orderBy(col("query_id"))
  }
  register(Q("q97_ann_recall", qRecall, {
      val projs = (0 until 8).map(j => s"${planeProjSql(j)} AS p$j")
        .mkString(",\n  ")
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH xq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 8),
         |xc AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |xs AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM xc, xq WHERE query_id <> cand_id),
         |ex AS (SELECT query_id, cand_id FROM (SELECT *, row_number()
         |    OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |    AS rnk FROM xs) WHERE rnk <= 5),
         |sig AS (SELECT vec_id,
         |  $projs
         |  FROM embeddings),
         |b AS (SELECT vec_id, $bucket AS bucket FROM sig),
         |aq AS (SELECT e.vec_id AS query_id, e.embedding AS qv, b.bucket
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id
         |  WHERE e.vec_id < 8),
         |ac AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, b.bucket
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |as_ AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM ac JOIN aq USING (bucket) WHERE query_id <> cand_id),
         |ap AS (SELECT query_id, cand_id FROM (SELECT *, row_number()
         |    OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |    AS rnk FROM as_) WHERE rnk <= 5),
         |hits AS (SELECT a.query_id, count(*) AS n_hits
         |  FROM ap a JOIN ex e
         |  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
         |  GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM ex)
         |SELECT qs.query_id,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  round(coalesce(n_hits, 0)::DOUBLE / 5, 6) AS recall
         |FROM qs LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin
    }))

  /** The index MAINTENANCE path under the hash gate: build the
    * IVF-flat index from the EVEN half of the corpus, upsert the ODD
    * half against the frozen stored centroids
    * (Similarity.upsertIvfIndex — computed cell placement, crash-safe
    * partition swaps), then probe with nProbe=2. The oracle replays
    * rebuild-from-union under the same frozen geometry: centroids from
    * evens only, assignment of ALL vectors, cell-pruned cosine top-k —
    * so a probe after upsert must equal a rebuild, hash-exactly. */
  private def qIvfUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ivfups_${math.abs(dir.hashCode)}").getPath
    // skip-if-exists gate on a marker written AFTER the upsert lands —
    // build+upsert are deterministic, so reuse cannot change results;
    // repeat calls time the probe (the served path), as in qIvfIndex
    val marker = new java.io.File(path, "_UPSERTED")
    if (!marker.exists()) {
      Similarity.writeIvfIndex(
        t.embeddings.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", "label", path)
      Similarity.upsertIvfIndex(s, path,
        t.embeddings.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
      marker.createNewFile()
    }
    Similarity.ivfKnnFromIndex(s, path,
        t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }
  // the q58 replay with frozen-geometry maintenance: centroids come
  // from the EVEN half only (the build set), but assignment covers
  // ALL vectors (build set + upserted odds) — a probe after upsert
  // must equal this rebuild-from-union exactly
  register(Q("q104_ivf_upsert", qIvfUpsert,
      s"""WITH dims AS (
         |  SELECT label AS cell, unnest(embedding)::DOUBLE AS x,
         |         unnest(generate_series(1, len(embedding))) AS d
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |cd AS (SELECT cell, d, round(avg(x), 4) AS c
         |  FROM dims GROUP BY cell, d),
         |cent AS (SELECT cell, list(c ORDER BY d) AS centroid
         |  FROM cd GROUP BY cell),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    round(${cosineSql("e.embedding", "c.centroid")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |best AS (SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |  FROM assign),
         |asg AS (SELECT vec_id, embedding, cell FROM best WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, cell
         |  FROM best WHERE rn <= 2 AND vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, cell FROM asg),
         |scored AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c JOIN q USING (cell) WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin))

  /** SQ8 scalar-quantized cosine top-5 (Similarity.sq8Knn) — the
    * byte-code compression rung measured against q34's exact ranking. */
  private def qSq8Knn(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.sq8Knn(t.embeddings, t.embeddings.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  register(Q("q109_sq8_knn", qSq8Knn,
      s"""WITH $sq8CtesSql,
         |scored AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c, q WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin))

  /** Hard-negative mining (Similarity.hardNegatives): top-3 nearest
    * different-label candidates per query — contrastive training
    * pairs. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.hardNegatives(t.embeddings,
        t.embeddings.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }
  register(Q("q119_hard_negatives", qHardNegatives,
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    label AS q_label FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv,
         |    label AS c_label FROM embeddings),
         |scored AS (SELECT query_id, q_label, cand_id, c_label,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c, q WHERE q_label <> c_label),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, q_label, cand_id, c_label, sim,
         |  CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin))

  /** Two-stage retrieval (Similarity.sq8Rerank): SQ8 byte-code coarse
    * top-12 reranked by exact cosine to top-5. */
  private def qSq8Rerank(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.sq8Rerank(t.embeddings,
        t.embeddings.filter(col("vec_id") < 8),
        "vec_id", "embedding", kCoarse = 12, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  // SQ8 coarse top-12 (q109's chain) reranked by exact cosine on the
  // raw embeddings
  register(Q("q124_sq8_rerank", qSq8Rerank,
      s"""WITH $sq8CtesSql,
         |coarse_sc AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c, q WHERE query_id <> cand_id),
         |coarse AS (SELECT query_id, cand_id FROM (SELECT *,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS rn FROM coarse_sc)
         |  WHERE rn <= 12),
         |cf AS (SELECT vec_id AS cand_id, embedding AS cv2
         |  FROM embeddings),
         |rer AS (SELECT k.query_id, k.cand_id,
         |    round(${cosineSql("qv", "cv2")}, 6) AS sim
         |  FROM coarse k
         |  JOIN cf ON cf.cand_id = k.cand_id
         |  JOIN q ON q.query_id = k.query_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM rer)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin))

  /** Graded retrieval metrics (Similarity.retrievalMetrics): MRR and
    * nDCG@10 of the exact cosine top-10 against label-match relevance —
    * the position-aware evaluation behind every reranker/cutoff
    * decision; q97's recall only says WHETHER the right ids appear. */
  private def qRetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val ranked = Similarity.bruteForceKnn(
      t.embeddings.filter(col("vec_id") < 8), t.embeddings,
      "vec_id", "embedding", k = 10)
    val truth = t.embeddings.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("label"))
      .join(t.embeddings.select(col("vec_id").as("cand_id"), col("label")),
        Seq("label"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
    Similarity.retrievalMetrics(ranked, truth, k = 10)
      .orderBy(col("query_id"))
  }
  // log2 replayed as ln(x)/ln(2) — the exact arithmetic shape of
  // Spark's log(base, x), so the 6-dp metrics agree
  register(Q("q146_retrieval_metrics", qRetrievalMetrics,
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c, q WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM scored),
         |truth AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id
         |  FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 8),
         |rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         |  FROM truth GROUP BY 1),
         |hits AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_hits,
         |    min(r.rnk) AS fr,
         |    sum(CAST(1.0 AS DOUBLE) /
         |      (ln(CAST(r.rnk AS DOUBLE) + 1) / ln(CAST(2.0 AS DOUBLE))))
         |      AS dcg
         |  FROM ranked r JOIN truth t
         |  ON t.query_id = r.query_id AND t.cand_id = r.cand_id
         |  WHERE r.rnk <= 10 GROUP BY 1),
         |idcg AS (SELECT query_id, n_rel,
         |    list_aggregate(list_transform(
         |      generate_series(1, least(n_rel, 10)),
         |      i -> CAST(1.0 AS DOUBLE) /
         |        (ln(CAST(i AS DOUBLE) + 1) / ln(CAST(2.0 AS DOUBLE)))),
         |      'sum') AS ideal
         |  FROM rel)
         |SELECT i.query_id, i.n_rel, coalesce(h.n_hits, 0) AS n_hits,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / h.fr, 0), 6) AS rr,
         |  round(coalesce(h.dcg, 0) / i.ideal, 6) AS ndcg
         |FROM idcg i LEFT JOIN hits h USING (query_id)
         |ORDER BY query_id""".stripMargin))

  /** Multi-probe LSH ANN (Similarity.lshMultiProbeKnn): q35's bucket
    * probe widened to the 2 smallest-margin bit flips (probes=3) — the
    * recall lever that fans out only the broadcast query side, never
    * the index. */
  private def qMultiProbeLsh(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.lshMultiProbeKnn(t.embeddings,
        t.embeddings.filter(col("vec_id") < 8),
        "vec_id", "embedding", nBits = 8, k = 5, probes = 3)
      .orderBy(col("query_id"), col("rank"))
  }
  // q35's plane projections reused; each query's probe set = home
  // bucket + the 2 smallest-|projection| bit flips (ties by bit)
  register(Q("q151_multiprobe_lsh", qMultiProbeLsh, {
      val projs = (0 until 8).map(j => s"${planeProjSql(j)} AS p$j")
        .mkString(",\n  ")
      val bucket = (0 until 8)
        .map(j => s"(CASE WHEN p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      val probeRows = (0 until 8).map(j =>
        s"SELECT vec_id, abs(p$j) AS a, $j AS j, CAST(${1L << j} AS BIGINT) AS m FROM sig WHERE vec_id < 8")
        .mkString("\nUNION ALL\n")
      s"""WITH sig AS (SELECT vec_id,
         |  $projs
         |  FROM embeddings),
         |b AS (SELECT vec_id, $bucket AS bucket FROM sig),
         |pl AS (
         |$probeRows),
         |fl AS (SELECT vec_id, m, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY a, j) AS rn FROM pl),
         |masks AS (SELECT vec_id, CAST(0 AS BIGINT) AS m
         |  FROM b WHERE vec_id < 8
         |  UNION ALL SELECT vec_id, m FROM fl WHERE rn <= 2),
         |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv,
         |    xor(b.bucket, mk.m) AS bucket
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id
         |  JOIN masks mk ON mk.vec_id = e.vec_id WHERE e.vec_id < 8),
         |c AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, b.bucket
         |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         |scored AS (
         |  SELECT query_id, cand_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c JOIN q USING (bucket) WHERE query_id <> cand_id),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS "rank"
         |  FROM scored)
         |SELECT query_id, cand_id, sim, CAST("rank" AS INT) AS "rank"
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin
    }))

  /** MMR diversity reranking (Similarity.mmrRerank): top-10 relevance
    * pool per query, 3 greedy picks at λ = 0.7 — near-duplicate hits
    * can't crowd the result list. The greedy loop is selectK chained
    * stages over the (query × pool²) serving grain. */
  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.mmrRerank(t.embeddings.filter(col("vec_id") < 8),
        t.embeddings, "vec_id", "embedding",
        poolK = 10, selectK = 3, lambda = 0.7)
      .orderBy(col("query_id"), col("mmr_rank"))
  }
  // 3 unrolled greedy MMR steps at λ=0.7 over the top-10 pool.
  // Scores are EXACT integers (1e-7 units: 7·rel6 − 3·ms6 over 6-dp-
  // scaled sims) — λ-arithmetic on 6-dp doubles lands exactly on
  // decimal rounding boundaries, where engines disagree; FP appears
  // only in the display divisions, mirroring Similarity.mmrRerank
  register(Q("q158_mmr_rerank", qMmrRerank,
      s"""WITH sc0 AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${cosineSql("q.embedding", "c.embedding")}, 6) AS rel
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8
         |    AND c.vec_id <> q.vec_id),
         |pool AS (SELECT *, CAST(round(rel * 1e6) AS BIGINT) AS rel6,
         |    row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, cand_id) AS rnk FROM sc0),
         |pk AS (SELECT query_id, cand_id, rel, rel6 FROM pool
         |  WHERE rnk <= 10),
         |ps AS (SELECT a.query_id, a.cand_id, b.cand_id AS sel_id,
         |    CAST(round(${cosineSql("ea.embedding", "eb.embedding")} * 1e6)
         |      AS BIGINT) AS csim6
         |  FROM pk a JOIN pk b ON a.query_id = b.query_id
         |    AND a.cand_id <> b.cand_id
         |  JOIN embeddings ea ON ea.vec_id = a.cand_id
         |  JOIN embeddings eb ON eb.vec_id = b.cand_id),
         |s1 AS (SELECT query_id, cand_id, 1 AS mmr_rank, rel,
         |    0.0e0 AS max_sim_sel,
         |    CAST(7 * rel6 AS DOUBLE) / 1e7 AS mmr_score
         |  FROM pool WHERE rnk = 1),
         |r1 AS (SELECT p.* FROM pk p WHERE NOT EXISTS (SELECT 1 FROM s1
         |  WHERE s1.query_id = p.query_id AND s1.cand_id = p.cand_id)),
         |g2 AS (SELECT r.query_id, r.cand_id, max(r.rel) AS rel,
         |    max(r.rel6) AS rel6, max(ps.csim6) AS ms6
         |  FROM r1 r JOIN s1 ON s1.query_id = r.query_id
         |  JOIN ps ON ps.query_id = r.query_id AND ps.cand_id = r.cand_id
         |    AND ps.sel_id = s1.cand_id
         |  GROUP BY r.query_id, r.cand_id),
         |m2 AS (SELECT *, 7 * rel6 - 3 * ms6 AS sc FROM g2),
         |w2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sc DESC, cand_id) AS rn FROM m2),
         |s2 AS (SELECT query_id, cand_id, 2 AS mmr_rank, rel,
         |    CAST(ms6 AS DOUBLE) / 1e6 AS max_sim_sel,
         |    CAST(sc AS DOUBLE) / 1e7 AS mmr_score FROM w2 WHERE rn = 1),
         |sel2 AS (SELECT query_id, cand_id FROM s1
         |  UNION ALL SELECT query_id, cand_id FROM s2),
         |r2 AS (SELECT p.* FROM pk p WHERE NOT EXISTS (SELECT 1 FROM sel2
         |  WHERE sel2.query_id = p.query_id AND sel2.cand_id = p.cand_id)),
         |g3 AS (SELECT r.query_id, r.cand_id, max(r.rel) AS rel,
         |    max(r.rel6) AS rel6, max(ps.csim6) AS ms6
         |  FROM r2 r JOIN sel2 s ON s.query_id = r.query_id
         |  JOIN ps ON ps.query_id = r.query_id AND ps.cand_id = r.cand_id
         |    AND ps.sel_id = s.cand_id
         |  GROUP BY r.query_id, r.cand_id),
         |m3 AS (SELECT *, 7 * rel6 - 3 * ms6 AS sc FROM g3),
         |w3 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sc DESC, cand_id) AS rn FROM m3),
         |s3 AS (SELECT query_id, cand_id, 3 AS mmr_rank, rel,
         |    CAST(ms6 AS DOUBLE) / 1e6 AS max_sim_sel,
         |    CAST(sc AS DOUBLE) / 1e7 AS mmr_score FROM w3 WHERE rn = 1)
         |SELECT query_id, cand_id, mmr_rank, rel, max_sim_sel, mmr_score
         |FROM s1 UNION ALL SELECT query_id, cand_id, mmr_rank, rel,
         |  max_sim_sel, mmr_score FROM s2
         |UNION ALL SELECT query_id, cand_id, mmr_rank, rel, max_sim_sel,
         |  mmr_score FROM s3
         |ORDER BY query_id, mmr_rank""".stripMargin))

  /** Johnson-Lindenstrauss random projection
    * (Similarity.randomProjection): 64-dim embeddings to 8 dims via
    * the closed-form ±1 LCG-parity matrix — the oracle regenerates the
    * identical matrix from (d, j) arithmetic and order-folds the same
    * float sums. */
  private def qRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.randomProjection(t.embeddings, "vec_id", "embedding", k = 8)
      .orderBy(col("vec_id"), col("dim"))
  }
  register(Q("q172_random_projection", qRandomProjection,
      """WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS j
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(8)) AS dim),
        |terms AS (
        |  SELECT vec_id, dim, j,
        |    v * (CASE WHEN (j * 1103515245 + dim * 12345 + 54321)
        |        % 97 % 2 = 0 THEN 1.0 ELSE -1.0 END) AS term
        |  FROM e, dims)
        |SELECT vec_id, CAST(dim AS INT) AS dim,
        |  round(list_aggregate(list(term ORDER BY j), 'sum')
        |    / sqrt(8.0), 6) AS value
        |FROM terms
        |GROUP BY vec_id, dim
        |ORDER BY vec_id, dim""".stripMargin))

  /** Per-dimension z-score standardization (Similarity.standardizeDims)
    * of the embedding table — dim-grain population stats broadcast back
    * onto the exploded rows. */
  private def qStandardizeDims(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.standardizeDims(t.embeddings, "vec_id", "embedding")
      .orderBy(col("vec_id"), col("dim"))
  }
  register(Q("q173_standardize_dims", qStandardizeDims,
      """WITH e AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim
        |  FROM embeddings),
        |stats AS (
        |  SELECT dim, avg(v) AS mu, stddev_pop(v) AS sd
        |  FROM e GROUP BY dim)
        |SELECT vec_id, dim,
        |  round(CASE WHEN sd > 0.0 THEN (v - mu) / sd END, 5) AS z
        |FROM e JOIN stats USING (dim)
        |ORDER BY vec_id, dim""".stripMargin))

  /** Margin-based pair mining at the scale path
    * (Similarity.blockedMarginBitextPairs): label-0 vectors as the
    * source side, label-1 as the target — each source's nearest
    * same-block target with its ratio margin over both k=4 block
    * neighborhoods and the mutual-rank-1 flag. Neighborhoods live in
    * deterministic 4-bit hyperplane-LSH blocks (adaptively refined
    * past the 512 cap, the q65 treatment), so pair volume is
    * ~n·cap/4 instead of |src|·|tgt| — the brute form of this query
    * measured ×132/decade at the ×100 audit. The margin stays
    * exact-integer algebra over 1e-6-quantized sims and the blocks
    * never refine at oracle scale, so DuckDB reproduces every digit
    * from the fixed 4-bit bucket. */
  private def qBitextMining(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.blockedMarginBitextPairs(
        t.embeddings.filter(col("label") === 0),
        t.embeddings.filter(col("label") === 1),
        "vec_id", "embedding", k = 4, baseBits = 4, maxBlockSize = 512)
      .orderBy(col("src_id"))
  }
  // blocked margin mining: the block key is the fixed 4-bit
  // hyperplane-sign bucket (adaptive refinement never fires at this
  // scale — the q65 oracle trick); both kNN directions rank the
  // same within-block sim matrix
  register(Q("q196_bitext_mining", qBitextMining, {
      val projs = (0 until 4).map(j => s"${planeProjSql(j)} AS p$j")
        .mkString(",\n  ")
      val bucket = (0 until 4)
        .map(j => s"(CASE WHEN p$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sig AS (SELECT vec_id, label, embedding, $projs
         |  FROM embeddings WHERE label IN (0, 1)),
         |b AS (SELECT vec_id, label, embedding, $bucket AS blk FROM sig),
         |s AS (SELECT blk, vec_id, embedding FROM b WHERE label = 0),
         |t AS (SELECT blk, vec_id, embedding FROM b WHERE label = 1),
         |sims AS (SELECT s.vec_id AS sid, t.vec_id AS tid,
         |    round(${cosineSql("s.embedding", "t.embedding")}, 6) AS sim
         |  FROM s JOIN t ON s.blk = t.blk),
         |fr AS (SELECT *, row_number() OVER
         |    (PARTITION BY sid ORDER BY sim DESC, tid) AS rn FROM sims),
         |fa AS (SELECT sid,
         |    sum(CAST(round(sim * 1000000, 0) AS BIGINT)) AS fsum,
         |    max(CASE WHEN rn = 1 THEN tid END) AS tgt_id,
         |    max(CASE WHEN rn = 1 THEN sim END) AS sim
         |  FROM fr WHERE rn <= 4 GROUP BY sid),
         |br AS (SELECT *, row_number() OVER
         |    (PARTITION BY tid ORDER BY sim DESC, sid) AS rn FROM sims),
         |ba AS (SELECT tid,
         |    sum(CAST(round(sim * 1000000, 0) AS BIGINT)) AS bsum,
         |    max(CASE WHEN rn = 1 THEN sid END) AS b_src
         |  FROM br WHERE rn <= 4 GROUP BY tid)
         |SELECT fa.sid AS src_id, fa.tgt_id, fa.sim,
         |  round(8.0 * CAST(round(fa.sim * 1000000, 0) AS BIGINT)
         |    / (fsum + bsum), 6) AS margin,
         |  (b_src = fa.sid) AS mutual
         |FROM fa JOIN ba ON fa.tgt_id = ba.tid
         |ORDER BY src_id""".stripMargin
    }))

  /** Matryoshka-truncation recall (Similarity.truncatedRecall): for
    * eight query vectors, how much of the exact 64-dim top-5 the
    * 16-dim prefix ranking keeps — the measurement behind serving a
    * truncated first-stage index. */
  private def qMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Similarity.truncatedRecall(
        t.embeddings.filter(col("vec_id") < 8), t.embeddings,
        "vec_id", "embedding", dims = 16, k = 5)
      .orderBy(col("query_id"))
  }
  register(Q("q205_matryoshka_recall", qMatryoshka,
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |    FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |ex AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM c, q WHERE query_id <> cand_id),
         |exr AS (SELECT query_id, cand_id FROM (SELECT *, row_number()
         |    OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |    AS rn FROM ex) WHERE rn <= 5),
         |tq AS (SELECT query_id, qv[1:16] AS qv FROM q),
         |tc AS (SELECT cand_id, cv[1:16] AS cv FROM c),
         |tr0 AS (SELECT query_id, cand_id,
         |    round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM tc, tq WHERE query_id <> cand_id),
         |trr AS (SELECT query_id, cand_id FROM (SELECT *, row_number()
         |    OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id)
         |    AS rn FROM tr0) WHERE rn <= 5)
         |SELECT e.query_id, count(*) AS k_exact,
         |  CAST(sum(CASE WHEN t.cand_id IS NULL THEN 0 ELSE 1 END)
         |    AS BIGINT) AS n_kept,
         |  round(sum(CASE WHEN t.cand_id IS NULL THEN 0 ELSE 1 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM exr e LEFT JOIN trr t
         |  ON e.query_id = t.query_id AND e.cand_id = t.cand_id
         |GROUP BY e.query_id
         |ORDER BY e.query_id""".stripMargin))
}
