package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.operators.{Packing, TextAnalysis}
import OracleSql.{normTextSql, wsTokensSql}

/** Queries exercising [[graft.operators.Packing]]. */
private[graft] object PackingQueries extends Queries {

  /** Sequence packing into 512-token context windows per source shard:
    * per-bin fill report (Packing.packBins / binStats). */
  private def qPack(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("source"), col("doc_id"),
      size(GF.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val packed = Packing.packBins(docs, "source", "doc_id", "n_tokens",
      capacity = 512L)
    Packing.binStats(packed, "source", "n_tokens", capacity = 512L)
      .orderBy(col("source"), col("bin"))
  }
  register(Q("q53_pack", qPack,
      s"""WITH t AS (SELECT source, doc_id,
         |    len(${wsTokensSql("text")}) AS n_tokens FROM documents),
         |c AS (SELECT source, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |      - n_tokens AS cum
         |  FROM t),
         |b AS (SELECT source, cum // 512 AS bin, n_tokens FROM c)
         |SELECT source, CAST(bin AS BIGINT) AS bin,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  round(sum(n_tokens)::DOUBLE / 512, 6) AS fill_ratio
         |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin))

  /** Power-of-two length bucketing (Packing.lengthBuckets) over
    * whitespace token counts per language — the padding-waste report a
    * dynamic-batching trainer schedules from. */
  private def qLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val toks = TextAnalysis.tokenCounts(
        t.documents.select(col("doc_id"), col("lang"), col("text")), "text")
      .select(col("doc_id"), col("lang"), col("ws_tokens").as("n_tokens"))
    Packing.lengthBuckets(toks, "n_tokens", keys = Seq("lang"))
      .orderBy(col("lang"), col("bucket_cap"))
  }
  // integer bit arithmetic for the 2^k boundary on BOTH sides (never
  // floating log2); DuckDB sums of INTs are HUGEINT, hence the casts
  register(Q("q67_length_buckets", qLengthBuckets,
      s"""WITH toks AS (SELECT doc_id, lang,
         |    greatest(len(${wsTokensSql("text")}), 1) AS n
         |  FROM documents),
         |b AS (SELECT lang, n, CASE WHEN n = 1 THEN CAST(1 AS BIGINT)
         |    ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END
         |      AS bucket_cap
         |  FROM toks)
         |SELECT lang, bucket_cap, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS sum_tokens,
         |  CAST(count(*) * bucket_cap - sum(n) AS BIGINT) AS padding,
         |  round(CAST(count(*) * bucket_cap - sum(n) AS DOUBLE) /
         |    (count(*) * bucket_cap), 6) AS waste_ratio
         |FROM b GROUP BY lang, bucket_cap
         |ORDER BY lang, bucket_cap""".stripMargin))

  /** Sliding-window token chunking, 16-token chunks with 4-token
    * overlap (Packing.chunkTokens) — RAG/embedding prep. */
  private def qChunking(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Packing.chunkTokens(t.documents, "text", "doc_id",
        chunkSize = 16, overlap = 4)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }
  // chunkSize=16, overlap=4 -> stride 12; last start =
  // floor((n-overlap-1)/stride)*stride clamped at 0
  register(Q("q111_chunking", qChunking,
      s"""WITH docs_norm AS (SELECT doc_id, $normTextSql AS norm FROM documents),
         |arrs AS (SELECT doc_id, ${wsTokensSql("norm")} AS arr
         |  FROM docs_norm),
         |nz AS (SELECT doc_id, arr FROM arrs WHERE len(arr) > 0),
         |st AS (SELECT doc_id, arr, unnest(generate_series(0,
         |    greatest(CAST(floor((len(arr) - 4 - 1) / 12.0e0) AS BIGINT),
         |      0) * 12, 12)) AS s FROM nz),
         |ch AS (SELECT doc_id, s, list_slice(arr, s + 1, s + 16) AS chunk
         |  FROM st)
         |SELECT doc_id, CAST(s // 12 AS INT) AS chunk_idx,
         |  CAST(s AS BIGINT) AS start_pos,
         |  CAST(len(chunk) AS INT) AS n_tokens,
         |  array_to_string(chunk, ' ') AS chunk_text
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin))
}
