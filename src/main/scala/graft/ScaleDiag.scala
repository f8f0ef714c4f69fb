package graft

/** Scaling-audit diagnostic: candidate-pair counts for the two
  * pair-search operators whose cost is candidate-grain, measured
  * THROUGH the production code paths (Dedup.prefixFilterParts /
  * Dedup.simhashPairParts — no duplicated logic to drift).
  *
  * Why a dedicated main: wall-clock alone cannot distinguish "the
  * candidate stage grew linearly" from "fixed buckets went quadratic
  * but the host absorbed it this decade" (the q65 lesson — 187M
  * candidate pairs hid behind a 234 s wall time until ×100). The
  * per-decade CANDIDATE ratio is the structural number; this prints
  * it per corpus so the committed scaling artifact can log it.
  *
  * Usage: ScaleDiag <sfDir>  →  one JSON line:
  * {"sf":…,"n_docs":N,"q182_candidates":N,"q182_suffix_survivors":N,
  *  "q204_candidates":N,"q196_blocked_sims":N,
  *  "q65_block_pair_bound":N,"q65_neardup_pairs":N}
  * (q204_candidates is the production 2×32-bit radius-1 scheme).
  *
  * `ScaleDiag <sfDir> --pca-dims` instead times the q175 covariance
  * stage at production embedding dims (see below).
  */
object ScaleDiag {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleDiag <sfDir> [--pca-dims]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --pca-dims: constant-factor probe for the q175 covariance stage
    // at PRODUCTION embedding dims. The ×10/×100 audits scale rows,
    // never dims, so a per-row d²/2 constant is invisible to them (the
    // r15 watch item): this mode times pcaPowerComponent end-to-end at
    // d = 64/256/768 over a fixed synthetic row count and prints one
    // JSON line for the audit notes. Deterministic input (murmur-hash
    // values), materialized before timing so the probe isolates the
    // operator, not the generator.
    if (args.contains("--pca-dims")) {
      import org.apache.spark.sql.functions._
      val n = 20000L
      // untimed warmup: JIT + codegen + the aggregate's class loading
      // land here, not in the first timed dim
      graft.operators.Profiling.pcaPowerComponent(
        spark.range(500).select(transform(sequence(lit(0), lit(15)),
          i => (pmod(hash(col("id") * 31 + i), lit(2000)) - lit(1000))
            .cast("double") / 1000.0).as("embedding")),
        "embedding", iters = 3).count()
      val out = Seq(64, 256, 768).map { d =>
        // EAGER checkpoint: the generator and the checkpoint write run
        // here, BEFORE t0 — a lazy checkpoint would put both inside
        // the timed window and the probe would measure the generator
        val emb = spark.range(n).select(
          transform(sequence(lit(0), lit(d - 1)),
            i => (pmod(hash(col("id") * 31 + i), lit(2000)) - lit(1000))
              .cast("double") / 1000.0).as("embedding"))
          .localCheckpoint()
        val t0 = System.nanoTime()
        graft.operators.Profiling
          .pcaPowerComponent(emb, "embedding", iters = 3).count()
        val sec = (System.nanoTime() - t0) / 1e9
        f"""{"dims":$d,"n":$n,"sec":$sec%.3f}"""
      }
      println(s"""{"pca_dims":${out.mkString("[", ",", "]")}}""")
      spark.stop()
      return
    }
    val docs = Tables(spark, sfDir).documents
    val nDocs = docs.count()
    val prefixParts = graft.operators.Dedup
      .prefixFilterParts(docs, "text", "doc_id", threshold = 0.5,
        shingleN = 3)
    val prefix = prefixParts.cand.count()
    // candidates that survive the PPJoin+ partition (suffix) filter —
    // the pairs that actually reach the exact verification merge
    val prefixSurv = graft.operators.Dedup
      .suffixFilterSurvivors(prefixParts, "doc_id", threshold = 0.5)
      .count()
    // the production default: 2×32-bit bands, radius-1 probe join
    val sim64 = graft.operators.Dedup
      .simhashPairParts(docs, "text", "doc_id", maxHamming = 3,
        nBits = 64, bands = 2).cand.count()
    // q196's blocked margin miner: within-block (src, tgt) sim pairs
    // through the production stage (bounded ~n·cap/4 by construction;
    // this logs the observed number per decade)
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sfDir).embeddings
    val q196 = graft.operators.Similarity
      .blockedMarginSims(emb.filter(col("label") === 0),
        emb.filter(col("label") === 1), "vec_id", "embedding",
        baseBits = 4, maxBlockSize = 512).count()
    // q65's SemDeDup stage, through the production path: adaptive LSH
    // blocks over the embeddings, the analytic intra-block candidate
    // bound Σ c·(c−1)/2 (O(corpus) at any scale), and the pairs that
    // actually clear the cosine threshold — the connected-components
    // input whose growth decides whether q65's wall ratio is pair
    // volume or fixed overhead
    val q65Blocks = graft.operators.Similarity
      .adaptiveLshBlocks(emb, "embedding", "lsh_blk", baseBits = 8)
    val q65Bound = q65Blocks.groupBy(col("lsh_blk")).count()
      .selectExpr("CAST(sum(count * (count - 1) DIV 2) AS BIGINT) AS b")
      .head().getLong(0)
    val q65Pairs = graft.operators.Similarity
      .cosineNearDupPairs(q65Blocks, "vec_id", "embedding", "lsh_blk",
        threshold = 0.2).count()
    println(s"""{"sf":"$sfDir","n_docs":$nDocs,""" +
      s""""q182_candidates":$prefix,""" +
      s""""q182_suffix_survivors":$prefixSurv,""" +
      s""""q204_candidates":$sim64,""" +
      s""""q196_blocked_sims":$q196,""" +
      s""""q65_block_pair_bound":$q65Bound,""" +
      s""""q65_neardup_pairs":$q65Pairs}""")
    spark.stop()
  }
}
