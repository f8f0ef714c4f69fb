package graft.operators

import graft.GraftCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.{GF, PPJoinBoundExpr, PPJoinJaccardExpr}

/** Deduplication operators for large-scale text corpora (north-star ops;
  * BASELINE.json). Exact, MinHash-LSH, SimHash and n-gram-Jaccard
  * variants, all built from codegen'd `functions._` expressions on a
  * portable hash (GF.hash32) so results are engine-independent.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash-shuffle on a 16-byte digest, not the text;
  *  - minhash candidates shuffle only (band, bucket) pairs — the classic
  *    LSH trick keeps the self-join linear-ish instead of quadratic;
  *  - verification (jaccard) runs only on candidate pairs.
  */
object Dedup {

  /** Default LSH bucket-size cap for production dedup paths (r8 verdict:
    * the cap existed but nothing turned it on). 1024 keeps every
    * honest near-dup bucket intact — real duplicate groups are orders
    * of magnitude smaller — while bounding the degenerate-signature
    * blow-up (empty/boilerplate docs sharing one signature) to star
    * expansion. Pass `Int.MaxValue` for the uncapped all-pairs plan. */
  val DefaultMaxBucketSize: Int = 1024

  /** Canonical text normalization applied before hashing: lowercase,
    * strip non-alphanumerics to spaces, collapse whitespace. Native
    * one-pass expression — byte-equal to the regex chain
    * `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", " "),
    * "\\s+", " "))` it replaces (GFSpec pins the equality on curated
    * fixtures, PropertySpec on generated Unicode strings); the SQL
    * oracle keeps replaying the regex form. */
  def normalizeText(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.NormTextExpr(ColumnBridge.expression(c)))
  }

  /** Normalized whitespace tokens — the one-pass native form of
    * `GF.wsTokens(normalizeText(c))` (same array, same order, same
    * type), used by every shingle / token-stream operator. */
  def normTokens(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.NormTokensExpr(ColumnBridge.expression(c)))
  }

  /** Exact duplicate groups: md5 over normalized text; returns one row
    * per duplicated digest with group size and the kept (min) id. */
  def exactDuplicateGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(md5(normalizeText(col(textCol))).as("digest"), col(idCol))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("keeper_id"))
      .filter(col("group_size") > 1)

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct normalized-text digests they share, plus the overlap
    * coefficient shared/min(|A|,|B|) — the "is crawl B mostly a re-crawl
    * of A" signal that decides which sources are worth ingesting.
    *
    * Scale shape: the corpus collapses to distinct (source, digest)
    * FIRST (one shuffle at digest grain — the 16-byte digest, never the
    * text), so the self-join matches digest-grain frames; a digest
    * joins only across the handful of sources that share it, so the
    * join output is bounded by Σ_digest (#sources holding it)², not by
    * corpus². The pair frame and per-source totals are sources²-sized
    * metadata, combined broadcast-side. */
  def sourceOverlap(docs: DataFrame, textCol: String, idCol: String,
      srcCol: String): DataFrame = {
    val sd = docs.select(col(srcCol).as("source"),
        md5(normalizeText(col(textCol))).as("digest"))
      .distinct()
    val sizes = sd.groupBy(col("source"))
      .agg(count(lit(1)).as("n_digests"))
    val shared = sd.as("a")
      .join(sd.as("b"), col("a.digest") === col("b.digest") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source1"), col("b.source").as("source2"))
      .agg(count(lit(1)).as("n_shared"))
    // complete matrix: every source pair appears, zero-shared included
    val matrix = broadcast(sizes.select(col("source").as("source1"),
        col("n_digests").as("n1")))
      .join(broadcast(sizes.select(col("source").as("source2"),
        col("n_digests").as("n2"))), col("source1") < col("source2"))
    matrix.join(shared, Seq("source1", "source2"), "left")
      .select(col("source1"), col("source2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n1"), col("n2"),
        round(coalesce(col("n_shared"), lit(0L)) /
          least(col("n1"), col("n2")), 6).as("overlap"))
  }

  /** Duplicate-inflation report per source: raw rows vs distinct
    * normalized-text digests — a source whose inflation factor is far
    * above 1 is re-serving the same content (mirror, pagination echo,
    * template farm) and its volume overstates its value. One
    * digest-grain aggregation per source; the ratio is the only
    * floating point, rounded 6 dp. */
  def dupInflation(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame =
    docs.select(col(srcCol).as("source"),
        md5(normalizeText(col(textCol))).as("digest"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("digest")).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round(col("n_docs").cast("double") / col("n_distinct"), 6)
          .as("inflation"))

  /** Exact dedup: keep the min-id row per digest. Implemented as a
    * groupBy + min + semi-join back (no row_number window: the digest
    * agg is partial-aggregatable, the window would not be). */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = docs
      .select(md5(normalizeText(col(textCol))).as("digest"), col(idCol))
      .groupBy(col("digest")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Word n-gram shingle array from an ALREADY-MATERIALIZED token array
    * column. Element-indexed construction — O(tokens) per row, no
    * slice-copy. The token array must live in its own projection: a
    * lambda body referencing a composite expression (tokenize+normalize)
    * defeats Catalyst's subexpression elimination and re-runs the
    * regexes per element — measured 25× slower. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array(concat_ws(" ", toks)))

  /** Scalar Column form of the shingle construction — the SQL-surface
    * sibling of [[shingleRows]] (registered as `graft_shingles`).
    * Convenience form: the composed lambda defeats Catalyst's
    * subexpression elimination (tokenization re-runs per element), so
    * corpus-scale jobs should use the projection-split [[shingleRows]];
    * this exists so SQL-only users can reach the same semantics. */
  def shinglesCol(text: Column, n: Int): Column =
    shinglesFromTokens(normTokens(text), n)

  /** Scalar Column form of [[simhash]] (registered as `graft_simhash`):
    * one aggregate fold over the token-hash array carrying the nBits
    * bit-vote counters, finished by packing strictly-positive votes
    * into the hash — bit-identical to the DataFrame operator (parity
    * in ExtensionsSpec). */
  def simhashCol(text: Column, nBits: Int = 32): Column = {
    val hs = transform(normTokens(text),
      t => GF.hash32(t))
    aggregate(hs,
      array_repeat(lit(0L), nBits),
      (acc, h) => transform(acc, (x, i) =>
        x + when(call_function("shiftright", h, i)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
      counters => aggregate(
        zip_with(counters, sequence(lit(0), lit(nBits - 1)),
          (s, j) => when(s > 0, call_function("shiftleft", lit(1L), j))
            .otherwise(lit(0L))),
        lit(0L), (a, v) => a + v))
  }

  /** Scalar Column form of one band's LSH bucket (registered as
    * `graft_lsh_bucket`): the md5 bucket [[lshBuckets]] emits for
    * `band`, computed per row from the raw text with the same
    * universal-hash family and defaults as [[writeSignatureIndex]] —
    * so a SQL-only user can probe the persisted signature index. */
  def lshBucketCol(text: Column, band: Int, k: Int = 8, bands: Int = 4,
      shingleN: Int = 3): Column = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(band >= 0 && band < bands, s"band=$band out of [0, $bands)")
    val r = k / bands
    val hs = transform(shinglesCol(text, shingleN), s => GF.hash32(s))
    val mhs = (band * r until (band + 1) * r).map(i =>
      array_min(transform(hs, h =>
        (h * lit(2L * i + 1) + lit(101L * i + 17))
          % lit(GF.MinhashPrime))))
    md5(concat_ws("_", mhs.map(_.cast("string")): _*))
  }

  /** Exploded (id, shingle) rows: tokenize in one projection, shingle +
    * explode in the next. `repartitionTo` spreads the CPU-bound regex
    * work — byte-based input splits undercount tokenization cost, so a
    * single small parquet file would otherwise pin one core. */
  def shingleRows(docs: DataFrame, textCol: String, idCol: String,
      n: Int, repartitionTo: Int = 0): DataFrame = {
    val base0 = docs.select(col(idCol), col(textCol))
    val parts =
      if (repartitionTo > 0) repartitionTo
      else docs.sparkSession.sparkContext.defaultParallelism
    // File count is a plan-free proxy for scan parallelism (the old
    // .rdd.getNumPartitions check forced an RDD plan conversion at
    // construction time). Few files → byte-based splits undercount the
    // CPU-bound regex work → spread rows first. Non-file sources
    // (memory relations in tests) report 0 files and are left alone.
    val nFiles = base0.inputFiles.length
    val base = if (nFiles > 0 && nFiles < parts)
      base0.repartition(parts) else base0
    base
      .select(col(idCol),
        normTokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(shinglesFromTokens(col("toks"), n))
        .as("shingle"))
  }

  /** EXACT Jaccard similarity join via AllPairs/PPJoin prefix
    * filtering — the deterministic alternative to MinHash-LSH when the
    * answer must be the exact pair set, not a recall-tuned
    * approximation.
    *
    * Guarantee: order every document's shingle set by ascending
    * document frequency (rare first, shingle text as tiebreak); any
    * pair with Jaccard ≥ t must share a shingle within each side's
    * first |d| − ceil(t·|d|) + 1 shingles. So candidates come from an
    * equi-join on PREFIX shingles only — the frequent-token floods that
    * make the naive token join quadratic never enter the pair build —
    * and each candidate is then verified with an exact intersection
    * count over the full sets. The result EQUALS the brute-force join
    * (the oracle computes the brute force; the algorithm must agree).
    *
    * Scale shape: df is a shingle-grain aggregate; the prefix pick is
    * a doc-keyed window; the candidate join keys on (rare) shingles so
    * bucket sizes are bounded by those shingles' df; PPJoin's length
    * and positional filters (see [[prefixFilterParts]]) then cut
    * candidate rows BEFORE the pair distinct — both provably keep the
    * exact pair set; verification joins at candidate-pair grain. */
  /** The shingle/size/candidate intermediates of [[prefixFilterJoin]],
    * exposed so the scaling diagnostics (graft.ScaleDiag) can count
    * the candidate-pair stage THROUGH the production code path — the
    * AllPairs prefix bound is df-dependent, so candidate growth under
    * corpus scaling is an empirical number worth logging per audit,
    * not a formula. */
  private[graft] case class PrefixJoinParts(sh: DataFrame,
      sizes: DataFrame, cand: DataFrame)

  private[graft] def prefixFilterParts(docs: DataFrame, textCol: String,
      idCol: String, threshold: Double, shingleN: Int,
      ppFilters: Boolean = true): PrefixJoinParts = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val sh = shingleRows(docs, textCol, idCol, shingleN)
      .distinct().graftCp(false)
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_df"), col("shingle"))
    val prefix = sh.join(dfreq, Seq("shingle"))
      .withColumn("_pos", row_number().over(w))
      .join(sizes, Seq(idCol))
      .filter(col("_pos") <=
        col("_n") - ceil(lit(threshold) * col("_n")) + 1)
      .select(col(idCol), col("shingle"), col("_pos"), col("_n"))
    // PPJoin candidate-stage reductions (Xiao et al., WWW'08), all
    // exactness-preserving. The witness for every true pair is w₁, its
    // MINIMAL shared shingle in the global (df, shingle) order; with
    // α = t/(1+t)·(n_a+n_b) the required overlap, ≥ α−1 shared
    // shingles follow w₁ on BOTH sides, so p(w₁) ≤ n − α + 1 on each.
    //  * index-prefix join: one join side emits only its INDEX prefix
    //    (pos ≤ n − ceil(2t/(1+t)·n) + 1 — much shorter than the probe
    //    prefix), oriented so the index side is the SHORTER doc (ties
    //    by id). Safe because α ≥ 2t/(1+t)·n_short (from
    //    n_a+n_b ≥ 2·n_short) puts w₁ inside the shorter side's index
    //    prefix, and α ≥ t·n_long (given the length filter below
    //    holds, as it must for a true pair) puts w₁ inside the longer
    //    side's probe prefix — so w₁'s row enters the join.
    //  * length filter: J ≥ t ⟹ min(n_a,n_b) ≥ t·max(n_a,n_b)
    //    (overlap ≤ min, union ≥ max), valid on EVERY row of the pair;
    //  * accumulated positional filter (the paper's candidate-count
    //    accumulation, strictly ≥ the single-row w₁ form): group the
    //    pair's prefix-join rows and bound
    //    overlap ≤ A + min(n_a − p_a^last, n_b − p_b^last), A = the
    //    number of shared prefix-join tokens, p^last their max
    //    positions. Exact because positions follow the one global
    //    (df, shingle) order inside every doc, so the A rows' max _pa
    //    and max _pb are achieved by the SAME token w_last, and every
    //    shared token NOT among the A rows is globally greater than
    //    w_last (a globally-smaller shared token would sit inside both
    //    prefixes — position monotonicity — and hence be an A row),
    //    i.e. sits after p^last on BOTH sides: at most
    //    min(n_a − p_a^last, n_b − p_b^last) of them exist. At A = 1
    //    this IS the w₁ positional filter; each extra shared prefix
    //    token tightens it.
    // The 1e-9 slacks keep float rounding from cutting an exactly-at-
    // threshold pair (ceil(x−ε) can only LENGTHEN a prefix);
    // verification re-checks candidates exactly anyway.
    val eps = 1e-9
    val index = if (!ppFilters) prefix else prefix.filter(
      col("_pos") <= col("_n") -
        ceil(lit(2.0 * threshold / (1.0 + threshold)) * col("_n") - eps) + 1)
    val ia = index.select(col(idCol).as("id_a"), col("shingle"),
      col("_pos").as("_pa"), col("_n").as("_na"))
    val pb = prefix.select(col(idCol).as("id_b"), col("shingle"),
      col("_pos").as("_pb"), col("_n").as("_nb"))
    val joined =
      if (!ppFilters) ia.join(pb, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
      else ia.join(pb, Seq("shingle"))
        .filter(col("_na") < col("_nb") ||
          (col("_na") === col("_nb") && col("id_a") < col("id_b")))
    val cand = if (!ppFilters) joined
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    else joined
      // length filter is pair-constant: applying it per row prunes
      // BEFORE the pair shuffle without affecting the A count below
      .filter(col("_na").cast("double") >=
        lit(threshold) * col("_nb") - eps)
      // one groupBy replaces the old per-row positional filter AND the
      // pair distinct — same single shuffle, four small agg columns.
      // _na/_nb are pair-constant; max doubles as `first`.
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_A"), max(col("_pa")).as("_pam"),
        max(col("_pb")).as("_pbm"), max(col("_na")).as("_na"),
        max(col("_nb")).as("_nb"))
      .filter((col("_A") + least(col("_na") - col("_pam"),
          col("_nb") - col("_pbm"))).cast("double") >=
        lit(threshold / (1.0 + threshold)) *
          (col("_na") + col("_nb")) - eps)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    PrefixJoinParts(sh, sizes, cand)
  }

  def prefixFilterJoin(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame =
    verifyCandidates(
      prefixFilterParts(docs, textCol, idCol, threshold, shingleN),
      idCol, threshold)

  /** Per-document sorted distinct shingle arrays — the verification
    * payload of the merge-based PPJoin verify. One groupBy over the
    * (already distinct) shingle relation; `sort_array` gives strictly
    * ascending binary order, the order [[graft.functions.SetSim]]
    * merges in. Per-doc arrays are bounded by document length, so the
    * payload is O(doc) regardless of corpus size. */
  private[graft] def docShingleArrays(sh: DataFrame,
      idCol: String): DataFrame =
    sh.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("shingle"))).as("_arr"))

  /** Exact verification of an AllPairs/PPJoin candidate set, the
    * literature-standard way (Xiao et al., WWW'08 §4-5): attach each
    * side's sorted shingle array at CANDIDATE-PAIR grain and verify
    * with one codegen'd scalar call — the PPJoin+ partition (suffix)
    * filter rejecting provably-below-t pairs in O(depth·log n), then
    * an early-exit merge counting the exact intersection
    * ([[graft.functions.PPJoinJaccardExpr]]). Replaces the former
    * relational verify (re-exploding every candidate to shingle grain:
    * two joins + a count aggregate over candidates × doc-size rows);
    * the pair-grain array joins move O(candidates · doc) bytes once
    * and the rest is a scalar loop inside whole-stage codegen.
    * Results are bit-identical: the merge counts the same distinct
    * intersection the relational count did, and the Jaccard is the
    * same long-count double division. Split out of
    * [[prefixFilterJoin]] so the spec can pin that the PPJoin
    * length/positional filters change only the CANDIDATE count, never
    * the verified pair set. */
  private[graft] def verifyCandidates(parts: PrefixJoinParts,
      idCol: String, threshold: Double): DataFrame = {
    val PrefixJoinParts(sh, _, cand) = parts
    val arrs = docShingleArrays(sh, idCol)
    cand
      .join(arrs.select(col(idCol).as("id_a"), col("_arr").as("_aa")),
        Seq("id_a"))
      .join(arrs.select(col(idCol).as("id_b"), col("_arr").as("_ab")),
        Seq("id_b"))
      .withColumn("_j", ColumnBridge.column(PPJoinJaccardExpr(
        ColumnBridge.expression(col("_aa")),
        ColumnBridge.expression(col("_ab")), threshold)))
      .filter(col("_j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("_j"), 6).as("jaccard"))
  }

  /** Diagnostic: candidates surviving the PPJoin+ partition (suffix)
    * filter — the pairs that actually enter the exact merge. Counted
    * through the production payload (same arrays, same bound code) by
    * the scaling audit, alongside the prefix-join candidate count. */
  private[graft] def suffixFilterSurvivors(parts: PrefixJoinParts,
      idCol: String, threshold: Double): DataFrame = {
    val PrefixJoinParts(sh, _, cand) = parts
    val arrs = docShingleArrays(sh, idCol)
    cand
      .join(arrs.select(col(idCol).as("id_a"), col("_arr").as("_aa")),
        Seq("id_a"))
      .join(arrs.select(col(idCol).as("id_b"), col("_arr").as("_ab")),
        Seq("id_b"))
      .filter(ColumnBridge.column(PPJoinBoundExpr(
        ColumnBridge.expression(col("_aa")),
        ColumnBridge.expression(col("_ab")), threshold)))
      .select(col("id_a"), col("id_b"))
  }

  /** MinHash signature: k min-hash values over the shingle set, as k
    * columns `mh0..mh{k-1}`. One explode + one groupBy (single shuffle
    * keyed by doc id; partial min aggregation on the map side). The
    * portable hash is computed ONCE per shingle; the k universal hashes
    * are cheap arithmetic over it. */
  def minhashSignature(docs: DataFrame, textCol: String, idCol: String,
      k: Int, shingleN: Int = 3): DataFrame =
    minhashSignatureFromShingles(
      shingleRows(docs, textCol, idCol, shingleN), idCol, k)

  /** [[minhashSignature]] over a PRECOMPUTED (idCol, shingle) frame —
    * callers that also exact-verify the same corpus (q126's recall
    * harness) share ONE shingle pass instead of tokenizing twice.
    * Distinct or occurrence grain both give the same signature (min is
    * multiset-insensitive). */
  def minhashSignatureFromShingles(sh: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val h = sh.select(col(idCol), GF.hash32(col("shingle")).as("h"))
    val aggs = (0 until k).map(i =>
      min((col("h") * lit(2L * i + 1) + lit(101L * i + 17))
        % lit(GF.MinhashPrime)).as(s"mh$i"))
    h.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: (band, bucket) pairs per doc; docs sharing a bucket in
    * any band are near-dup candidates. bucket = md5 of the band's
    * signature slice. Emitted with ONE posexplode over an array of band
    * structs — a single pass over the signature, not one select (and one
    * recomputation of the signature lineage) per band. */
  def lshBuckets(signature: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val sigSlice = concat_ws("_",
        (b * r until (b + 1) * r).map(i => col(s"mh$i").cast("string")): _*)
      struct(lit(b).as("band"), md5(sigSlice).as("bucket"))
    }
    signature.select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs (id1 < id2) from LSH buckets, deduplicated across
    * bands. The buckets frame is materialized once via a LAZY local
    * checkpoint: the self-join references it twice and its lineage
    * (shingle explode + signature agg) is the expensive part — the S8
    * "parse once, reuse" pattern. Unlike `.cache()`, checkpoint blocks
    * are released by the ContextCleaner when the frame is unreferenced,
    * so long-lived sessions don't leak storage. The join itself
    * shuffles only (band, bucket) keys.
    *
    * `maxBucketSize` bounds the one remaining quadratic hazard: the
    * within-bucket self-join emits |bucket|² rows, and real crawls
    * produce degenerate mega-buckets (thousands of empty/boilerplate
    * docs sharing one signature) that would dominate the stage. A
    * bucket over the cap switches from all-pairs to a STAR expansion —
    * every member paired with the bucket's min-id hub, n−1 pairs
    * instead of n(n−1)/2. Connectivity survives (connected-components
    * clustering links the whole bucket through the hub, and the
    * verify step still scores each emitted pair); only the redundant
    * intra-bucket edges are dropped. The cap is ON by default
    * ([[DefaultMaxBucketSize]]); any bucket under the cap — i.e. every
    * bucket of a healthy corpus — emits exactly the uncapped pair set.
    * `Int.MaxValue` selects the uncapped plan (no window pass).
    * [[overCapBuckets]] reports what was demoted. */
  def candidatePairs(buckets: DataFrame, idCol: String,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val b = buckets.graftCp(false)
    if (maxBucketSize == Int.MaxValue) {
      val l = b.select(col("band"), col("bucket"), col(idCol).as("id1"))
      val r = b.select(col("band"), col("bucket"), col(idCol).as("id2"))
      l.join(r, Seq("band", "bucket"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
    } else {
      require(maxBucketSize >= 2,
        s"maxBucketSize=$maxBucketSize cannot emit any pair")
      // Bucket sizes + hubs reduce at BUCKET grain (partial-aggregatable
      // groupBy — map-side combine collapses each bucket to one row
      // before the shuffle), never a window sort over the postings; the
      // over-cap set is metadata-scale and BROADCASTS, so with zero
      // over-cap buckets — every healthy corpus — the anti-join passes
      // rows map-side and the all-pairs join plan is the uncapped
      // original plus one bucket-grain agg.
      val overCap = b.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_hub"))
        .filter(col("_n") > maxBucketSize)
        .graftCp(false)
      val overKeys = overCap.select(col("band"), col("bucket"))
      val small = b.join(broadcast(overKeys), Seq("band", "bucket"),
        "left_anti")
      val l = small.select(col("band"), col("bucket"), col(idCol).as("id1"))
      val r = small.select(col("band"), col("bucket"), col(idCol).as("id2"))
      val allPairs = l.join(r, Seq("band", "bucket"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"))
      // hub = min(id) of the bucket, so id1 < id2 holds by construction
      val star = b
        .join(broadcast(overCap.select(col("band"), col("bucket"),
          col("_hub"))), Seq("band", "bucket"))
        .filter(col(idCol) =!= col("_hub"))
        .select(col("_hub").as("id1"), col(idCol).as("id2"))
      allPairs.union(star).distinct()
    }
  }

  /** Monitoring companion of [[candidatePairs]]'s cap: the (band,
    * bucket) groups whose size exceeds `maxBucketSize` — the buckets
    * that were demoted to star expansion — with their sizes. Emit its
    * count next to a capped dedup run so a degenerate-signature surge
    * is visible, not silent. */
  def overCapBuckets(buckets: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame =
    buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)

  /** Exact n-gram Jaccard similarity for given candidate pairs.
    * Explodes each side's shingle set once and counts intersections —
    * never materializes a cross product. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame =
    // lazy local checkpoint, not cache(): three downstream shuffles
    // reference sh; blocks are GC-released instead of living in the
    // session CacheManager forever (an eager barrier here measured
    // SLOWER — the racing consumers use otherwise-idle cores)
    ngramJaccardFromShingles(
      shingleRows(docs, textCol, idCol, n).distinct()
        .graftCp(false),
      pairs, idCol)

  /** [[ngramJaccard]] over a PRECOMPUTED, already-materialized DISTINCT
    * (idCol, shingle) frame — the shared-shingle-pass form (see
    * [[minhashSignatureFromShingles]]). */
  def ngramJaccardFromShingles(shD: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val sh = shD.withColumnRenamed(idCol, "_id")
    val sizes = sh.groupBy(col("_id")).agg(count(lit(1)).as("n_sh"))
    // shingle equality goes INTO the join keys (id2, shingle) — an
    // equi-join producing only intersecting rows, never the
    // pairs × |sh1| × |sh2| blow-up a post-join filter would cost.
    val sh2 = sh.select(col("_id").as("id2"), col("shingle"))
    val inter = pairs
      .join(sh.withColumnRenamed("_id", "id1"), Seq("id1"))
      .join(sh2, Seq("id2", "shingle"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.withColumnRenamed("_id", "id1").withColumnRenamed("n_sh", "n1"), Seq("id1"))
      .join(sizes.withColumnRenamed("_id", "id2").withColumnRenamed("n_sh", "n2"), Seq("id2"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")), 6))
  }

  /** LSH tuning measurement — the dedup analog of the ANN recall
    * harness: against a ground-truth pair set (exact Jaccard over a
    * bounded window) at threshold `t`, report how many true pairs the
    * LSH candidate set recalls and how many of its candidates are true
    * (recall / precision of the banding scheme). THE measurement that
    * justifies a (k, bands) choice before a 100 TB dedup run.
    *
    * Both inputs are pair frames (id1, id2) with id1 < id2; joins are
    * pair-keyed semi-joins — nothing quadratic. Returns one row. */
  def lshPairRecall(candidates: DataFrame, truth: DataFrame): DataFrame = {
    val cand = candidates.select(col("id1"), col("id2")).distinct()
      .graftCp(false)
    // n_true and n_hit come from ONE pass: a left join against the
    // distinct candidate set (marker counted) replaces the r16 form's
    // separate semi-join + count — one truth materialization and one
    // fewer checkpoint, same three numbers
    val truAgg = truth.select(col("id1"), col("id2")).distinct()
      .join(cand.withColumn("_hit", lit(1)), Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("_hit")).as("n_hit"))
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(truAgg))
      .select(col("n_candidates"), col("n_true"), col("n_hit"),
        round(col("n_hit") / nullif(col("n_true").cast("double"), lit(0.0)),
          6).as("recall"),
        round(col("n_hit") / nullif(col("n_candidates").cast("double"),
          lit(0.0)), 6).as("precision"))
  }

  /** Similarity-graph edges: the candidate pairs that share at least
    * one n-gram shingle — the boolean form of [[ngramJaccard]] for
    * consumers (clustering, PageRank) that only need edge existence.
    * An inner join on (id1, shingle) followed by a LEFT SEMI on
    * (id2, shingle) — no intersection counting, no size lookup, no
    * left-join repair — then distinct at pair grain. Integer-exact
    * (no FP threshold), pair-scoped (never all-pairs). */
  def sharedShingleEdges(docs: DataFrame, pairs: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, textCol, idCol, n)
      .withColumnRenamed(idCol, "_id").graftCp(false)
    pairs
      .join(sh.select(col("_id").as("id1"), col("shingle")), Seq("id1"))
      .join(sh.select(col("_id").as("id2"), col("shingle")),
        Seq("id2", "shingle"), "left_semi")
      .select(col("id1"), col("id2")).distinct()
  }

  /** Edit-distance verification of candidate pairs — the character-level
    * complement to [[ngramJaccard]]: Levenshtein distance over the
    * normalized texts, as a ratio of the longer text's length. Catches
    * in-place character edits (typos, templated substitutions) that
    * shingle overlap under-counts. Integer edit distance + one fixed
    * division shape keeps it engine-portable.
    *
    * Scale shape: candidate pairs only (never all-pairs); two id-keyed
    * joins move each text once; the O(len1·len2) DP per pair is bounded
    * per-row CPU on documents, not corpus-quadratic work. */
  def editDistanceVerify(docs: DataFrame, pairs: DataFrame, textCol: String,
      idCol: String, maxDistRatio: Double = 0.3): DataFrame = {
    val norm = docs.select(col(idCol).as("_id"),
      normalizeText(col(textCol)).as("_norm"))
    pairs
      .join(norm.select(col("_id").as("id1"), col("_norm").as("t1")),
        Seq("id1"))
      .join(norm.select(col("_id").as("id2"), col("_norm").as("t2")),
        Seq("id2"))
      .select(col("id1"), col("id2"),
        length(col("t1")).as("len1"), length(col("t2")).as("len2"),
        levenshtein(col("t1"), col("t2")).as("edit_dist"))
      .withColumn("dist_ratio",
        round(col("edit_dist").cast("double") /
          greatest(col("len1"), col("len2")), 6))
      .withColumn("near_dup", col("dist_ratio") <= maxDistRatio)
  }

  /** Shingle containment — `|A ∩ B| / min(|A|, |B|)` over candidate
    * pairs. Jaccard misses SUBSET duplication (a short doc embedded
    * verbatim in a long one scores low because the union is large);
    * containment scores it 1.0 — the signal web-corpus pipelines use to
    * drop quoted/aggregated copies. Same equi-join shape as
    * [[ngramJaccard]]: the shingle equality is IN the join key, so only
    * intersecting rows materialize. */
  def shingleContainment(docs: DataFrame, pairs: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, textCol, idCol, n).distinct()
      .withColumnRenamed(idCol, "_id").graftCp(false)
    val sizes = sh.groupBy(col("_id")).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.withColumnRenamed("_id", "id1"), Seq("id1"))
      .join(sh.select(col("_id").as("id2"), col("shingle")),
        Seq("id2", "shingle"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.withColumnRenamed("_id", "id1")
        .withColumnRenamed("n_sh", "n1"), Seq("id1"))
      .join(sizes.withColumnRenamed("_id", "id2")
        .withColumnRenamed("n_sh", "n2"), Seq("id2"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("containment",
        round(col("n_inter").cast("double") / least(col("n1"), col("n2")),
          6))
  }

  /** Chunk-level exact dedup — the line/paragraph dedup of web-corpus
    * pipelines (CCNet-style), over fixed `chunkTokens`-token chunks
    * (the synthetic corpus has no sentence boundaries): each document
    * splits into consecutive chunks; a chunk that already occurred
    * earlier in the corpus (first occurrence = min (doc, idx)) is
    * dropped everywhere else; survivors reassemble in document order.
    * Returns per doc: `n_chunks`, `n_kept`, `dedup_md5` of the
    * reassembled text.
    *
    * Scale shape: one narrow explode; winners via ONE digest-keyed
    * groupBy (partial-aggregatable min over a tiny struct — never a
    * window over chunk text); one digest-keyed join to flag rows; one
    * doc-keyed agg to reassemble. Chunk text crosses the wire once. */
  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 8): DataFrame = {
    val toks = docs.select(col(idCol).as("_id"),
      normTokens(col(textCol)).as("toks"))
    val nChunks = greatest(lit(1),
      ceil(size(col("toks")) / lit(chunkTokens.toDouble)).cast("int"))
    val chunks = toks
      .select(col("_id"),
        posexplode(transform(sequence(lit(1), nChunks),
          i => concat_ws(" ",
            slice(col("toks"), (i - 1) * chunkTokens + 1,
              lit(chunkTokens))))))
      .select(col("_id"), col("pos").as("chunk_idx"), col("col").as("chunk"))
      .withColumn("digest", md5(col("chunk")))
    val winners = chunks.groupBy(col("digest"))
      .agg(min(struct(col("_id"), col("chunk_idx"))).as("w"))
    chunks.join(winners, Seq("digest"))
      .withColumn("kept",
        struct(col("_id"), col("chunk_idx")) === col("w"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", transform(array_sort(collect_list(
          when(col("kept"), struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")))).as("dedup_md5"))
      .withColumnRenamed("_id", idCol)
  }

  /** Cross-document duplicated-SPAN detection: for every document, how
    * much of its text is covered by a substring of length >= `gramLen`
    * that also appears verbatim in at least one OTHER document. This is
    * the alignment-free complement to [[chunkDedup]]: chunk dedup only
    * sees duplication that lands on chunk boundaries, while a rolling
    * gram at every character position catches a copied paragraph at any
    * offset — the "remove long repeated substrings from the training
    * set" pass (cf. dedup literature on substring-level duplication;
    * memorized spans survive document-level dedup).
    *
    * Shape: (doc, pos, gram) rows at stride `stride` (1 = exact), one
    * groupBy at gram grain to find grams present in >= 2 distinct docs
    * (two-level: distinct (gram, doc) first, so a gram repeated 1000×
    * inside one doc contributes ONE row to the distinct-doc count), a
    * semi-join back, then per-doc interval-union coverage. Because all
    * intervals have the same length L and positions are sorted, the
    * union length is sum(min(L, pos - prev_pos)) with L for the first —
    * one lag window partitioned BY DOC (never a global window).
    *
    * Scale notes (100 TB): gram rows are bounded by total corpus chars /
    * stride with fixed L-byte keys, so the gram shuffle is O(corpus
    * bytes · L / stride) — at crawl scale run stride = L/2 (guarantees
    * detection of any duplicated span >= 2L-1 chars, halves the shuffle
    * twice over) and raise gramLen to 40-50. The dup-gram frame after
    * the HAVING filter is duplicated-content-sized, far smaller than
    * the corpus; the coverage window is doc-partitioned. No collect, no
    * global sort. */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      gramLen: Int = 20, stride: Int = 1): DataFrame = {
    require(gramLen >= 2 && stride >= 1, "gramLen >= 2, stride >= 1")
    val base = docs.select(col(idCol).as("_id"),
      col(textCol).as("_text"), length(col(textCol)).as("_len"))
    // 1-based positions to match substr(); last valid start = len-L+1.
    // gram is computed in the same codegen stage as the explode, so the
    // full text never crosses an exchange — only L-char grams do.
    val positions = base.filter(col("_len") >= gramLen)
      .select(col("_id"), col("_len"), col("_text"),
        explode(sequence(lit(1), col("_len") - (gramLen - 1),
          lit(stride))).as("pos"))
      .select(col("_id"), col("_len"), col("pos"),
        col("_text").substr(col("pos"), lit(gramLen)).as("gram"))
    // grams held by >= 2 distinct docs; distinct (gram, doc) first so an
    // intra-doc repeat can't fake a cross-doc hit (and the count agg
    // runs at duplicated-gram grain, partial-aggregatable)
    val dupGrams = positions.select(col("gram"), col("_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= 2)
      .select(col("gram"))
    val dupPos = positions.join(dupGrams, Seq("gram"), "left_semi")
    // interval-union coverage: fixed-length intervals sorted by pos, so
    // each one adds min(L, pos - prev_pos) new chars (L for the first)
    val w = Window.partitionBy(col("_id")).orderBy(col("pos"))
    val covered = dupPos
      .withColumn("_delta", col("pos") - lag(col("pos"), 1).over(w))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_dup_pos"),
        sum(when(col("_delta").isNull, lit(gramLen.toLong))
          .otherwise(least(lit(gramLen.toLong), col("_delta").cast("long"))))
          .as("dup_chars"))
    base.select(col("_id"), col("_len"))
      .join(covered, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        col("_len").cast("long").as("doc_len"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
          col("_len").cast("double"), 4).as("dup_frac"))
  }

  /** Duplicate clusters: connected components over candidate/duplicate
    * pairs, labeling every member with the MIN doc id of its component —
    * the step that turns pairwise near-dup hits into "keep one per
    * cluster" decisions.
    *
    * Two regimes, picked by ONE metadata-scale count of the pair list:
    * at or below `driverMaxEdges` (integral ids), the pairs collect
    * once and union-find runs on the driver — exact, one Spark action,
    * and strictly less driver traffic than the distributed loop, which
    * bounces the label map through the driver twice per round as
    * broadcasts anyway. Above the gate (or for non-integral ids) the
    * fully-distributed fixpoint loop below runs.
    *
    * Distributed loop: min-label propagation PLUS pointer jumping.
    * Round 0 is FUSED into the label init: label0(id) = min(id, min
    * neighbor) is one partial-aggregatable groupBy over the edge list —
    * no join — which alone converges star-shaped clusters (the common
    * near-dup case). Each loop round then propagates labels one hop
    * along edges (join + min-groupBy over (id, label) pairs — the pair
    * set is the (tiny, LSH-bounded) output of candidate generation,
    * never the corpus) and path-doubles the label map itself
    * (label := label(label), one self-join on the label frame). Since
    * label(x) <= x always, label(label(id)) is a valid — and no larger —
    * label from the same component, so correctness is unchanged while
    * label paths halve every round: convergence in O(log diameter)
    * rounds instead of O(diameter), which is what makes chain-shaped
    * components (the worst case for plain propagation) cheap.
    *
    * When the node set is small enough to broadcast (LSH-bounded pair
    * lists usually are), both per-round joins take an explicit
    * broadcast hint: the loop runs with zero shuffle exchanges on the
    * edge side, and round latency is dominated by the single
    * min-groupBy — measured 2× faster than the shuffle-join loop at
    * sf0.1. Above the threshold the joins fall back to shuffle plans,
    * where AQE's skew handling splits the label-keyed jump join for
    * giant components at runtime. Each round locally checkpoints so
    * lineage stays flat (the standard iterative-algorithm discipline).
    * Result is deterministic at fixpoint regardless of round count. */
  def duplicateClusters(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 50,
      broadcastMaxNodes: Long = 4000000L,
      driverMaxEdges: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema(idCol1).dataType
    val p2 = pairs.select(col(idCol1).as("a"), col(idCol2).as("b"))
      .distinct()
      .graftCp(false)
    val nEdges = p2.count()
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    if (integralIds && nEdges <= driverMaxEdges) {
      // Metadata-scale regime: the LSH-bounded pair list is SMALLER
      // than what the distributed loop would bounce through the driver
      // anyway (two broadcast builds per round + a convergence collect
      // per round), so collect it ONCE and run union-find with path
      // compression — exact, deterministic, a single Spark action, and
      // immune to the driver-latency noise iterative tiny-job loops
      // suffer. Roots stay the MIN of their component because union
      // always links the larger root under the smaller.
      val es = p2.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      import spark.implicits._
      parent.keys.toSeq.map(id => (id, find(id)))
        .toDF("id", "cluster")
        .select(col("id").cast(idType).as("id"),
          col("cluster").cast(idType).as("cluster"))
    } else
      duplicateClustersDistributed(p2, maxIter, broadcastMaxNodes)
  }

  /** The fully-distributed fixpoint loop (see [[duplicateClusters]]
    * scaladoc for the algorithm) — the path for pair sets too large to
    * collect. `p2` holds deduplicated directed pairs (a, b). */
  private def duplicateClustersDistributed(p2: DataFrame, maxIter: Int,
      broadcastMaxNodes: Long): DataFrame = {
    val edges = p2
      .union(p2.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .graftCp(false)
    // fused round 0: min over self and direct neighbors, one groupBy
    var labels = edges.groupBy(col("a").as("id"))
      .agg(min(least(col("a"), col("b"))).as("label"))
      .graftCp(false)
    // one metadata-scale count decides the loop's join strategy; it
    // also materializes the edge/label checkpoints before iterating
    val smallEnough = labels.count() <= broadcastMaxNodes
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (smallEnough) broadcast(df) else df
    // labels only ever DECREASE, so the label sum strictly decreases
    // until fixpoint — one cheap aggregate per round replaces a
    // join-based change detection.
    var prevSum: Option[Long] = None
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val neighborLabels = edges
        .join(maybeBroadcast(labels.withColumnRenamed("id", "b")), Seq("b"))
        .select(col("a").as("id"), col("label"))
      // lazy-checkpointed: the jump self-join references it twice and
      // would otherwise recompute the propagation lineage per side
      val propagated = labels.union(neighborLabels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .graftCp(false)
      // pointer jumping: every label is itself a node id present in the
      // label map (labels cover all edge endpoints and only move to
      // smaller endpoint ids), so follow it one step — label paths
      // halve per round. left + coalesce keeps the row if the label's
      // own row was somehow absent rather than dropping it.
      val updated = propagated
        .join(maybeBroadcast(propagated.select(col("id").as("label"),
          col("label").as("_jump"))), Seq("label"), "left")
        .select(col("id"),
          coalesce(col("_jump"), col("label")).as("label"))
        .graftCp(false)
      val s = Option(updated.agg(sum(col("label"))).head().get(0))
        .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      labels = updated
      i += 1
    }
    // exiting via the round cap rather than the fixpoint check means a
    // component with diameter > maxIter-1 got SPLIT into several labels
    // — never silent (ADVICE r2): the caller either raises maxIter or
    // treats the result as approximate.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters stopped at maxIter=$maxIter without reaching " +
          "the label fixpoint; long-chain components may carry multiple " +
          "cluster labels — raise maxIter for exact connected components")
    labels.withColumnRenamed("label", "cluster")
  }

  /** `nBits`-wide SimHash per doc (up to 64): per token-bit
    * contribution ±count, bit j of the hash set when the summed
    * contribution is positive. ONE doc-grain shuffle: the nBits bit
    * votes are nBits aggregate COLUMNS over the doc×token frame
    * (codegen'd, map-side partial-merged) — the earlier form exploded
    * nBits rows per token (doc×token×bit grain: 6.4 BILLION rows for
    * 500k × ~200-token docs at 64 bits), which the ×100 audit measured
    * as the actual q204 wall cost once the pair join was fixed.
    * Column-wise votes keep the frame at doc×token grain and cut the
    * fingerprint stage by the full ×nBits row factor.
    *
    * Bits ≥ 32 draw from a SECOND md5 window of the same token digest
    * (hex chars 9-16, [[GF.hash32]] at offset 9) — the fingerprint
    * widens to 64 bits without a new hash family, the oracle
    * reproduces both windows from one md5, and nBits ≤ 32 callers are
    * byte-identical to before (the second window never evaluates).
    * Bit 63, when set, lands on the long's sign bit — OR-packing
    * distinct powers of two is exact there, so xor/bit_count hamming
    * stays correct on negative fingerprints. */
  def simhash(docs: DataFrame, textCol: String, idCol: String,
      nBits: Int = 32): DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits=$nBits out of [1, 64]")
    // > 32 bits: both windows from ONE digest (hash32Pair) — two
    // hash32 calls would digest the token twice
    val toks =
      if (nBits > 32)
        docs.select(col(idCol), explode(normTokens(col(textCol))).as("tok"))
          .withColumn("_hh", GF.hash32Pair(col("tok")))
          .select(col(idCol), col("tok"),
            col("_hh.h1").as("h"), col("_hh.h2").as("h2"))
      else
        docs.select(col(idCol), explode(normTokens(col(textCol))).as("tok"))
          .withColumn("h", GF.hash32(col("tok")))
          .withColumn("h2", lit(0L))
    val votes = (0 until nBits).map { j =>
      sum(when(shiftright(if (j < 32) col("h") else col("h2"), j % 32)
        .bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"_s$j")
    }
    val packed = (0 until nBits)
      .map(j => when(col(s"_s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash hamming-ball pairs via GENERALIZED pigeonhole banding —
    * the pair SEARCH the [[simhash]] fingerprint exists for: all
    * (id_a < id_b) with hamming(simhash_a, simhash_b) ≤ `maxHamming`.
    * Split the nBits hash into `bands` contiguous slices; a pair
    * within total distance d dirties at most d band-bits, so SOME band
    * carries at most ⌊d/bands⌋ of them (pigeonhole). At per-band
    * radius 0 (bands > maxHamming) candidates come from an exact
    * equi-join on (band index, band value); at radius 1 each doc
    * PROBES with its band value plus that value's single-bit flips
    * against the exact postings (the HmSearch / GPH variant-
    * enumeration scheme), so a pair agreeing within hamming ≤ 1 on
    * some band is always joined. Either way the exact `bit_count(xor)`
    * verifies every candidate — output EQUALS brute force by
    * construction at ANY valid (bands, radius), which is why the
    * banding choice is a pure performance knob the oracle never sees.
    *
    * Scale shape: fingerprints shuffle once per band (radius 0:
    * bands × corpus slim rows; radius 1: additionally
    * (nBits/bands + 1) probe variants per posting — a constant ~66×
    * row emit for 2×32-bit bands, still linear in corpus). Join
    * buckets are bounded by per-band value collisions, the SimHash
    * analogue of [[candidatePairs]]' LSH buckets, and the BAND WIDTH
    * is what bounds those collisions: 2^(nBits/bands) distinct values
    * per band. That domain is the quadratic lever the ×100 audits
    * keep finding: 8-bit bands (32/4) saturated at sf0.1, 16-bit
    * bands (64/4) held to ×10 but measured 205.9M candidates at ×100
    * (500k docs — natural-language fingerprints are CORRELATED, so
    * fixed 65,536-value buckets skew and Σc² goes quadratic). The
    * default is therefore 64/2 at radius 1: 32-bit bands (4.3B
    * values) spread correlated fingerprints 65,536× thinner, and the
    * 1-bit probe neighborhood restores the recall the wider band
    * would lose — measured 1.46M candidates at the same ×100 corpus,
    * 141× fewer, at the cost of the constant probe emit. */
  /** The fingerprint frame + banded candidate pairs of
    * [[simhashHammingPairs]], exposed for the same scaling
    * observability as [[prefixFilterParts]] — candidate count vs
    * corpus size is the number that tells a 16-bit band from a
    * quadratic 8-bit one. */
  private[graft] case class SimhashPairParts(sh: DataFrame, cand: DataFrame)

  private[graft] def simhashPairParts(docs: DataFrame, textCol: String,
      idCol: String, maxHamming: Int, nBits: Int,
      bands: Int): SimhashPairParts = {
    // generalized pigeonhole: total distance ≤ maxHamming ⇒ some band
    // carries ≤ ⌊maxHamming/bands⌋ of the dirty bits. Radius 0 is the
    // exact-match join; radius 1 enumerates single-bit probe variants;
    // radius ≥ 2 would need C(width,2) variants per posting — refuse it
    // rather than quietly emit thousands of rows per doc.
    val radius = maxHamming / bands
    require(radius <= 1,
      s"per-band radius $radius > 1 (bands=$bands, maxHamming=$maxHamming)" +
        " — use at least ⌈maxHamming/2⌉ bands")
    require(nBits % bands == 0, s"bands=$bands must divide nBits=$nBits")
    val r = nBits / bands
    val mask = if (r == 64) -1L else (1L << r) - 1
    val sh = simhash(docs, textCol, idCol, nBits).graftCp(false)
    val banded = sh.select(col(idCol), explode(array(
        (0 until bands).map(b => struct(lit(b).as("bi"),
          expr(s"shiftright(simhash, ${b * r})").bitwiseAND(lit(mask))
            .as("bv"))): _*)).as("bb"))
      .select(col(idCol), col("bb.bi").as("bi"), col("bb.bv").as("bv"))
    // probe side: the posting's exact value, plus (radius 1) every
    // single-bit flip of it — if a pair's band distance is 1, the
    // probe that flips the one differing bit lands on the other doc's
    // exact posting, so the equi-join below still sees the pair.
    val probes =
      if (radius == 0) banded
      else banded.select(col(idCol), col("bi"), explode(array(
          (Seq(col("bv")) ++ (0 until r).map(i =>
            col("bv").bitwiseXOR(lit(1L << i)))): _*)).as("bv"))
    val cand = probes.select(col(idCol).as("id_a"), col("bi"), col("bv"))
      .join(banded.select(col(idCol).as("id_b"), col("bi"), col("bv")),
        Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    SimhashPairParts(sh, cand)
  }

  def simhashHammingPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int, nBits: Int = 64, bands: Int = 2): DataFrame = {
    val SimhashPairParts(sh, cand) =
      simhashPairParts(docs, textCol, idCol, maxHamming, nBits, bands)
    cand
      .join(sh.select(col(idCol).as("id_a"), col("simhash").as("_ha")),
        Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("simhash").as("_hb")),
        Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Persist the corpus's LSH bucket postings as a signature index:
    * parquet at `path/buckets`, hive-partitioned by `band` and
    * clustered on `bucket` within each band. This is the served-corpus
    * half of INCREMENTAL dedup — the index is built once per corpus
    * epoch and every new crawl batch probes it, instead of re-minhashing
    * 100 TB per arriving batch (the S8 parse-once pattern applied to
    * dedup state).
    *
    * Layout for the probe: band partition pruning cuts the read to the
    * probed bands; within a band the postings are repartitioned AND
    * sorted by bucket, so row-group min/max statistics prune bucket
    * ranges a batch never touches. */
  def writeSignatureIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, k: Int = 8, bands: Int = 4, shingleN: Int = 3): Unit = {
    lshBuckets(minhashSignature(docs, textCol, idCol, k, shingleN),
        idCol, k, bands)
      .withColumnRenamed(idCol, "corpus_id")
      .repartition(col("band"), col("bucket"))
      .sortWithinPartitions(col("bucket"))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$path/buckets")
  }

  /** Incrementally extend a persisted signature index with an arriving
    * batch — the maintenance half of q81's incremental dedup, closing
    * the build-once gap. Unlike the IVF posting lists (one cell per
    * vector), every doc posts to EVERY band, so per-batch partition
    * rewrites would touch the whole index; instead the batch's postings
    * APPEND as new bucket-sorted files inside each band partition.
    * That is semantically exact: postings are a bag and
    * [[dedupAgainstIndex]] counts DISTINCT corpus ids, so duplicate
    * postings can never change a probe verdict. `skipExisting = true`
    * additionally drops batch docs already indexed (one narrow
    * corpus_id-column scan semi-joined against the broadcast batch ids,
    * materialized before the write) so steady re-crawls don't grow the
    * index. Appended files are themselves bucket-sorted; when file
    * counts accumulate, [[compactSignatureIndex]] restores the
    * one-sorted-file-per-band layout. Returns docs actually added. */
  def upsertSignatureIndex(batch: DataFrame, textCol: String,
      idCol: String, path: String, k: Int = 8, bands: Int = 4,
      shingleN: Int = 3, skipExisting: Boolean = true): Long = {
    val spark = batch.sparkSession
    val fresh0 = if (!skipExisting) batch else {
      val ids = batch.select(col(idCol).as("corpus_id")).distinct()
      // broadcast semi-join FIRST so the batch-id filter reaches the
      // posting scan map-side; distinct() then runs over the handful of
      // surviving rows, never a shuffle of the whole index
      val existing = spark.read.parquet(s"$path/buckets")
        .select(col("corpus_id"))
        .join(broadcast(ids), Seq("corpus_id"))
        .distinct()
        .graftCp(true) // materialize BEFORE touching the index
      batch.join(existing.withColumnRenamed("corpus_id", idCol),
        Seq(idCol), "left_anti")
    }
    val fresh = fresh0.graftCp(false)
    val nAdded = fresh.count()
    if (nAdded > 0)
      lshBuckets(minhashSignature(fresh, textCol, idCol, k, shingleN),
          idCol, k, bands)
        .withColumnRenamed(idCol, "corpus_id")
        .repartition(col("band"))
        .sortWithinPartitions(col("bucket"))
        .write.mode("append").partitionBy("band")
        .parquet(s"$path/buckets")
    nAdded
  }

  /** Re-sort each band partition of a signature index into one
    * bucket-sorted file (row-group min/max pruning works again after a
    * run of appends), through the same crash-safe backup/rename swap
    * the lakes use. Returns bands compacted. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = new HPath(s"$path/buckets")
    val fs = FileSystem.get(root.toUri,
      spark.sparkContext.hadoopConfiguration)
    // heal any crashed prior compaction first (orphaned/stale backups)
    fs.listStatus(root).foreach { st =>
      val Bak = """\.compact-(.+)\.bak""".r
      st.getPath.getName match {
        case Bak(band) =>
          val live = new HPath(s"$path/buckets/band=$band")
          if (!fs.exists(live)) require(fs.rename(st.getPath, live),
            s"failed to restore $live from backup")
          else fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    val bandDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
    bandDirs.foreach { st =>
      val band = st.getPath.getName.stripPrefix("band=")
      // the tmp write fully materializes from the live dir BEFORE the
      // renames, so no checkpoint is needed
      val rows = spark.read.parquet(st.getPath.toString)
        .coalesce(1).sortWithinPartitions(col("bucket"))
      val tmp = new HPath(s"$path/buckets/.compact-$band.tmp")
      fs.delete(tmp, true)
      rows.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(new HPath(tmp, "_SUCCESS"), false)
      val backup = new HPath(s"$path/buckets/.compact-$band.bak")
      fs.delete(backup, true)
      if (!fs.rename(st.getPath, backup))
        sys.error(s"compactSignatureIndex: failed to move ${st.getPath}")
      if (!fs.rename(tmp, st.getPath)) {
        fs.rename(backup, st.getPath)
        sys.error(s"compactSignatureIndex: failed to land $tmp; restored")
      }
      fs.delete(backup, true)
    }
    bandDirs.length
  }

  /** Probe a persisted signature index with a NEW batch of docs: each
    * batch doc is flagged `is_dup` when any of its band buckets
    * collides with a corpus posting. Returns one row per batch doc:
    * `(id, n_hits, is_dup, hits_capped)`.
    *
    * Scale: the batch (the small side, typically many orders of
    * magnitude below the corpus) computes its own buckets and joins the
    * index on (band, bucket); the batch side broadcasts when small, so
    * the corpus postings stream through executors without a shuffle.
    * The left join back onto the batch ids preserves zero-hit docs.
    *
    * `maxBucketSize` (ON by default, [[DefaultMaxBucketSize]]) bounds
    * the probe's quadratic hazard: a degenerate index bucket holding B
    * postings hit by b batch docs emits b×B join rows. Over-cap buckets
    * contribute only their `maxBucketSize` smallest corpus_ids, so
    * `n_hits` is exact below the cap and a lower bound above it —
    * `is_dup` is always exact (cap ≥ 1 keeps at least one posting).
    * Docs whose count was truncated carry `hits_capped = true` — the
    * [[overCapBuckets]] signal at row grain, so a degenerate-signature
    * surge in the index is visible in every probe report.
    *
    * Cap cost shape: index bucket sizes reduce at bucket grain on a
    * two-column pruned scan (partial-aggregatable — one metadata-scale
    * action decides the plan). With zero over-cap buckets — every
    * healthy index — the probe plan is EXACTLY the uncapped original;
    * otherwise the over-cap keys broadcast, healthy postings pass the
    * anti-join map-side, and only mega-bucket postings pay the
    * truncation sort. */
  def dedupAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
      indexPath: String, k: Int = 8, bands: Int = 4,
      shingleN: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val spark = batch.sparkSession
    val index = spark.read.parquet(s"$indexPath/buckets")
    val probe = lshBuckets(minhashSignature(batch, textCol, idCol, k, shingleN),
      idCol, k, bands)
    require(maxBucketSize >= 1,
      s"maxBucketSize=$maxBucketSize cannot keep any posting")
    val overCap =
      if (maxBucketSize == Int.MaxValue) None
      else {
        val oc = index.select(col("band"), col("bucket"))
          .groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("_n"))
          .filter(col("_n") > maxBucketSize)
          .select(col("band"), col("bucket"))
          .graftCp(true) // metadata-scale; decides the plan
        if (oc.isEmpty) None else Some(oc)
      }
    val postings = overCap match {
      case None => index.withColumn("_capped", lit(false))
      case Some(oc) =>
        val ok = index
          .join(broadcast(oc), Seq("band", "bucket"), "left_anti")
          .withColumn("_capped", lit(false))
        val cappedIdx = index
          .join(broadcast(oc), Seq("band", "bucket"), "left_semi")
          .withColumn("_rn", row_number().over(Window
            .partitionBy(col("band"), col("bucket"))
            .orderBy(col("corpus_id"))))
          .filter(col("_rn") <= maxBucketSize)
          .drop("_rn")
          .withColumn("_capped", lit(true))
        ok.unionByName(cappedIdx)
    }
    val hits = probe.join(postings, Seq("band", "bucket"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("corpus_id")).as("n_hits"),
        bool_or(col("_capped")).as("hits_capped"))
    batch.select(col(idCol)).distinct()
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("is_dup"),
        coalesce(col("hits_capped"), lit(false)).as("hits_capped"))
  }

  /** Exact-substring dedup (the Lee et al. 2021 "Deduplicating Training
    * Data Makes Language Models Better" ExactSubstr semantics): every
    * MAXIMAL span of >= `minTokens` whitespace tokens that appears
    * verbatim more than once in the corpus — at ARBITRARY token
    * offsets, across documents or repeated inside one document — is
    * emitted with its per-occurrence boundaries. The two neighbours in
    * this file can't express this: [[chunkDedup]] only sees repeats
    * that land on fixed chunk boundaries, and [[duplicateSpans]]
    * reports per-doc coverage TOTALS (chars), not span boundaries or
    * span identity.
    *
    * The reference implementation builds a corpus-wide suffix array — a
    * global sort no Spark job should attempt. The relational
    * reformulation used here is exact and pair-free: a token position
    * p in doc d is DUPLICATED iff the L-gram starting at p occurs >= 2
    * times in the corpus, and the union of all repeated substrings of
    * length >= L is exactly the union of repeated-L-gram extents — so
    * maximal spans are maximal RUNS of consecutive duplicated start
    * positions [p..q] -> span [p, q+L). No per-pair extension step
    * exists at all, which is the scale story: a boilerplate span
    * repeated m times costs m position rows here, where
    * anchor-pair-extend designs cost m² pairs.
    *
    * Gram identity is the 64-bit pair of disjoint md5 windows
    * (GF.hash32 at offsets 1 and 9) over the space-joined gram — both
    * halves replayable in portable SQL, so the oracle reproduces every
    * flagged position; a false merge needs a simultaneous 2⁻⁶⁴
    * collision. The gram STRING never crosses the exchange: positions
    * shuffle as (id, pos, h1, h2).
    *
    * Returns one row per maximal span occurrence:
    * `(id, span_start, span_end, span_tokens, span_md5)` with 0-based
    * token offsets, end exclusive; `span_md5` hashes the span's actual
    * text, so the gate cross-checks real content, not just
    * hash-flagged positions. Occurrences share a span_md5 only when
    * the MAXIMAL span itself repeats verbatim: gaps-and-islands can
    * merge two adjacent independently-repeated substrings into one
    * maximal span whose concatenation occurs nowhere else, so
    * grouping by span_md5 undercounts occurrences of duplicated
    * content (removal/coverage semantics are unaffected).
    *
    * Scale shape: one narrow token-grain explode; ONE gram-grain
    * aggregate (map-side combinable — dup grams collapse before the
    * wire) + a semi-join back; islands via a doc-partitioned window;
    * one doc-grain join to re-slice span text for the docs that have
    * spans (duplicated-content-sized, far smaller than the corpus).
    * No collect, no global sort, no pair grain anywhere. At crawl
    * scale raise minTokens to 40-50 (the Lee et al. operating point);
    * gram-row volume is corpus tokens, independent of L. */
  def exactSubstrSpans(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 8, spreadScan: Boolean = true): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val l = minTokens
    // gram hashing + island detection are exact — spread a few-file
    // scan before the corpus-grain gram pass (guide §2.5). The spread
    // pays only when the downstream span machinery amortizes the
    // corpus-grain exchange: the span-occurrence caller (q233: per-
    // occurrence md5 re-slice + global sort) gains 1.7×, but the
    // removal-transform caller ([[exactSubstrDedup]]) is doc-grain
    // cheap past the gram head and the exchange is a measured net
    // LOSS there (r17: q236 min 0.19 → 0.28 s) — it opts out.
    val in = docs.select(col(idCol), col(textCol))
    val toks = (if (spreadScan) Spread.fewFileScan(in) else in)
      .select(col(idCol).as("_id"),
        GF.wsTokens(col(textCol)).as("toks"))
    // pos from posexplode over sequence(0, n-L) IS the 0-based token
    // offset; the gram is hashed in the same codegen stage and dropped
    // before any exchange. ONE md5 per gram (both 32-bit windows come
    // from the same digest — GF.hash32Pair, no hex round-trip), and the
    // 4-narrow-column gram frame is checkpointed because BOTH the
    // repeat count and the semi-join probe read it: without the
    // checkpoint the tokenize+gram+md5 projection runs twice.
    val grams = toks.filter(size(col("toks")) >= l)
      .select(col("_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - l),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(l))))))
      .withColumn("_hh", GF.hash32Pair(col("col")))
      .select(col("_id"), col("pos"),
        col("_hh.h1").as("h1"), col("_hh.h2").as("h2"))
      .graftCp(false)
    val reps = grams.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("h1"), col("h2"))
    val flagged = grams.join(reps, Seq("h1", "h2"), "left_semi")
    // gaps-and-islands: consecutive duplicated starts share
    // pos - row_number(); each island is one maximal span.
    val wDoc = Window.partitionBy(col("_id")).orderBy(col("pos"))
    val spans = flagged
      .withColumn("_grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("_id"), col("_grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + l).as("span_end"))
      .drop("_grp")
    spans.join(toks, Seq("_id"))
      .select(col("_id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("span_start") + 1,
          col("span_end") - col("span_start")))).as("span_md5"))
  }

  /** The REMOVAL transform over [[exactSubstrSpans]] — the output Lee
    * et al.'s ExactSubstr tool actually produces: every token covered
    * by a repeated span of >= `minTokens` tokens is dropped from every
    * occurrence, and the surviving tokens reassemble in document
    * order. (Keeping one canonical copy instead is a policy layer the
    * caller can build from the spans' `span_md5` identity; the
    * remove-all form is the tool's default and the one with clean
    * relational semantics.)
    *
    * Returns one row per input document — including documents with no
    * spans (untouched: n_dropped 0) and documents dropped WHOLE
    * (clean_md5 of the empty string): `(id, n_tokens, n_spans,
    * n_dropped, clean_md5)`.
    *
    * Scale shape: [[exactSubstrSpans]]'s shape plus one doc-grain
    * aggregate of the (duplicated-content-sized) span frame and one
    * left join back to the token arrays; the in-doc filter is a
    * per-row HOF over (token, span) with spans-per-doc small by
    * construction (maximal islands are disjoint). */
  def exactSubstrDedup(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 8): DataFrame = {
    // spreadScan=false: past the gram head this path is doc-grain
    // cheap, so the corpus round-robin exchange the spread adds never
    // amortizes here (see exactSubstrSpans)
    val spans = exactSubstrSpans(docs, textCol, idCol, minTokens,
      spreadScan = false)
    val byDoc = spans.groupBy(col(idCol).as("_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("n_dropped"),
        sort_array(collect_list(struct(col("span_start"),
          col("span_end")))).as("sp"))
    docs.select(col(idCol).as("_id"), GF.wsTokens(col(textCol)).as("toks"))
      .join(byDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).cast("long").as("n_dropped"),
        md5(concat_ws(" ", transform(filter(
          // (pos, token) pairs; keep those no island covers (exists
          // over a NULL span array is null -> coalesce keeps the token)
          transform(col("toks"), (t, i) => struct(i.as("i"), t.as("t"))),
          p => !coalesce(exists(col("sp"), s =>
            p.getField("i") >= s.getField("span_start") &&
              p.getField("i") < s.getField("span_end")), lit(false))),
          p => p.getField("t")))).as("clean_md5"))
  }
}
