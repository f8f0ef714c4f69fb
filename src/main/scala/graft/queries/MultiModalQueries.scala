package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, MultiModal}

/** Queries exercising [[graft.operators.MultiModal]]. */
private[graft] object MultiModalQueries extends Queries {

  /** Multimodal plumbing: binary payload + stubbed decode + frame
    * sampling (MultiModal). */
  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val df = MultiModal.sampleFrames(
      MultiModal.frameIndexStub(
        MultiModal.decodeImageMetaStub(
          MultiModal.attachPayload(
            t.documents.select(col("doc_id"), col("text")), "text"))),
      every = 5)
    df.select(col("doc_id"), col("payload_len"), col("width"), col("height"),
        col("channels"), col("n_frames"), col("n_sampled"))
      .orderBy(col("doc_id"))
  }
  register(Q("q41_multimodal", qMultimodal,
      """WITH m AS (SELECT doc_id, md5(text) AS hx FROM documents),
        |meta AS (SELECT doc_id,
        |  CAST(octet_length(unhex(hx)) AS BIGINT) AS payload_len,
        |  CAST(('0x' || substr(hx, 1, 4)) AS BIGINT) % 1024 + 16 AS width,
        |  CAST(('0x' || substr(hx, 5, 4)) AS BIGINT) % 1024 + 16 AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(('0x' || substr(hx, 9, 4)) AS BIGINT) % 30 + 1 AS n_frames
        |  FROM m)
        |SELECT doc_id, payload_len, width, height, channels, n_frames,
        |  len(list_filter(generate_series(0, n_frames - 1), f -> f % 5 = 0))
        |    AS n_sampled
        |FROM meta ORDER BY doc_id""".stripMargin))

  /** REAL image decode end to end: deterministic 24-bit BMP fixtures
    * encoded per partition, header fields parsed back by codegen'd
    * expressions (MultiModal.decodeBmpMeta), pixels walked by the
    * batched pure-JVM decoder (MultiModal.bmpPixelStats). The oracle
    * never sees the bytes — it recomputes dims, file size (incl. the
    * 4-byte row stride) and per-channel means from the same closed
    * forms, so any mis-parse of offsets, padding, BGR order or the
    * bottom-up rows breaks the hash match. */
  private def qBmpDecode(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticBmp(t.documents.select("doc_id"), "doc_id")
    val meta = MultiModal.decodeBmpMeta(fx)
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        col("payload_len"))
    val stats = MultiModal.bmpPixelStats(fx)
      .select(col("doc_id"), round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
    meta.join(stats, Seq("doc_id")).orderBy(col("doc_id"))
  }
  // closed-form replay of the BMP fixtures qBmpDecode encodes and
  // decodes: dims/pixel values are functions of doc_id, file size
  // includes the 4-byte row stride the encoder writes
  register(Q("q60_bmp_decode", qBmpDecode,
      """WITH base AS (SELECT doc_id, doc_id % 16 + 1 AS w,
        |    doc_id % 8 + 1 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w - 1)) AS x FROM base),
        |px AS (SELECT doc_id, x,
        |    unnest(generate_series(0, h - 1)) AS y FROM xs),
        |m AS (SELECT doc_id,
        |    round(avg(CAST((doc_id + 7*x + 13*y) % 256 AS DOUBLE)), 4)
        |      AS mean_r,
        |    round(avg(CAST((doc_id + 7*x + 13*y + 31) % 256 AS DOUBLE)), 4)
        |      AS mean_g,
        |    round(avg(CAST((doc_id + 7*x + 13*y + 62) % 256 AS DOUBLE)), 4)
        |      AS mean_b
        |  FROM px GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.w AS BIGINT) AS width,
        |  CAST(b.h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels,
        |  CAST(54 + b.h * ((3 * b.w + 3) // 4 * 4) AS BIGINT)
        |    AS payload_len,
        |  m.mean_r, m.mean_g, m.mean_b
        |FROM base b JOIN m USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin))

  /** REAL PNG decode end to end via the JDK's `javax.imageio` reader:
    * deterministic PNG fixtures (same closed-form pixels as q60's BMPs)
    * encoded per partition by the JDK's PNG writer, decoded back by
    * MultiModal.imagePixelStats. PNG is lossless, so the per-channel
    * means must hit the closed form EXACTLY; the oracle recomputes
    * dims and means from the formulas without ever seeing bytes. */
  private def qPngDecode(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticImage(
      t.documents.select("doc_id"), "doc_id", "png")
    MultiModal.imagePixelStats(fx)
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
      .orderBy(col("doc_id"))
  }
  // same closed forms as q60, minus payload_len (PNG byte length is
  // encoder-dependent, not closed-form) — lossless decode must hit
  // the per-channel means exactly
  register(Q("q101_png_decode", qPngDecode,
      """WITH base AS (SELECT doc_id, doc_id % 16 + 1 AS w,
        |    doc_id % 8 + 1 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w - 1)) AS x FROM base),
        |px AS (SELECT doc_id, x,
        |    unnest(generate_series(0, h - 1)) AS y FROM xs),
        |m AS (SELECT doc_id,
        |    round(avg(CAST((doc_id + 7*x + 13*y) % 256 AS DOUBLE)), 4)
        |      AS mean_r,
        |    round(avg(CAST((doc_id + 7*x + 13*y + 31) % 256 AS DOUBLE)), 4)
        |      AS mean_g,
        |    round(avg(CAST((doc_id + 7*x + 13*y + 62) % 256 AS DOUBLE)), 4)
        |      AS mean_b
        |  FROM px GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.w AS BIGINT) AS width,
        |  CAST(b.h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels,
        |  m.mean_r, m.mean_g, m.mean_b
        |FROM base b JOIN m USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin))

  /** REAL JPEG header probe via the ImageIO reader registry
    * (MultiModal.imageMeta): format name, dims and band count read from
    * container headers WITHOUT pixel decode — the scan-speed shape for
    * corpus-wide media stats. JPEG decode is lossy so the contract is
    * metadata only; dims/bands are exact and closed-form. */
  private def qJpegMeta(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticImage(
      t.documents.select("doc_id"), "doc_id", "jpg")
    MultiModal.imageMeta(fx)
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("channels"))
      .orderBy(col("doc_id"))
  }
  // JPEG is lossy: the contract is header metadata (format, dims,
  // bands), all closed-form
  register(Q("q102_jpeg_meta", qJpegMeta,
      """SELECT doc_id, 'jpeg' AS format,
        |  CAST(doc_id % 16 + 1 AS BIGINT) AS width,
        |  CAST(doc_id % 8 + 1 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** REAL audio decode end to end: deterministic PCM16 WAV fixtures
    * (RIFF container written by the pure-JVM encoder), header fields
    * parsed back by codegen'd expressions (MultiModal.decodeWavMeta),
    * every sample folded into exact integer sums by the batched walk
    * (MultiModal.wavSampleStats). The oracle recomputes rate/channels/
    * frames/duration and the sample sums from the same closed forms
    * without seeing bytes — any mis-parse of the 44-byte header, the
    * little-endian shorts or channel interleaving breaks the hash. */
  private def qWavDecode(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticWav(t.documents.select("doc_id"), "doc_id")
    val meta = MultiModal.decodeWavMeta(fx)
      .select(col("doc_id"), col("sample_rate"), col("n_channels"),
        col("n_frames"), col("duration_ms"))
    val stats = MultiModal.wavSampleStats(fx)
      .select(col("doc_id"), col("sum_samples"), col("sum_sq"),
        round(sqrt(col("sum_sq") /
          (col("n_frames") * col("n_channels"))), 4).as("rms"))
    meta.join(stats, Seq("doc_id")).orderBy(col("doc_id"))
  }
  // rate/channels/frames/duration and exact-integer sample sums from
  // the fixture generator's closed forms — PCM16 is exact, so no
  // tolerance anywhere except the final 4-dp rms rounding
  register(Q("q105_wav_decode", qWavDecode,
      """WITH base AS (SELECT doc_id,
        |    8000 + (doc_id % 4) * 4000 AS rate,
        |    doc_id % 2 + 1 AS nch,
        |    doc_id % 50 + 10 AS frames FROM documents),
        |fr AS (SELECT doc_id, rate, nch, frames,
        |    unnest(generate_series(0, frames - 1)) AS i FROM base),
        |sm AS (SELECT doc_id, i, rate, nch, frames,
        |    unnest(generate_series(0, nch - 1)) AS ch FROM fr),
        |v AS (SELECT doc_id,
        |    ((doc_id * 31 + i * 7 + ch * 13) % 2001) - 1000 AS s
        |  FROM sm),
        |agg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS sum_samples,
        |    CAST(sum(s * s) AS BIGINT) AS sum_sq
        |  FROM v GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.rate AS BIGINT) AS sample_rate,
        |  CAST(b.nch AS BIGINT) AS n_channels,
        |  CAST(b.frames AS BIGINT) AS n_frames,
        |  CAST((b.frames * 1000) // b.rate AS BIGINT) AS duration_ms,
        |  a.sum_samples, a.sum_sq,
        |  round(sqrt(CAST(a.sum_sq AS DOUBLE) / (b.frames * b.nch)), 4)
        |    AS rms
        |FROM base b JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin))

  /** Perceptual near-duplicate image pairs: REAL PNG decode →
    * integer-exact aHash (MultiModal.imageAHash) → bounded-window
    * hamming pairs. Pairing is an EQUI-join on an id-block key (each
    * left row posts to its own and the next block) — the q32 bounded-
    * pair discipline, never a non-equi range join. */
  private def qAhashDup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticImage(
      t.documents.select("doc_id"), "doc_id", "png")
    val hs = MultiModal.imageAHash(fx).graftCp(false)
    val a = hs.select(col("doc_id").as("id1"), col("ahash").as("h1"))
      .withColumn("blk", explode(array(
        floor(col("id1") / lit(8)).cast("long"),
        floor(col("id1") / lit(8)).cast("long") + 1)))
    val b = hs.select(col("doc_id").as("id2"), col("ahash").as("h2"),
      floor(col("id2") / lit(8)).cast("long").as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id2") > col("id1") && col("id2") <= col("id1") + 8)
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(h1 ^ h2) AS BIGINT)").as("hamming"))
      .withColumn("is_dup", col("hamming") <= 1)
      .orderBy(col("id1"), col("id2"))
  }
  // aHash replayed from the synthetic fixture's closed form: gray =
  // Σ_c (id + 7x + 13y + 31c) % 256, integer box-downsample to a 4×2
  // grid, cross-multiplied brightness test — decode-free oracle for
  // the decode-real Spark side
  register(Q("q113_ahash_dup", qAhashDup,
      """WITH base AS (SELECT doc_id, doc_id % 16 + 1 AS w,
        |    doc_id % 8 + 1 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w - 1)) AS x FROM base),
        |px AS (SELECT doc_id, w, h, x,
        |    unnest(generate_series(0, h - 1)) AS y FROM xs),
        |g AS (SELECT doc_id,
        |    (y * 2 // h) * 4 + (x * 4 // w) AS cell,
        |    (doc_id + 7*x + 13*y) % 256 + (doc_id + 7*x + 13*y + 31) % 256
        |      + (doc_id + 7*x + 13*y + 62) % 256 AS gray
        |  FROM px),
        |cells AS (SELECT doc_id, cell, sum(gray) AS cs, count(*) AS cc
        |  FROM g GROUP BY doc_id, cell),
        |tot AS (SELECT doc_id, sum(cs) AS ts, sum(cc) AS tc
        |  FROM cells GROUP BY doc_id),
        |allc AS (SELECT b.doc_id, c.cell FROM base b
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS cell) c),
        |bits AS (SELECT a.doc_id, a.cell,
        |    CASE WHEN coalesce(cs, 0) * tc > ts * coalesce(cc, 0)
        |         THEN 1 ELSE 0 END AS bit
        |  FROM allc a
        |  LEFT JOIN cells USING (doc_id, cell)
        |  JOIN tot USING (doc_id)),
        |hs AS (SELECT doc_id,
        |    CAST(sum(bit * (CAST(1 AS BIGINT) << cell)) AS BIGINT) AS ahash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) <= 1 AS is_dup
        |FROM hs a JOIN hs b
        |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 8
        |ORDER BY id1, id2""".stripMargin))

  /** MP4 container triage (MultiModal.decodeMp4Meta): header-only box
    * walk over closed-form fixtures (every 2nd led by a free box, so
    * fixed-offset shortcuts would fail). */
  private def qMp4Meta(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    MultiModal.decodeMp4Meta(MultiModal.syntheticMp4(
        t.documents.select(col("doc_id")), "doc_id"))
      .orderBy(col("doc_id"))
  }
  // closed forms of the MP4 fixtures: the oracle never sees a byte —
  // matching proves the box walk recovered every field exactly
  register(Q("q138_mp4_meta", qMp4Meta,
      """SELECT doc_id, true AS is_mp4, 'isom' AS major_brand,
        |  CAST(1000 * (doc_id % 4 + 1) AS BIGINT) AS timescale,
        |  CAST(500 * doc_id + 1000 AS BIGINT) AS duration,
        |  CAST((500 * doc_id + 1000) * 1000 //
        |    (1000 * (doc_id % 4 + 1)) AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 3 + 1 AS BIGINT) AS n_tracks
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Per-track MP4 descent (MultiModal.decodeMp4Tracks): tkhd
    * id/dims, hdlr handler, stsd codec fourcc per track of the
    * synthetic fixtures — every field closed-form in (doc_id, track
    * ordinal) for the oracle. */
  private def qMp4Tracks(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    MultiModal.decodeMp4Tracks(MultiModal.syntheticMp4(
        t.documents.select(col("doc_id")), "doc_id"))
      .orderBy(col("doc_id"), col("track_id"))
  }
  // per-track closed forms of the synthetic fixture: track ordinal t
  // in 0..doc_id%3, even t = video (avc1, 160·(t+1)×90·(t+1)), odd
  // t = audio (mp4a, no dims)
  register(Q("q140_mp4_tracks", qMp4Tracks,
      """SELECT doc_id, CAST(t + 1 AS BIGINT) AS track_id,
        |  CASE WHEN t % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
        |  CAST(CASE WHEN t % 2 = 0 THEN 160 * (t + 1) ELSE 0 END
        |    AS BIGINT) AS width,
        |  CAST(CASE WHEN t % 2 = 0 THEN 90 * (t + 1) ELSE 0 END
        |    AS BIGINT) AS height,
        |  CASE WHEN t % 2 = 0 THEN 'avc1' ELSE 'mp4a' END AS codec
        |FROM (SELECT doc_id, unnest(range(doc_id % 3 + 1)) AS t
        |      FROM documents)
        |ORDER BY doc_id, track_id""".stripMargin))

  /** Per-channel audio features (MultiModal.wavChannelFeatures) over
    * the closed-form WAV fixtures: zero crossings, silence frames,
    * peak, per-channel DC sum — all exact integers the oracle
    * recomputes from the generator formula without the bytes. */
  private def qAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    MultiModal.wavChannelFeatures(MultiModal.syntheticWav(
        t.documents.select(col("doc_id")), "doc_id"))
      .orderBy(col("doc_id"), col("channel"))
  }
  // closed forms of the WAV fixture generator (rate = 8000+(id%4)·
  // 4000 unused here; nch = id%2+1, frames = id%50+10, s(i,ch) =
  // ((id·31+i·7+ch·13) % 2001) − 1000); a crossing is a flip of the
  // s >= 0 predicate between consecutive frames of the same channel
  register(Q("q143_audio_features", qAudioFeatures,
      """WITH base AS (SELECT doc_id, doc_id % 2 + 1 AS nch,
        |    doc_id % 50 + 10 AS frames FROM documents),
        |fr AS (SELECT doc_id, nch, frames,
        |    unnest(generate_series(0, frames - 1)) AS i FROM base),
        |smp AS (SELECT doc_id, frames, i,
        |    unnest(generate_series(0, nch - 1)) AS ch FROM fr),
        |v AS (SELECT doc_id, frames, ch, i,
        |    ((doc_id * 31 + i * 7 + ch * 13) % 2001) - 1000 AS s
        |  FROM smp),
        |lg AS (SELECT doc_id, ch, i, s,
        |    lag(s) OVER (PARTITION BY doc_id, ch ORDER BY i) AS prev
        |  FROM v),
        |agg AS (SELECT doc_id, ch,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(sum(CASE WHEN prev IS NOT NULL
        |      AND (s >= 0) <> (prev >= 0) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zero_crossings,
        |    CAST(sum(CASE WHEN abs(s) < 100 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS silence_n,
        |    CAST(max(abs(s)) AS BIGINT) AS peak,
        |    CAST(sum(s) AS BIGINT) AS sum_samples
        |  FROM lg GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(ch AS BIGINT) AS channel, n_frames,
        |  zero_crossings, silence_n, peak, sum_samples
        |FROM agg ORDER BY doc_id, channel""".stripMargin))

  /** Difference-hash near-duplicate image pairs (q113's gradient
    * cousin): REAL PNG decode → integer-exact dHash
    * (MultiModal.imageDHash — horizontal brightness gradients, robust
    * to global exposure shifts that flip aHash bits) → the same
    * bounded-window hamming pairing as q113. Running both hashes and
    * OR-ing the pair sets is the production near-dup-image recipe. */
  private def qDhashDup(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticImage(
      t.documents.select("doc_id"), "doc_id", "png")
    val hs = MultiModal.imageDHash(fx).graftCp(false)
    val a = hs.select(col("doc_id").as("id1"), col("dhash").as("h1"))
      .withColumn("blk", explode(array(
        floor(col("id1") / lit(8)).cast("long"),
        floor(col("id1") / lit(8)).cast("long") + 1)))
    val b = hs.select(col("doc_id").as("id2"), col("dhash").as("h2"),
      floor(col("id2") / lit(8)).cast("long").as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id2") > col("id1") && col("id2") <= col("id1") + 8)
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(h1 ^ h2) AS BIGINT)").as("hamming"))
      .withColumn("is_dup", col("hamming") <= 1)
      .orderBy(col("id1"), col("id2"))
  }
  // q113's closed-form fixture replayed through the dHash bit rule:
  // 5x2 cell grid, bit (y*4+x) when right cell mean > left cell mean
  // (cross-multiplied, empty cells are 0/0 -> bit 0)
  register(Q("q144_dhash_dup", qDhashDup,
      """WITH base AS (SELECT doc_id, doc_id % 16 + 1 AS w,
        |    doc_id % 8 + 1 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w - 1)) AS x FROM base),
        |px AS (SELECT doc_id, w, h, x,
        |    unnest(generate_series(0, h - 1)) AS y FROM xs),
        |g AS (SELECT doc_id,
        |    (y * 2 // h) * 5 + (x * 5 // w) AS cell,
        |    (doc_id + 7*x + 13*y) % 256 + (doc_id + 7*x + 13*y + 31) % 256
        |      + (doc_id + 7*x + 13*y + 62) % 256 AS gray
        |  FROM px),
        |cells AS (SELECT doc_id, cell, sum(gray) AS cs, count(*) AS cc
        |  FROM g GROUP BY doc_id, cell),
        |allc AS (SELECT b.doc_id, c.cell FROM base b
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS cell) c),
        |cc0 AS (SELECT a.doc_id, a.cell, coalesce(cs, 0) AS cs,
        |    coalesce(cc, 0) AS cc
        |  FROM allc a LEFT JOIN cells USING (doc_id, cell)),
        |bits AS (SELECT l.doc_id, (l.cell // 5) * 4 + (l.cell % 5) AS bi,
        |    CASE WHEN r.cs * l.cc > l.cs * r.cc THEN 1 ELSE 0 END AS bit
        |  FROM cc0 l JOIN cc0 r
        |  ON r.doc_id = l.doc_id AND r.cell = l.cell + 1
        |  WHERE l.cell % 5 < 4),
        |hs AS (SELECT doc_id,
        |    CAST(sum(bit * (CAST(1 AS BIGINT) << bi)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) <= 1 AS is_dup
        |FROM hs a JOIN hs b
        |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 8
        |ORDER BY id1, id2""".stripMargin))

  /** End-to-end image near-dup clustering: decode once, fingerprint
    * with BOTH perceptual hashes (aHash catches global-structure dups,
    * dHash catches exposure-shifted ones), OR the bounded-window
    * hamming pair sets, then connected components
    * (Dedup.duplicateClusters) — the full image-dedup pipeline as one
    * composition, cluster sizes as the report. */
  private def qImageClusters(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val fx = MultiModal.syntheticImage(
      t.documents.select("doc_id"), "doc_id", "png")
      .graftCp(false) // encode once, hash twice
    def pairsOf(hs: DataFrame, hcol: String): DataFrame = {
      val a = hs.select(col("doc_id").as("id1"), col(hcol).as("h1"))
        .withColumn("blk", explode(array(
          floor(col("id1") / lit(8)).cast("long"),
          floor(col("id1") / lit(8)).cast("long") + 1)))
      val b = hs.select(col("doc_id").as("id2"), col(hcol).as("h2"),
        floor(col("id2") / lit(8)).cast("long").as("blk"))
      a.join(b, Seq("blk"))
        .filter(col("id2") > col("id1") && col("id2") <= col("id1") + 8)
        .filter(expr("bit_count(h1 ^ h2)") <= 1)
        .select(col("id1"), col("id2"))
    }
    val pairs = pairsOf(MultiModal.imageAHash(fx), "ahash")
      .unionByName(pairsOf(MultiModal.imageDHash(fx), "dhash"))
      .distinct()
    Dedup.duplicateClusters(pairs)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster"))
  }
  // q113's aHash and q144's dHash replayed over ONE shared pixel CTE,
  // pair sets OR'd, then the q44-style recursive closure
  register(Q("q147_image_clusters", qImageClusters,
      """WITH RECURSIVE base AS (SELECT doc_id, doc_id % 16 + 1 AS w,
        |    doc_id % 8 + 1 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w - 1)) AS x FROM base),
        |px AS (SELECT doc_id, w, h, x,
        |    unnest(generate_series(0, h - 1)) AS y FROM xs),
        |pxg AS (SELECT doc_id, w, h, x, y,
        |    (doc_id + 7*x + 13*y) % 256 + (doc_id + 7*x + 13*y + 31) % 256
        |      + (doc_id + 7*x + 13*y + 62) % 256 AS gray
        |  FROM px),
        |acl AS (SELECT doc_id, (y * 2 // h) * 4 + (x * 4 // w) AS cell,
        |    gray FROM pxg),
        |ac AS (SELECT doc_id, cell, sum(gray) AS cs, count(*) AS cc
        |  FROM acl GROUP BY doc_id, cell),
        |atot AS (SELECT doc_id, sum(cs) AS ts, sum(cc) AS tc
        |  FROM ac GROUP BY doc_id),
        |aall AS (SELECT b.doc_id, c.cell FROM base b
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS cell) c),
        |abits AS (SELECT a.doc_id, a.cell,
        |    CASE WHEN coalesce(cs, 0) * tc > ts * coalesce(cc, 0)
        |         THEN 1 ELSE 0 END AS bit
        |  FROM aall a LEFT JOIN ac USING (doc_id, cell)
        |  JOIN atot USING (doc_id)),
        |ahs AS (SELECT doc_id,
        |    CAST(sum(bit * (CAST(1 AS BIGINT) << cell)) AS BIGINT) AS hv
        |  FROM abits GROUP BY doc_id),
        |dcl AS (SELECT doc_id, (y * 2 // h) * 5 + (x * 5 // w) AS cell,
        |    gray FROM pxg),
        |dc AS (SELECT doc_id, cell, sum(gray) AS cs, count(*) AS cc
        |  FROM dcl GROUP BY doc_id, cell),
        |dall AS (SELECT b.doc_id, c.cell FROM base b
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS cell) c),
        |dcc0 AS (SELECT a.doc_id, a.cell, coalesce(cs, 0) AS cs,
        |    coalesce(cc, 0) AS cc
        |  FROM dall a LEFT JOIN dc USING (doc_id, cell)),
        |dbits AS (SELECT l.doc_id, (l.cell // 5) * 4 + (l.cell % 5) AS bi,
        |    CASE WHEN r.cs * l.cc > l.cs * r.cc THEN 1 ELSE 0 END AS bit
        |  FROM dcc0 l JOIN dcc0 r
        |  ON r.doc_id = l.doc_id AND r.cell = l.cell + 1
        |  WHERE l.cell % 5 < 4),
        |dhs AS (SELECT doc_id,
        |    CAST(sum(bit * (CAST(1 AS BIGINT) << bi)) AS BIGINT) AS hv
        |  FROM dbits GROUP BY doc_id),
        |apairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM ahs a JOIN ahs b
        |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 8
        |  WHERE bit_count(xor(a.hv, b.hv)) <= 1),
        |dpairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM dhs a JOIN dhs b
        |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 8
        |  WHERE bit_count(xor(a.hv, b.hv)) <= 1),
        |pairs AS (SELECT id1, id2 FROM apairs
        |  UNION SELECT id1, id2 FROM dpairs),
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
}
