package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryKey
import QueryCommon.{docs, recallReport, recallReportSql}

/** Query keys of the multimodal family: audio, image and video
  * feature summaries, thumbnails, perceptual-hash dedup and its
  * recall audit — each key with its Spark query and the DuckDB SQL
  * that replays it. */
object MultimodalQueries {

  /** DuckDB CTEs predicting each document's decoded image size: `b`
    * (doc_id, hx = hex of the utf-8 bytes, n) and `dims` (+ w, h by
    * the integer dims formula) — shared by the mm oracles. */
  private lazy val DIMS_CTES: String =
    s"""b AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
       |  FROM documents
       |), dims AS (
       |  SELECT doc_id, hx, n,
       |    least(64, greatest(1, n)) AS w,
       |    greatest(1, (n + least(64, greatest(1, n)) - 1)
       |      // least(64, greatest(1, n))) AS h
       |  FROM b
       |)""".stripMargin

  /** The predicted-pixel aHash replay + capped chunk banding, as
    * shared CTEs: `hv` = (doc_id, ph, ptot), `kept` = the below-cap
    * banded view. Shared by the mm_dedup serving oracle and the
    * mm_recall audit so the two replays cannot drift. */
  private lazy val PHASH_CTES: String =
    s"""$DIMS_CTES, bytes AS (
       |  SELECT doc_id, n, w, h,
       |    list_transform(range(0, n), i ->
       |      CAST('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2) AS INT)) AS bs
       |  FROM dims
       |), tvals AS (
       |  SELECT doc_id, t,
       |    CASE WHEN (((t // 8) * h // 8) * w + ((t % 8) * w // 8)) < n
       |      THEN bs[CAST((((t // 8) * h // 8) * w + ((t % 8) * w // 8)) AS INT) + 1]
       |      ELSE 0 END AS v
       |  FROM bytes, unnest(range(0, 64)) AS u(t)
       |), tot AS (
       |  SELECT doc_id, sum(v) AS tot FROM tvals GROUP BY doc_id
       |), hv AS (
       |  SELECT tvals.doc_id,
       |    CAST(sum(CASE WHEN 64 * v > tot
       |      THEN CAST(1 AS UBIGINT) << CAST(t AS INT)
       |      ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS ph,
       |    CAST(max(tot) AS BIGINT) AS ptot
       |  FROM tvals JOIN tot USING (doc_id) GROUP BY tvals.doc_id
       |), ch AS (
       |  SELECT doc_id, ph, ptot, c,
       |    CAST((ph >> CAST(16 * c AS INT)) & CAST(65535 AS UBIGINT) AS BIGINT) AS val
       |  FROM hv, unnest([0, 1, 2, 3]) AS u(c)
       |), kept AS (
       |  SELECT ch.* FROM ch JOIN (
       |    SELECT c, val FROM ch GROUP BY c, val
       |    HAVING count(*) <= ${Multimodal.phashBucketCap}
       |  ) ok USING (c, val)
       |)""".stripMargin

  /** The operator-contract pair verify (degenerate-pair brightness
    * gate), shared by both mm oracles. */
  private def phashVerifySql(x: String, y: String): String =
    s"""(least(bit_count($x.ph), 64 - bit_count($x.ph)) > ${Multimodal.phashDegenerateBits}
       |    OR least(bit_count($y.ph), 64 - bit_count($y.ph)) > ${Multimodal.phashDegenerateBits}
       |    OR abs($x.ptot - $y.ptot) <= ${Multimodal.phashBrightnessTol})""".stripMargin

  val keys: Seq[(String, QueryKey)] = Seq(
    // 83: audio modality — deterministic PCM clips (text bytes →
    // int16 samples) through a REAL WAV container round-trip, then
    // signal-level quality features (energy, zero-crossing rate,
    // peak): the audio leg of the multimodal surface. Features are
    // exact integer sums over decoded samples — the oracle replays
    // them from the same bytes; the container itself is spec-pinned
    // against the JDK's javax.sound reader.
    "mm_audio" -> QueryKey((s, d) =>
      Audio.extractFeatures(Audio.audioFromDocuments(docs(s, d))).toDF()
        .orderBy(col("media_id")),
      // 83: replay of sample_i = (byte_i - 128) * 256 and the integer
      // signal sums; zero counts as non-negative in the sign-change
      // test, exactly as the codec computes it
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
         |  FROM documents
         |), ss AS (
         |  SELECT doc_id, n,
         |    list_transform(range(0, n), i ->
         |      (CAST('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2) AS INT) - 128) * 256) AS s
         |  FROM b
         |)
         |SELECT doc_id AS media_id,
         |  CAST(n AS BIGINT) AS n_samples,
         |  CAST(n * 1000000 // 8000 AS BIGINT) AS duration_us,
         |  CAST(coalesce(list_sum(list_transform(s, x -> abs(x))), 0) AS BIGINT) AS sum_abs,
         |  CAST(coalesce(list_sum(list_transform(s, x -> x * x)), 0) AS BIGINT) AS sum_sq,
         |  CAST(coalesce(list_sum(list_transform(range(1, n), i ->
         |    CASE WHEN (s[CAST(i AS INT)] < 0) <> (s[CAST(i AS INT) + 1] < 0)
         |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings,
         |  CAST(coalesce(list_max(list_transform(s, x -> abs(x))), 0) AS INT) AS peak
         |FROM ss ORDER BY media_id""".stripMargin),
    // 35: multimodal plumbing (rows-only; stub codec is Spark-side only)
    "mm_features" -> QueryKey((s, d) =>
      Multimodal.featureSummary(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy(col("media_id")),
      // 35: the PNG is built from (doc_id, text) by formula, so the
      // oracle predicts the DECODED output independently: dimensions
      // from the integer dims formula, n_pixels = w·h, feature mass
      // from the fixed-point histogram of the utf-8 sample bytes over
      // the padded pixel count. A broken encode, deflate/inflate, or
      // unfilter step breaks the match. Container byte counts are
      // deflate-dependent and deliberately absent.
      s"""WITH $DIMS_CTES, bytes AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(0, n), i ->
         |      CAST('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2) AS INT)) AS bs
         |  FROM dims
         |), feats AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(0, 8), j ->
         |      CAST(floor(CAST(coalesce(list_sum(
         |        list_filter(bs, x -> x % 8 = CAST(j AS INT))), 0) AS DOUBLE)
         |        * 1000000 / (w * h)) AS BIGINT)) AS f
         |  FROM bytes
         |)
         |SELECT doc_id AS media_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
         |       ELSE 'video' END AS media_type,
         |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST(w * h AS BIGINT) AS n_pixels,
         |  round(CAST(list_sum(f) AS DOUBLE) / 1000000, 6) AS feature_mass
         |FROM feats ORDER BY media_id""".stripMargin),
    // 65: multimodal resize + frame-sample (decode -> 8x8 NN thumbnail
    // + stride-h/4 row sample; integer index mapping and sums, so the
    // oracle replays both transforms over the predicted pixels)
    "mm_resize" -> QueryKey((s, d) =>
      Multimodal.thumbSummary(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy(col("media_id")),
      // 65: NN-thumbnail + frame-sample replay over the predicted pixel
      // grid (pixel(i) = byte i of the utf-8 text, zero beyond; same
      // integer floor index mapping as PngCodec.resizeNN)
      s"""WITH $DIMS_CTES, bytes AS (
         |  SELECT doc_id, n, w, h,
         |    list_transform(range(0, n), i ->
         |      CAST('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2) AS INT)) AS bs
         |  FROM dims
         |), sums AS (
         |  SELECT doc_id, w, h,
         |    list_sum(list_transform(range(0, 64), t ->
         |      CASE WHEN (((t // 8) * h // 8) * w + ((t % 8) * w // 8)) < n
         |        THEN bs[CAST((((t // 8) * h // 8) * w + ((t % 8) * w // 8)) AS INT) + 1]
         |        ELSE 0 END)) AS thumb_sum,
         |    (h + greatest(1, h // 4) - 1) // greatest(1, h // 4) AS frame_rows,
         |    list_sum(list_transform(
         |      range(0, ((h + greatest(1, h // 4) - 1) // greatest(1, h // 4)) * w), t ->
         |      CASE WHEN ((t // w) * greatest(1, h // 4) * w + (t % w)) < n
         |        THEN bs[CAST(((t // w) * greatest(1, h // 4) * w + (t % w)) AS INT) + 1]
         |        ELSE 0 END)) AS frame_sum
         |  FROM bytes
         |)
         |SELECT doc_id AS media_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
         |       ELSE 'video' END AS media_type,
         |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST(coalesce(thumb_sum, 0) AS BIGINT) AS thumb_sum,
         |  CAST(frame_rows AS BIGINT) AS frame_rows,
         |  CAST(coalesce(frame_sum, 0) AS BIGINT) AS frame_sum
         |FROM sums ORDER BY media_id""".stripMargin),
    // 127: perceptual image near-dup (average-hash) — decode the PNG,
    // 8x8 thumbnail, strictly-above-mean bit per pixel, SimHash-style
    // 16-bit chunk banding for candidates, exact hamming <= 3 verify.
    // The documents table's planted near-dup texts become planted
    // near-dup IMAGES through the deterministic media synthesis, so
    // the key returns real pairs; the oracle replays the hash from the
    // PREDICTED decoded pixels (the mm_resize thumbnail mapping), so a
    // broken decode/resize/hash step breaks the match.
    "mm_dedup" -> QueryKey((s, d) =>
      Multimodal.phashPairs(Multimodal.mediaFromDocuments(docs(s, d)))
        .orderBy(col("media_a"), col("media_b")),
      // 127: average-hash replay from the PREDICTED decoded pixels —
      // the mm_resize thumbnail index mapping, strictly-above-mean bits
      // summed into a UBIGINT (the dedup_simhash idiom). The oracle
      // replays the BANDED join including its two scale/quality guards
      // (they are part of the operator's contract, so they must be
      // oracle-checked): (chunk, value) buckets with df > 4096 are
      // dropped before pairing (aHash bits are NOT uniform — flat
      // images collapse onto degenerate chunk values; see
      // Multimodal.phashBucketCap, interpolated), and DEGENERATE pairs
      // (both hashes within 4 bits of all-0/all-1) must agree on
      // brightness within |Δ ptot| <= 2048 = 64·32 (aHash is blind to
      // uniform intensity — all-white and all-black both hash to 0;
      // structured pairs skip the verify so brightness-shifted copies
      // of a real image stay caught; see Multimodal.phashBrightnessTol
      // / phashDegenerateBits).
      s"""WITH $PHASH_CTES
         |SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
         |FROM kept a JOIN kept b
         |  ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id
         |WHERE ${phashVerifySql("a", "b")}
         |  AND bit_count(xor(a.ph, b.ph)) <= 3
         |ORDER BY media_a, media_b""".stripMargin),
    // 127b: recall audit for the perceptual aHash index — truth is
    // the brute-force hamming join over the decoded images' aHashes
    // WITH the operator's own degenerate-pair brightness verify (the
    // verify is pair semantics, not candidate generation, so it
    // belongs to the truth set too); any missed pair is therefore an
    // occupancy-cap drop, exactly the term the audit measures. The
    // flat-image crowd (degenerate chunk values) makes this the cap's
    // hottest customer among the banded indexes.
    "mm_recall" -> QueryKey((s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
      val hashed = graft.Materialize.once(Multimodal.avgHash(media))
      def degen(h: org.apache.spark.sql.Column) =
        least(bit_count(h), lit(64) - bit_count(h)) <=
          Multimodal.phashDegenerateBits
      val exact = graft.Materialize.once(
        hashed.select(col("media_id").as("doc_a"), col("phash").as("h_a"),
            col("ptot").as("t_a"))
          .crossJoin(hashed.select(col("media_id").as("doc_b"),
            col("phash").as("h_b"), col("ptot").as("t_b")))
          .where(col("doc_a") < col("doc_b") &&
            bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= 3)
          .where(!(degen(col("h_a")) && degen(col("h_b"))) ||
            abs(col("t_a") - col("t_b")) <= Multimodal.phashBrightnessTol)
          .select(col("doc_a"), col("doc_b")))
      val found = graft.Materialize.once(Multimodal.phashPairs(media)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
      recallReport(exact, found)
    },
      // 127b: brute-force hamming truth over the decoded aHashes (with
      // the operator-contract brightness verify) vs the capped banded
      // replay; the dedup_recall report shape
      s"""WITH $PHASH_CTES,
         |mr_true AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM hv a JOIN hv b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |    AND ${phashVerifySql("a", "b")}
         |), mr_found AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM kept a JOIN kept b
         |    ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id
         |  WHERE ${phashVerifySql("a", "b")}
         |    AND bit_count(xor(a.ph, b.ph)) <= 3
         |), ${recallReportSql("mr_true", "mr_found")}""".stripMargin),
    // 114: video modality — multi-frame GVID container (real PNG
    // frames, 64 text bytes each) walked with keyframe-stride
    // sampling: only every stride-th frame is inflated, the rest are
    // seeked past via the length prefixes (decode cost ∝ sampled
    // frames — the point of keyframe sampling at scale). Outputs are
    // exact integers (sampled pixel mass + Σ|Δ| motion proxy), so the
    // oracle predicts them from the source bytes; container byte
    // counts stay out (deflate-dependent), like mm_features.
    "mm_video" -> QueryKey((s, d) =>
      Multimodal.videoSummary(Multimodal.videoFromDocuments(docs(s, d))).toDF()
        .orderBy(col("media_id")),
      // 114: frame split + stride sampling + per-frame byte sums + lag
      // motion, replayed from the utf-8 bytes (frame f covers bytes
      // [64f, min(n, 64f+64)); zero padding adds no mass)
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, hx, n, greatest(1, (n + 63) // 64) AS nf FROM b
         |), s AS (
         |  SELECT doc_id, hx, n, nf, greatest(1, nf // 4) AS stride FROM f
         |), fr AS (
         |  SELECT doc_id, hx, n, nf, stride, unnest(range(0, nf)) AS fi FROM s
         |), sums AS (
         |  SELECT doc_id, nf, stride, fi,
         |    coalesce(list_sum(list_transform(range(64 * fi, least(n, 64 * fi + 64)),
         |      i -> CAST('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2) AS INT))), 0) AS fsum
         |  FROM fr WHERE fi % stride = 0
         |), agg AS (
         |  SELECT doc_id, nf, stride, count(*) AS n_sampled, sum(fsum) AS sampled_sum,
         |    coalesce(sum(CASE WHEN prev IS NULL THEN 0 ELSE abs(fsum - prev) END), 0) AS motion
         |  FROM (SELECT *, lag(fsum) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
         |        FROM sums)
         |  GROUP BY 1, 2, 3
         |)
         |SELECT a.doc_id AS media_id, CAST(a.nf AS INT) AS n_frames, 4 AS fps,
         |  CAST(a.stride AS INT) AS kf_stride,
         |  CAST(a.n_sampled AS BIGINT) AS n_sampled,
         |  CAST(a.sampled_sum AS BIGINT) AS sampled_sum,
         |  CAST(a.motion AS BIGINT) AS motion,
         |  CAST(least(64, greatest(1, least(b.n, 64))) AS INT) AS f0_width,
         |  CAST(1 AS INT) AS f0_height
         |FROM agg a JOIN b USING (doc_id) ORDER BY media_id""".stripMargin))
}
