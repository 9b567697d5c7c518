package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2 #35).
  *
  * Images/audio/video ride through Spark as opaque `binary` columns
  * with a typed metadata struct. Payloads are REAL PNG files
  * (non-interlaced 8-bit grayscale): signature, IHDR with correct
  * CRC-32, a zlib-compressed IDAT holding filtered scanlines, IEND —
  * any standard PNG reader opens them. The decoder does the full
  * format work: signature + CRC validation, IHDR parse, multi-IDAT
  * reassembly, zlib inflate, and per-scanline unfiltering for all
  * five PNG filter types (None/Sub/Up/Average/Paeth).
  *
  * Scale notes: feature extraction is `Dataset.mapPartitions` with a
  * case-class encoder — per-partition codec init, streaming iterator,
  * no driver collect, no RDD round-trip (Tungsten row format in and
  * out). Metadata-only queries prune the binary column at the scan.
  * The oracle-checked query surface exposes only decode-derived values
  * (dimensions, pixel count, feature mass) — container byte counts
  * depend on the deflate implementation and stay out of the oracle.
  */
object Multimodal {

  val featureDim = 8

  /** Image dimensions for a sample-byte payload: width caps at 64,
    * height = ceil(len/width), floor 1×1 (integer arithmetic — the
    * oracle replays it). Pixels beyond the payload pad with zeros. */
  def dims(len: Int): (Int, Int) = {
    val w = math.min(64, math.max(1, len))
    val h = math.max(1, (len + w - 1) / w)
    (w, h)
  }

  /** (media_id, media_type, payload, meta{n_bytes,width,height}) —
    * deterministic media synthesized from `documents`: text bytes stand
    * in for the samples, encoded as a real zlib-compressed PNG. */
  def mediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val codec = new PngCodec
        rows.map { case (docId, text) =>
          val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (w, h) = dims(data.length)
          val payload = codec.encode(data)
          val mt = (docId % 3) match {
            case 0 => "image"; case 1 => "audio"; case _ => "video"
          }
          Media(docId, mt, payload, Meta(payload.length.toLong, w, h))
        }
      }
      .toDF()
  }

  /** Decode + feature extraction: full PNG decode (inflate +
    * unfilter), then an 8-bin value-weighted histogram over the
    * decoded pixels. Integer accumulation end-to-end; the fixed-point
    * features are floor((acc * 1e6) / n_pixels) so any engine
    * reproduces them exactly (zero padding adds no mass but counts in
    * the denominator). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition codec init — one Inflater/Deflater pair per
        // task, not per row
        val codec = new PngCodec
        rows.map { case (id, mt, payload) =>
          val d = codec.decode(payload)
          MediaFeatures(id, mt, payload.length.toLong, d.width, d.height,
            codec.features(d.data, featureDim))
        }
      }
  }

  /** Resize + frame-sample summary (SURVEY §2 #65): decode, 8×8
    * nearest-neighbor thumbnail, and a stride-h/4 row sample (the
    * "frame sample" for row-as-frame payloads) — the standard
    * multimodal preprocessing transforms, over real decoded pixels.
    * Pure integer arithmetic (floor index mapping, integer sums), so
    * the oracle replays thumbnail and frame sums exactly. */
  def thumbSummary(media: DataFrame, tw: Int = 8, th: Int = 8): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new PngCodec
        rows.map { case (id, mt, payload) =>
          val d = codec.decode(payload)
          val thumb = codec.resizeNN(d, tw, th)
          var ts = 0L
          var i = 0
          while (i < thumb.length) { ts += thumb(i) & 0xff; i += 1 }
          val stride = math.max(1, d.height / 4)
          var fs = 0L; var nf = 0L
          var r = 0
          while (r < d.height) {
            var c = 0
            while (c < d.width) { fs += d.data(r * d.width + c) & 0xff; c += 1 }
            nf += 1; r += stride
          }
          MediaThumb(id, mt, d.width, d.height, ts, nf, fs)
        }
      }.toDF()
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint: decode, 8×8
    * nearest-neighbor thumbnail (the [[thumbSummary]] transform), then
    * bit t set iff 64·thumb[t] > Σthumb — strictly-above-mean on the
    * integer grid, no division, so any engine replays the hash from
    * the predicted pixels. Visually-near-identical images (crops of
    * the same bytes, small edits) land within a few bits; the
    * SimHash chunk-banding discipline turns that into candidates
    * without an all-pairs join ([[phashPairs]]). */
  def avgHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new PngCodec
        rows.map { case (id, payload) =>
          val d = codec.decode(payload)
          val thumb = codec.resizeNN(d, 8, 8)
          var tot = 0L
          var i = 0
          while (i < 64) { tot += thumb(i) & 0xff; i += 1 }
          var h = 0L
          i = 0
          while (i < 64) {
            if (64L * (thumb(i) & 0xff) > tot) h |= (1L << i)
            i += 1
          }
          // ptot (64 × mean brightness) rides along: aHash is blind to
          // uniform intensity (any flat image hashes to 0), so the
          // pair verify needs the brightness to tell all-white from
          // all-black
          (id, h, tot)
        }
      }.toDF("media_id", "phash", "ptot")
  }

  /** Perceptual image near-dup pairs: the SimHash pigeonhole over
    * [[avgHash]] — hamming ≤ 3 over 64 bits guarantees one of the 4
    * 16-bit chunks matches exactly, so candidates come from a
    * chunk-keyed self-join (shuffle keyed on (chunk, value), never
    * all-pairs) and only candidates pay the exact hamming verify.
    * Same scale shape as [[Dedup.simhashPairs]]; the decode cost is a
    * narrow per-row map ahead of it. */
  /** Per-(chunk, value) occupancy cap for [[phashPairs]]' banded
    * self-join. The SimHash pigeonhole's "65,536 buckets per chunk"
    * uniformity argument holds for sha-derived bits but NOT for aHash
    * bits on a natural corpus: flat/dark images collapse onto
    * degenerate chunk values (a uniform image hashes to 0 entirely),
    * so one hot bucket can hold millions of images — a quadratic
    * candidate blowup. Buckets above the cap are dropped before the
    * join (MOSS's "ignore overly-common fingerprints" rule, the
    * winnow_pairs df<=50 precedent), bounding per-bucket pair work at
    * cap². Recall effect: a pair survives if ANY of its 4 shared
    * chunks sits in a below-cap bucket; only pairs ALL of whose
    * matching chunks are degenerate-hot are lost — exactly the
    * flat-image crowd whose pairwise enumeration is meaningless at
    * scale. The constant is INTERPOLATED into the mm_dedup oracle SQL,
    * so the two sides cannot drift. */
  val phashBucketCap = 4096L

  /** Brightness tolerance for the pair verify, in units of Σ over the
    * 64 thumbnail bytes (64 × mean-pixel delta). aHash thresholds
    * AROUND the mean, so any two uniform images — all-white and
    * all-black alike — collide at hamming 0; requiring
    * |ptot_a − ptot_b| ≤ 64·32 separates flat images of different
    * intensity. INTERPOLATED into the mm_dedup oracle SQL. */
  val phashBrightnessTol = 64L * 32L

  /** A hash with ≤ this many bits on its minority side is DEGENERATE:
    * near-flat images collapse onto all-0/all-1 bit patterns that
    * carry almost no structure, so hamming distance cannot tell
    * all-white from all-black and the [[phashBrightnessTol]] verify
    * must decide. The verify applies ONLY when both sides of a pair
    * are degenerate: for structured hashes aHash's per-image mean
    * threshold makes it brightness-INVARIANT by design — a globally
    * brightened copy is a canonical near-dup it exists to catch — and
    * an unconditional brightness gate (the r13 shape) silently dropped
    * that whole dup class once the mean shifted by more than ~32 byte
    * levels. At hamming ≤ 3 a structured hash can only pair with
    * another structured hash (bit counts differ by ≤ 3), so gating on
    * BOTH sides adds no flat-vs-structured leak. INTERPOLATED into the
    * mm_dedup oracle SQL. */
  val phashDegenerateBits = 4L

  def phashPairs(media: DataFrame, maxHamming: Int = 3,
      bucketCap: Long = phashBucketCap,
      brightnessTol: Long = phashBrightnessTol): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"chunk banding covers hamming <= 3, got $maxHamming")
    val nChunks = 4
    val chunkBits = 16
    // the self-join consumes the hash frame twice, and exchange reuse
    // does not fire across self-join branches (the multi-consumer
    // recompute rule) — without this every PNG would decode TWICE;
    // the materialized frame is three longs per image
    val hashed = graft.Materialize.once(avgHash(media))
    val chunked = Dedup.bitBands(hashed, Seq("media_id", "phash", "ptot"), "phash",
      nChunks, chunkBits, ("chunk", "val"))
    // occupancy guard: hot (chunk, value) buckets never reach the join.
    // Materialized once — the capped frame feeds BOTH self-join sides,
    // so un-truncated the occupancy histogram + join re-ran per side
    // (the minhashPairs/simhashPairs banded-frame discipline; r18-opt)
    val kept = graft.Materialize.once(
      Dedup.capBuckets(chunked, Seq("chunk", "val"), bucketCap))
    val a = kept.select(col("chunk"), col("val"),
      col("media_id").as("media_a"), col("phash").as("h_a"), col("ptot").as("t_a"))
    val b = kept.select(col("chunk"), col("val"),
      col("media_id").as("media_b"), col("phash").as("h_b"), col("ptot").as("t_b"))
    // brightness verify, DEGENERATE pairs only (see phashDegenerateBits):
    // structured hashes keep aHash's intrinsic brightness invariance
    def degenerate(h: Column): Column =
      least(bit_count(h), lit(64) - bit_count(h)) <= phashDegenerateBits
    a.join(b, Seq("chunk", "val"))
      .where(col("media_a") < col("media_b"))
      .where(!(degenerate(col("h_a")) && degenerate(col("h_b"))) ||
        abs(col("t_a") - col("t_b")) <= brightnessTol)
      .select(col("media_a"), col("media_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("media_a", "media_b")
  }

  /** Query surface: decode-derived values only (see class doc) —
    * dimensions, pixel count, fixed-point feature mass; the binary
    * column is pruned away and no deflate-dependent byte count leaks
    * into the oracle-checked output. */
  def featureSummary(media: DataFrame): DataFrame =
    extractFeatures(media).toDF()
      .select(col("media_id"), col("media_type"),
        col("width"), col("height"),
        (col("width").cast("long") * col("height").cast("long")).as("n_pixels"),
        round(aggregate(col("features"), lit(0L), (a, x) => a + x)
          .cast("double") / 1e6, 6).as("feature_mass"))

  // ------------------------------------------------- video modality
  /** Bytes-per-frame for the synthesized video stream: the document
    * "plays" 64 bytes per frame. */
  val frameBytes = 64
  /** Fixed synthetic frame rate (container metadata). */
  val videoFps = 4

  /** (media_id, payload) — deterministic multi-frame video synthesized
    * from `documents`: the text bytes split into 64-byte frames, each
    * encoded as a REAL PNG, wrapped in the length-prefixed GVID
    * container ([[VideoCodec]]). Empty docs yield a 1-frame video of
    * an empty frame (1×1 zero pixel), mirroring [[dims]]. */
  def videoFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val codec = new VideoCodec
        rows.map { case (docId, text) =>
          val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val nf = math.max(1, (data.length + frameBytes - 1) / frameBytes)
          val frames = (0 until nf).map { f =>
            java.util.Arrays.copyOfRange(data, f * frameBytes,
              math.min(data.length, f * frameBytes + frameBytes))
          }.toArray
          (docId, codec.encode(frames, videoFps))
        }
      }
      .toDF("media_id", "payload")
  }

  /** Keyframe-sampled video features (SURVEY §2 #114): container walk
    * + PNG decode of every `stride`-th frame ONLY — the length-prefixed
    * layout lets the reader SKIP undecoded frames, which is the actual
    * scale property of keyframe sampling (decode cost ∝ sampled
    * frames, not stream length). Emits frame count, the sampled-frame
    * pixel mass, and a motion proxy (Σ|Δ| of consecutive sampled frame
    * sums) — all exact integers, so the oracle replays them from the
    * source bytes. stride = max(1, n_frames/4), the mm_resize
    * convention. */
  def videoSummary(video: DataFrame): Dataset[VideoFeatures] = {
    val spark = video.sparkSession
    import spark.implicits._
    video.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new VideoCodec
        rows.map { case (id, payload) =>
          val v = codec.decodeSampled(payload)
          VideoFeatures(id, v.nFrames, v.fps, v.stride, v.sampled.length.toLong,
            v.sampled.sum, v.motion, v.f0Width, v.f0Height)
        }
      }
  }

  final case class VideoFeatures(media_id: Long, n_frames: Int, fps: Int,
      kf_stride: Int, n_sampled: Long, sampled_sum: Long, motion: Long,
      f0_width: Int, f0_height: Int)
  final case class VideoSample(nFrames: Int, fps: Int, stride: Int,
      sampled: Array[Long], motion: Long, f0Width: Int, f0Height: Int)

  /** GVID container: `"GVID"` magic, BE u32 frame count, BE u32 fps,
    * then per frame a BE u32 length + a real PNG ([[PngCodec]]).
    * Decode validates magic, counts, per-frame bounds, and exact
    * end-of-payload; sampling decodes only every stride-th frame and
    * seeks past the rest. Pure JDK, no media libs. */
  final class VideoCodec extends Serializable {
    private val png = new PngCodec
    private val MAGIC = Array[Byte]('G', 'V', 'I', 'D')

    private def beInt(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def readBeInt(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

    def encode(frames: Array[Array[Byte]], fps: Int): Array[Byte] = {
      require(frames.nonEmpty, "a video needs at least one frame")
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(MAGIC); bos.write(beInt(frames.length)); bos.write(beInt(fps))
      frames.foreach { f =>
        val p = png.encode(f)
        bos.write(beInt(p.length)); bos.write(p)
      }
      bos.toByteArray
    }

    /** Walk the container decoding every stride-th frame
      * (stride = max(1, nFrames/4)); skipped frames are SEEKED past,
      * never inflated. */
    def decodeSampled(payload: Array[Byte]): VideoSample = {
      require(payload.length >= 12, "GVID: truncated header")
      require(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(payload, 0, 4), MAGIC), "GVID: bad magic")
      val nFrames = readBeInt(payload, 4)
      val fps = readBeInt(payload, 8)
      require(nFrames >= 1, s"GVID: frame count $nFrames")
      val stride = math.max(1, nFrames / 4)
      var off = 12
      var fi = 0
      val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
      var f0w = 0; var f0h = 0
      while (fi < nFrames) {
        require(off + 4 <= payload.length, s"GVID: truncated at frame $fi")
        val len = readBeInt(payload, off)
        off += 4
        require(len >= 0 && off + len <= payload.length,
          s"GVID: frame $fi length $len out of bounds")
        if (fi % stride == 0) {
          val d = png.decode(java.util.Arrays.copyOfRange(payload, off, off + len))
          if (fi == 0) { f0w = d.width; f0h = d.height }
          var s = 0L; var i = 0
          while (i < d.data.length) { s += d.data(i) & 0xff; i += 1 }
          sums += s
        }
        off += len
        fi += 1
      }
      require(off == payload.length, "GVID: trailing bytes after last frame")
      var motion = 0L
      var j = 1
      while (j < sums.length) { motion += math.abs(sums(j) - sums(j - 1)); j += 1 }
      VideoSample(nFrames, fps, stride, sums.toArray, motion, f0w, f0h)
    }
  }

  final case class Meta(n_bytes: Long, width: Int, height: Int)
  final case class Media(media_id: Long, media_type: String,
      payload: Array[Byte], meta: Meta)
  final case class MediaFeatures(media_id: Long, media_type: String,
      n_bytes: Long, width: Int, height: Int, features: Array[Long])
  final case class MediaThumb(media_id: Long, media_type: String,
      width: Int, height: Int, thumb_sum: Long, frame_rows: Long, frame_sum: Long)
  final case class Decoded(width: Int, height: Int, data: Array[Byte])

  /** PNG codec for non-interlaced 8-bit grayscale. Encode writes
    * filter-0 scanlines through zlib; decode validates signature and
    * chunk CRCs, reassembles IDAT, inflates, and unfilters all five
    * spec filter types. Pure JDK (`java.util.zip`), no image libs. */
  final class PngCodec extends Serializable {
    private val SIG = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    private val crc = new java.util.zip.CRC32

    private def beInt(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def readBeInt(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

    private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(12 + data.length)
      out.write(beInt(data.length))
      val tagBytes = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tagBytes)
      out.write(data)
      crc.reset(); crc.update(tagBytes); crc.update(data)
      out.write(beInt(crc.getValue.toInt))
      out.toByteArray
    }

    /** Wrap an already-filtered scanline stream (height rows of
      * 1 filter byte + width pixels) into a complete PNG: deflate,
      * IHDR/IDAT/IEND with CRCs. Exposed so tests can exercise decode
      * against non-zero filter types. */
    def encodeRaw(width: Int, height: Int, scanlines: Array[Byte]): Array[Byte] = {
      require(scanlines.length == height * (width + 1),
        s"scanline stream ${scanlines.length} != $height*(${width}+1)")
      val ihdr = new Array[Byte](13)
      System.arraycopy(beInt(width), 0, ihdr, 0, 4)
      System.arraycopy(beInt(height), 0, ihdr, 4, 4)
      ihdr(8) = 8 // bit depth
      ihdr(9) = 0 // color type: grayscale
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(scanlines); deflater.finish()
      val zOut = new java.io.ByteArrayOutputStream(scanlines.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        zOut.write(buf, 0, n)
      }
      deflater.end()
      val out = new java.io.ByteArrayOutputStream(64 + zOut.size())
      out.write(SIG)
      out.write(chunk("IHDR", ihdr))
      out.write(chunk("IDAT", zOut.toByteArray))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** Encode sample bytes as a real PNG: dims from [[dims]], zero
      * padding to fill the last row, filter type 0 per scanline. */
    def encode(data: Array[Byte]): Array[Byte] = {
      val (w, h) = dims(data.length)
      val scan = new Array[Byte](h * (w + 1))
      var row = 0
      while (row < h) {
        // scan(row*(w+1)) stays 0: filter type None
        val srcOff = row * w
        val n = math.min(w, math.max(0, data.length - srcOff))
        if (n > 0) System.arraycopy(data, srcOff, scan, row * (w + 1) + 1, n)
        row += 1
      }
      encodeRaw(w, h, scan)
    }

    private def checkCrc(payload: Array[Byte], off: Int, len: Int): Unit = {
      crc.reset(); crc.update(payload, off + 4, 4 + len)
      require(crc.getValue.toInt == readBeInt(payload, off + 8 + len),
        s"chunk CRC mismatch at offset $off")
    }

    /** Full decode: signature, IHDR (8-bit grayscale only), chunk walk
      * with per-chunk CRC validation, IDAT reassembly, inflate, and
      * unfiltering of all five PNG filter types. Throws on a corrupt
      * container (callers quarantine, mirroring the poison-pill rule). */
    def decode(payload: Array[Byte]): Decoded = {
      require(payload.length >= 45, s"truncated PNG: ${payload.length} bytes")
      var i = 0
      while (i < 8) {
        require(payload(i) == SIG(i), s"bad PNG signature at byte $i")
        i += 1
      }
      require(readBeInt(payload, 8) == 13, "bad IHDR length")
      checkCrc(payload, 8, 13)
      val width = readBeInt(payload, 16)
      val height = readBeInt(payload, 20)
      require(payload(24) == 8 && payload(25) == 0,
        "decoder supports 8-bit grayscale only")
      // chunk walk: collect IDAT, stop at IEND
      val zData = new java.io.ByteArrayOutputStream(payload.length)
      var off = 33
      var seenEnd = false
      while (!seenEnd) {
        require(off + 12 <= payload.length, "truncated chunk stream")
        val len = readBeInt(payload, off)
        require(off + 12 + len <= payload.length, "chunk overruns payload")
        val tag = new String(payload, off + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        checkCrc(payload, off, len)
        tag match {
          case "IDAT" => zData.write(payload, off + 8, len)
          case "IEND" => seenEnd = true
          case _ => () // ancillary chunk: skip
        }
        off += 12 + len
      }
      // inflate to height scanlines of (filter byte + width pixels)
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(zData.toByteArray)
      val scan = new Array[Byte](height * (width + 1))
      var got = 0
      while (got < scan.length && !inflater.finished()) {
        val n = inflater.inflate(scan, got, scan.length - got)
        require(n > 0 || inflater.finished(), "truncated IDAT stream")
        got += n
      }
      require(got == scan.length, s"inflated $got of ${scan.length} bytes")
      // the stream must END here: a corrupt IDAT carrying surplus
      // decompressed data would otherwise pass CRC+length validation
      // silently instead of being quarantined
      val surplus = new Array[Byte](1)
      require(inflater.finished() || inflater.inflate(surplus, 0, 1) == 0
          && inflater.finished(),
        "IDAT stream continues past the expected scanline bytes")
      inflater.end()
      // unfilter (bpp = 1 for 8-bit grayscale)
      val px = new Array[Byte](height * width)
      var row = 0
      while (row < height) {
        val ft = scan(row * (width + 1)) & 0xff
        require(ft <= 4, s"bad filter type $ft in row $row")
        var c = 0
        while (c < width) {
          val x = scan(row * (width + 1) + 1 + c) & 0xff
          val left = if (c > 0) px(row * width + c - 1) & 0xff else 0
          val up = if (row > 0) px((row - 1) * width + c) & 0xff else 0
          val ul = if (c > 0 && row > 0) px((row - 1) * width + c - 1) & 0xff else 0
          val recon = ft match {
            case 0 => x
            case 1 => x + left
            case 2 => x + up
            case 3 => x + (left + up) / 2
            case 4 => // Paeth predictor
              val p = left + up - ul
              val (pa, pb, pc) = (math.abs(p - left), math.abs(p - up), math.abs(p - ul))
              val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
              x + pred
          }
          px(row * width + c) = (recon & 0xff).toByte
          c += 1
        }
        row += 1
      }
      Decoded(width, height, px)
    }

    /** Nearest-neighbor resize: out(r,c) = in((r·h)/oh, (c·w)/ow) —
      * floor index mapping, the standard NN downsample. */
    def resizeNN(d: Decoded, ow: Int, oh: Int): Array[Byte] = {
      val out = new Array[Byte](ow * oh)
      var r = 0
      while (r < oh) {
        val sr = r * d.height / oh
        var c = 0
        while (c < ow) {
          out(r * ow + c) = d.data(sr * d.width + c * d.width / ow)
          c += 1
        }
        r += 1
      }
      out
    }

    /** 8-bin value-weighted byte histogram, fixed-point (×1e6 / n,
      * floored): integer in, integer out — engine-reproducible. */
    def features(data: Array[Byte], dim: Int): Array[Long] = {
      val acc = new Array[Long](dim)
      var i = 0
      while (i < data.length) {
        val b = data(i) & 0xff
        acc(b % dim) += b.toLong
        i += 1
      }
      val n = math.max(data.length, 1).toLong
      val out = new Array[Long](dim)
      var j = 0
      while (j < dim) {
        out(j) = math.floor(acc(j).toDouble * 1e6 / n).toLong
        j += 1
      }
      out
    }
  }
}
