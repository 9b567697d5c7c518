package graft.expressions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels behind the native Catalyst expressions
  * (graft.expressions.*). Each replicates, bit-for-bit, the semantics
  * of the equivalent built-in-function composition (xxhash64 chains,
  * sequential double sums) so swapping implementations never changes
  * results — the specs assert HOF-vs-kernel equality. Static methods so
  * generated (whole-stage codegen) Java can call them directly.
  */
object Kernels {

  private val SEED = 42L
  private val WS = "\\s+".r.pattern

  /** Mirrors Text.normalize: trim (0x20 only, like Spark's trim), then
    * lowercase, then collapse whitespace runs to single spaces. */
  def normalize(text: UTF8String): String = {
    val t = text.trim().toLowerCase.toString
    WS.matcher(t).replaceAll(" ")
  }

  /** Mirrors split(normalize(text), " "): Java regex split, limit -1. */
  def tokens(text: UTF8String): Array[String] = normalize(text).split(" ", -1)

  /** Unicode NFC normalization (UAX #15, JDK implementation — agrees
    * with DuckDB's utf8proc `nfc_normalize` on the standard
    * composition table, which text_normalize's oracle hash-checks).
    * Fast path: the quick-check pass allocates nothing for
    * already-normalized text (all ASCII in particular) and returns the
    * input UTF8String unchanged.
    *
    * Unicode-VERSION coupling: the JDK normalizer carries the Unicode
    * data of its JDK release while utf8proc carries its own — the two
    * can diverge on compositions added in a newer Unicode version than
    * the older of the pair supports. UAX #15 stabilizes existing
    * normalization results, so divergence is confined to
    * newer-than-both-tables characters; the planted fixtures cover the
    * stable composition classes (Latin accents, Hangul-adjacent
    * combining marks), and a corpus from a future Unicode version
    * should re-verify engine agreement before trusting the oracle. */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** == xxhash64(stringCol): XXH64 of the UTF-8 bytes, seed 42. */
  def hashString(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SEED)

  /** == xxhash64(intLit, stringCol): chained int-then-bytes hash. */
  def hashIntString(i: Int, s: UTF8String): Long = {
    val h1 = XXH64.hashInt(i, SEED)
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h1)
  }

  // ------------------------------------------------------------ simhash
  /** One-pass 64-bit SimHash over word unigrams; identical output to
    * the HOF formulation ReferenceForms.simhash64Hof (test sources). */
  def simhash64(text: UTF8String): Long = {
    val votes = new Array[Int](64)
    val toks = tokens(text)
    var ti = 0
    while (ti < toks.length) {
      val h = hashString(UTF8String.fromString(toks(ti)))
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      ti += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  // ----------------------------------------------------------- shingles
  /** Distinct word k-shingles, first-occurrence order — mirrors
    * Dedup.shingles (array_distinct of sliced concat_ws). */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val toks = tokens(text)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length < k) out.add(toks.mkString(" "))
    else {
      var i = 0
      while (i + k <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator(); var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  /** MinHash signature straight from text: for each seed 0..perms-1 the
    * min over distinct k-shingles of xxhash64(seed, shingle). Identical
    * to minhashSignature(shingles(text,k), perms). */
  def minhashSig(text: UTF8String, k: Int, perms: Int): ArrayData = {
    val sh = shingles(text, k)
    val n = sh.numElements()
    val sig = new Array[Any](perms)
    var p = 0
    while (p < perms) {
      val seedHash = XXH64.hashInt(p, SEED)
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        val s = sh.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seedHash)
        if (h < best) best = h
        i += 1
      }
      sig(p) = best
      p += 1
    }
    new GenericArrayData(sig)
  }

  // ------------------------------------------------- sha-256-derived hashes
  // The near-dup signature kernels below use sha-256-prefix hashes
  // instead of xxhash64: the DuckDB oracle can reproduce them exactly
  // (`substr(sha256(x),1,16)`), which is what makes dedup_simhash /
  // dedup_minhash fully hash-checkable against an independent engine.
  // sha-256 per token costs more than xxhash64 but the signature stage
  // stays a narrow codegen'd map — it scales with input splits.

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  private val HEX = "0123456789abcdef".toCharArray

  /** First 8 bytes of sha-256(utf8(s)) as a big-endian signed long —
    * bit-identical to DuckDB `CAST('0x' || substr(sha256(s),1,16) AS
    * UBIGINT)` (same bits, two's-complement reinterpreted). */
  def sha64(s: String): Long = {
    val d = digest.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var out = 0L
    var i = 0
    while (i < 8) { out = (out << 8) | (h(i) & 0xffL); i += 1 }
    out
  }

  /** First 16 lowercase-hex chars of sha-256(utf8(s)) — the string form
    * of [[sha64]]; lexicographic min over these == unsigned numeric min. */
  def sha64Hex(s: String): String = {
    val d = digest.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = HEX((h(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(h(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** 64-bit SimHash over word unigrams (with multiplicity) using
    * [[sha64]] token hashes. DuckDB-reproducible; see the dedup_simhash
    * oracle in PipelineQueries. */
  def simhash64Sha(text: UTF8String): Long = {
    val votes = new Array[Int](64)
    val toks = tokens(text)
    var ti = 0
    while (ti < toks.length) {
      val h = sha64(toks(ti))
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      ti += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash signature as hex strings: sig(p) = min over distinct
    * k-shingles of sha64Hex(p + "|" + shingle). String min over
    * fixed-width lowercase hex == unsigned 64-bit min, and DuckDB's
    * `min(substr(sha256(i || '|' || s),1,16))` reproduces it exactly. */
  def minhashSigSha(text: UTF8String, k: Int, perms: Int): ArrayData = {
    val sh = shingles(text, k)
    val n = sh.numElements()
    // byte-level hot loop, same spec: sha-256 of utf8(p + "|" + s) ==
    // digest(update(ascii(p + "|")), update(utf8(s))); min over the
    // fixed-width hex strings == unsigned min over the first-8-byte
    // longs, so the comparison stays a register op and the hex render
    // happens once per perm, not once per (perm, shingle). Measured
    // ~2x off the signature stage with bit-identical output (the
    // string-building form allocated concat + bytes + 16-char hex per
    // (perm, shingle)).
    val shBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { shBytes(i) = sh.getUTF8String(i).getBytes; i += 1 }
    val d = digest.get()
    val sig = new Array[Any](perms)
    var p = 0
    while (p < perms) {
      val prefix = (p + "|").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var bestU = 0L
      var have = false
      i = 0
      while (i < n) {
        d.reset()
        d.update(prefix)
        d.update(shBytes(i))
        val h = d.digest()
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
        if (!have || java.lang.Long.compareUnsigned(v, bestU) < 0) { bestU = v; have = true }
        i += 1
      }
      val out = new Array[Char](16)
      var b = 0
      while (b < 8) {
        val by = ((bestU >>> ((7 - b) * 8)) & 0xff).toInt
        out(2 * b) = HEX((by >> 4) & 0xf)
        out(2 * b + 1) = HEX(by & 0xf)
        b += 1
      }
      sig(p) = UTF8String.fromString(new String(out))
      p += 1
    }
    new GenericArrayData(sig)
  }

  /** |distinct(a) ∩ distinct(b)| over string arrays, O(n+m): hash-set
    * of the smaller side, remove-on-match probe of the larger (so
    * duplicates on either side count once) — exactly
    * size(array_intersect(a, b)) for ARBITRARY inputs, which lets the
    * injected optimizer rule rewrite that pattern blindly. Replaces
    * the built-in array_intersect in the near-dup verify joins: the
    * built-in falls back to an O(n·m) nested-loop for non-atomic
    * comparisons and was evaluated once in the join condition plus
    * once per projection — this kernel is a single codegen'd call per
    * candidate pair. */
  /** Max multiplicity of any element of a string array — one O(n)
    * hash-count pass. Exactly
    * `array_max(transform(array_distinct(toks), t => size(filter(toks,
    * x => x === t))))` under the callers' `size === 0` guard: that HOF
    * composition evaluates interpreted in O(n · distinct) — quadratic
    * per document, and it dominated Classify.measured / corpus_gopher
    * (r19-opt; the HOF reference is ReferenceForms.topTokenCountHof
    * in the test sources, NativeExprSpec asserts equality). Null
    * elements count zero (the HOF's `x === t` is null for them, so
    * the filter drops them) and an empty array returns 0 (the guard's
    * value). */
  def topTokenCount(toks: ArrayData): Int = {
    val n = toks.numElements()
    val m = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val c = m.merge(toks.getUTF8String(i), 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }

  def intersectCount(a: ArrayData, b: ArrayData): Int = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val m = big.numElements()
    val set = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) { set.add(small.getUTF8String(i)); i += 1 }
    var cnt = 0
    var j = 0
    while (j < m) { if (set.remove(big.getUTF8String(j))) cnt += 1; j += 1 }
    cnt
  }

  // ----------------------------------------------------------- vectors
  /** Sequential double dot product over float arrays — same order, same
    * arithmetic as aggregate(zip_with(...)) in ReferenceForms.dot. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Cosine over float arrays: dot/(sqrt(na)*sqrt(nb)), matching
    * Knn.cosine's exact expression shape. */
  def cosineF(a: ArrayData, b: ArrayData): Double =
    dotF(a, b) / (math.sqrt(dotF(a, a)) * math.sqrt(dotF(b, b)))

  /** Sequential double products for the mixed (float array, double
    * array) shape of trained-centroid assignment — same fold order
    * and widening as aggregate(zip_with(a.cast, b.cast)). */
  private def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    acc
  }

  private def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Raw Σ(a_i−b_i)² over double arrays — the PQ code-assignment
    * distance (callers round(,6) on top, like the HOF form). Fold
    * order matches Pq.dist2's zip_with+aggregate exactly: difference
    * terms formed first, multiplied, summed sequentially from 0.0
    * (NativeExprSpec pins bit parity). */
  def dist2D(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Cosine of a FLOAT vector against a DOUBLE (trained) centroid —
    * the hot expression of k-means / Rocchio assignment (n·k
    * evaluations per pass; the HOF form pays interpreted lambdas per
    * element). Bit-identical to ReferenceForms.cosineDHof
    * (NativeExprSpec). */
  def cosineFD(a: ArrayData, b: ArrayData): Double =
    dotFD(a, b) / (math.sqrt(dotF(a, a)) * math.sqrt(dotD(b, b)))

  // ------------------------------------------- nearest-cell argmins
  /** Spark's round(x, 6) on doubles, replicated from RoundBase's
    * codegen path: NaN/Infinity pass through, everything else rounds
    * HALF_UP on the shortest-decimal BigDecimal (valueOf). The argmin
    * kernels below must compare the SAME rounded grid values the
    * exchange-form round(cosine/dist2, 6) compared. */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** IVF nearest-centroid argmin over a collected
    * array<struct<cell_id: long, centroid: array<float>>> — winner by
    * HIGHEST round6(cosineF), ties to the LOWEST cell_id, doubles
    * compared with java.lang.Double.compare (NaN largest — Spark's
    * max-aggregate ordering). Exactly the former
    * max(struct(round(cosine, 6), -cell_id)) exchange form
    * (NativeExprSpec pins equality), but evaluated as ONE codegen'd
    * call per row: no n-row argmax exchange, and — unlike the
    * reverted HOF fold — the cosine kernel stays native. The
    * tie-break makes the result independent of the collect_list build
    * order. Returns a 0/1-element long array (empty centroid set →
    * empty, matching crossJoin-with-empty's zero rows; callers
    * explode it — the generator is a barrier, so pushed-down
    * isnotnull(cell_id) filters can't re-evaluate the fold). */
  def ivfArgmin(emb: ArrayData, cents: ArrayData): ArrayData = {
    val k = cents.numElements()
    if (k == 0) return new GenericArrayData(Array.empty[Any])
    var bestCos = 0.0
    var bestId = 0L
    var i = 0
    while (i < k) {
      val cell = cents.getStruct(i, 2)
      val id = cell.getLong(0)
      val cos = round6(cosineF(emb, cell.getArray(1)))
      val cmp = if (i == 0) 1 else java.lang.Double.compare(cos, bestCos)
      if (cmp > 0 || (cmp == 0 && id < bestId)) { bestCos = cos; bestId = id }
      i += 1
    }
    new GenericArrayData(Array[Any](bestId))
  }

  /** [[ivfArgmin]] against TRAINED (double-array) centroids, returning
    * the winning (cell_id, cos) struct — the k-means assignment also
    * consumes the winner's rounded cosine. Same ordering, cosineFD
    * kernel. 0/1-element array<struct<cell_id: long, cos: double>>. */
  def kmArgmin(emb: ArrayData, cents: ArrayData): ArrayData = {
    val k = cents.numElements()
    if (k == 0) return new GenericArrayData(Array.empty[Any])
    var bestCos = 0.0
    var bestId = 0L
    var i = 0
    while (i < k) {
      val cell = cents.getStruct(i, 2)
      val id = cell.getLong(0)
      val cos = round6(cosineFD(emb, cell.getArray(1)))
      val cmp = if (i == 0) 1 else java.lang.Double.compare(cos, bestCos)
      if (cmp > 0 || (cmp == 0 && id < bestId)) { bestCos = cos; bestId = id }
      i += 1
    }
    new GenericArrayData(Array[Any](
      org.apache.spark.sql.catalyst.InternalRow(bestId, bestCos)))
  }

  /** PQ code argmin over a per-block collected
    * array<struct<cell_id: long, c: array<double>>> — winner by
    * LOWEST round6(dist2D), ties to the lowest cell_id; exactly the
    * former min(struct(round(dist2D, 6), cell_id)) exchange form.
    * The per-block cells list is never empty (it comes from a
    * groupBy-collect_list over the codebook), so this returns the
    * winning cell_id directly. */
  def pqArgmin(sub: ArrayData, cells: ArrayData): Long = {
    val k = cells.numElements()
    var bestD = 0.0
    var bestId = 0L
    var i = 0
    while (i < k) {
      val cell = cells.getStruct(i, 2)
      val id = cell.getLong(0)
      val d = round6(dist2D(sub, cell.getArray(1)))
      val cmp = if (i == 0) -1 else java.lang.Double.compare(d, bestD)
      if (cmp < 0 || (cmp == 0 && id < bestId)) { bestD = d; bestId = id }
      i += 1
    }
    bestId
  }

  // ------------------------------------------- hashed-trigram buckets
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val LID_SALT =
    "lid:".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Per-document hashed-trigram bucket counts for
    * [[graft.operators.LangId]]: the (b, m) pairs of
    *
    *   b = conv(substring(md5('lid:' || t), 1, 8), 16, 10) % buckets
    *   m = multiplicity of bucket b
    *
    * over the code-point trigrams t = substring(s, i, 3),
    * i = 1..length(s)−2 (Spark substring/length count code points) —
    * exactly the explode+md5+groupBy composition's per-doc rows, but
    * ONE codegen'd call per document: the corpus-sized trigram explode
    * and the (doc, b) hash-aggregation exchange disappear, and md5
    * runs once per DISTINCT trigram (occurrences are counted first)
    * instead of once per character position. Emitted in ascending
    * bucket order (deterministic bytes; every consumer aggregates, so
    * order is semantically irrelevant). Fewer than 3 code points →
    * empty array (callers guard `length(s) >= 3`, where the sequence
    * form would turn descending). The 'lid:' salt is fixed: LangId is
    * the one consumer, and embedding it keeps the generated call a
    * plain static invocation. */
  def trigramBucketCounts(text: UTF8String, buckets: Int): ArrayData = {
    val s = text.toString
    val nChars = s.length
    val starts = new Array[Int](nChars + 1)
    var nCp = 0
    var i = 0
    while (i < nChars) {
      starts(nCp) = i
      nCp += 1
      i += Character.charCount(s.codePointAt(i))
    }
    starts(nCp) = nChars
    if (nCp < 3) return new GenericArrayData(Array.empty[Any])
    // occurrence count per DISTINCT trigram first, md5 once per entry
    val tri = new java.util.HashMap[String, Array[Long]]()
    i = 0
    while (i + 3 <= nCp) {
      val t = s.substring(starts(i), starts(i + 3))
      val c = tri.get(t)
      if (c == null) tri.put(t, Array(1L)) else c(0) += 1L
      i += 1
    }
    val bc = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    val d = md5Digest.get()
    val it = tri.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      d.reset()
      d.update(LID_SALT)
      d.update(e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = d.digest()
      // first 8 hex chars == first 4 digest bytes, as an unsigned int
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val b = java.lang.Long.valueOf(v % buckets)
      val acc = bc.get(b)
      if (acc == null) bc.put(b, Array(e.getValue()(0)))
      else acc(0) += e.getValue()(0)
    }
    val out = new Array[Any](bc.size())
    var o = 0
    val bit = bc.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue(), e.getValue()(0))
      o += 1
    }
    new GenericArrayData(out)
  }

  private val DSIR_SALT =
    "dsir:".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Per-document hashed-UNIGRAM bucket counts for the DSIR importance
    * sampler (sample_importance): the (b, m) pairs of
    *
    *   b = conv(substring(md5('dsir:' || tok), 1, 8), 16, 10) % buckets
    *   m = multiplicity of bucket b
    *
    * over the non-empty tokens of [[tokens]](text) — exactly the
    * explode(Text.tokens)+filter+md5 composition's per-doc rows folded
    * to counts, as ONE codegen'd call per document: the per-occurrence
    * explode rows disappear and md5 runs once per DISTINCT token.
    * Ascending bucket order; docs with zero non-empty tokens return an
    * empty array (they drop out of the explode exactly like the
    * occurrence rows did). Same shape as [[trigramBucketCounts]] with
    * word-unigram features and the 'dsir:' salt. */
  def dsirBucketCounts(text: UTF8String, buckets: Int): ArrayData = {
    val toks = tokens(text)
    val tf = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) {
        val c = tf.get(t)
        if (c == null) tf.put(t, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    if (tf.isEmpty) return new GenericArrayData(Array.empty[Any])
    val bc = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    val d = md5Digest.get()
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      d.reset()
      d.update(DSIR_SALT)
      d.update(e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = d.digest()
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val b = java.lang.Long.valueOf(v % buckets)
      val acc = bc.get(b)
      if (acc == null) bc.put(b, Array(e.getValue()(0)))
      else acc(0) += e.getValue()(0)
    }
    val out = new Array[Any](bc.size())
    var o = 0
    val bit = bc.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue(), e.getValue()(0))
      o += 1
    }
    new GenericArrayData(out)
  }

  /** Plane-weight cache for [[lshSignSha]]: weights depend only on
    * (plane, dim), so each JVM computes the sha-derived matrix once —
    * the per-row cost is a plain dot product. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  private def shaPlane(p: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((p.toLong << 32) | dim, _ => {
      val w = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        val pm = java.lang.Long.remainderUnsigned(sha64(s"hyperplane|$p|$i"), 1000000L)
        w(i) = pm.toDouble / 1000000.0 - 0.5
        i += 1
      }
      w
    })

  /** Random-hyperplane sign signature with sha-256-derived plane
    * weights: component (p,i) = remainderUnsigned(sha64("hyperplane|p|i"),
    * 1e6)/1e6 - 0.5 — DuckDB reproduces both the weights and the
    * sequential-fold projection bit-for-bit (knn_lsh oracle). */
  def lshSignSha(emb: ArrayData, nPlanes: Int): Long = {
    val dim = emb.numElements()
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      val w = shaPlane(p, dim)
      var proj = 0.0
      var i = 0
      while (i < dim) { proj += emb.getFloat(i).toDouble * w(i); i += 1 }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Random-hyperplane sign signature, replicating Knn.lshSignature:
    * plane component (p,i) = pmod(xxhash64('hyperplane', p, i), 1e6)/1e6
    * - 0.5; bit p set iff the projection is > 0. */
  def lshSign(emb: ArrayData, nPlanes: Int): Long = {
    val n = emb.numElements()
    val hyper = UTF8String.fromString("hyperplane")
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var h = XXH64.hashUnsafeBytes(hyper.getBaseObject, hyper.getBaseOffset, hyper.numBytes, SEED)
      h = XXH64.hashInt(p, h)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val hi = XXH64.hashInt(i, h)
        val m = hi % 1000000L
        val pm = if (m < 0) m + 1000000L else m
        proj += emb.getFloat(i).toDouble * (pm.toDouble / 1000000.0 - 0.5)
        i += 1
      }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Count-min estimate: min of the little-endian 8-byte counters at
    * the given flat indices (CmsAgg's layout). Indices reduce
    * floorMod(idx, nCounters), matching the aggregate. Empty index
    * arrays return 0 (no seeds = no evidence). */
  def cmsEstimate(sketch: Array[Byte], indices: ArrayData): Long = {
    val n = indices.numElements()
    if (n == 0) return 0L
    val nc = sketch.length / 8
    var best = Long.MaxValue
    var i = 0
    while (i < n) {
      val c = java.lang.Math.floorMod(indices.getLong(i), nc.toLong).toInt
      var v = 0L
      var b = 7
      while (b >= 0) { v = (v << 8) | (sketch(c * 8 + b) & 0xffL); b -= 1 }
      if (v < best) best = v
      i += 1
    }
    best
  }

  /** Bloom membership: true iff every position's bit is set in the
    * bitmap (bit b at byte b>>>3, mask 1<<(b&7) — BloomAgg's layout).
    * Positions reduce floorMod(pos, bits), matching the aggregate. */
  def bloomContains(bitmap: Array[Byte], positions: ArrayData): Boolean = {
    val bits = bitmap.length.toLong * 8L
    val n = positions.numElements()
    var i = 0
    while (i < n) {
      val b = java.lang.Math.floorMod(positions.getLong(i), bits).toInt
      if ((bitmap(b >>> 3) & (1 << (b & 7))) == 0) return false
      i += 1
    }
    true
  }

  // ------------------------------------------------------- ParseFloat
  /** The finite-number forms Go's strconv.ParseFloat accepts: optional
    * sign, digits with the decimal point on either side (".5", "5.",
    * "5"), optional decimal exponent ("1e2"), underscore separators
    * only BETWEEN digits ("1_000" yes, "1_.5"/"1__0"/"_1" no; "0x_1" is
    * the one leading-underscore form the hex prefix allows), and hex
    * floats ("0x1p-2", "0x1.8p+3", "0x.8p1") with a mandatory binary
    * exponent (go/spec FloatLit). The storm oracle's DuckDB SQL matches
    * the same three strings. */
  private val DU = "[0-9](?:_?[0-9])*" // decimal digits, Go underscore rule
  private val HU = "[0-9a-fA-F](?:_?[0-9a-fA-F])*"
  private[graft] val DecimalFloatRe = s"^[+-]?($DU(\\.(?:$DU)?)?|\\.$DU)([eE][+-]?$DU)?$$"
  private[graft] val HexFloatRe = s"^[+-]?0[xX](_?$HU(\\.(?:$HU)?)?|\\.$HU)[pP][+-]?$DU$$"
  private[graft] val InfRe = "^[+-]?(inf|infinity)$"
  private val decimalFloat = java.util.regex.Pattern.compile(DecimalFloatRe)
  private val hexFloat = java.util.regex.Pattern.compile(HexFloatRe)
  private val infinity = java.util.regex.Pattern.compile(InfRe)
  private val hexInt = java.util.regex.Pattern.compile("^0[xX]([0-9a-fA-F]*)")
  private val hexFrac = java.util.regex.Pattern.compile("^0[xX][0-9a-fA-F]*\\.([0-9a-fA-F]*)")
  private val hexExp = java.util.regex.Pattern.compile("[pP]([+-]?[0-9]+)$")

  /** `regexp_extract(s, re, 1)`: the first match's group, else "". */
  private def group1(re: java.util.regex.Pattern, s: String): String = {
    val m = re.matcher(s)
    if (m.find()) m.group(1) else ""
  }

  /** strconv.ParseFloat with every error mapped to 0 (the storm
    * reference's parseFloatOrZero), on an already-trimmed string:
    *  - a finite decimal form parses with its underscores stripped;
    *    a value that overflows to ±Inf ("1e999") is Go's ErrRange, so 0;
    *  - a hex float is ±M · 2^(p − 4·|frac|) with M the int ++ frac
    *    digits read as ONE unsigned hex integer — correctly rounded
    *    while M has at most 16 SIGNIFICANT digits (leading zeros don't
    *    count); a longer M, an exponent outside `Int` and an overflow
    *    to ±Inf give 0 on both engines (Go would round the long
    *    mantissa, SURVEY §1);
    *  - "inf"/"infinity" with an optional sign and "nan", any case, are
    *    ±Inf and NaN; everything else is 0.
    * The gates match with `find()`, as RLike does, so a final line
    * terminator ("1.5\n") still parses. Bit-for-bit the value of the
    * regex composition ReferenceForms.lenientDoubleRegex (test
    * sources), `-0.0` and NaN included, wherever that composition does
    * not throw (NativeExprSpec); one static call replaces its ~12
    * argument references and a dozen regex expressions per column. */
  def lenientDouble(text: UTF8String): Double = {
    val t = text.toString
    if (decimalFloat.matcher(t).find()) {
      val d =
        try java.lang.Double.parseDouble(t.replace("_", ""))
        catch { case _: NumberFormatException => return 0.0 }
      if (Math.abs(d) == Double.PositiveInfinity) 0.0 else d
    } else if (hexFloat.matcher(t).find()) hexDouble(t)
    else {
      val lower = t.toLowerCase(java.util.Locale.ROOT)
      if (infinity.matcher(lower).find()) {
        if (t.startsWith("-")) Double.NegativeInfinity else Double.PositiveInfinity
      } else if (lower == "nan") Double.NaN
      else 0.0
    }
  }

  /** The hex branch of [[lenientDouble]] on a string its gate matched,
    * in the composition's operation order: sign * M * 2^e. */
  private def hexDouble(t: String): Double = {
    val u = t.replace("_", "")
    val sign = if (u.startsWith("-")) -1.0 else 1.0
    val body = if (u.startsWith("-") || u.startsWith("+")) u.substring(1) else u
    val ip = group1(hexInt, body)
    val fp = group1(hexFrac, body)
    val digits = ip + fp
    var lead = 0
    while (lead < digits.length && digits.charAt(lead) == '0') lead += 1
    if (digits.length - lead > 16) return 0.0
    val ex =
      try Integer.parseInt(group1(hexExp, body))
      catch { case _: NumberFormatException => return 0.0 }
    val m = java.lang.Long.parseUnsignedLong(digits.substring(lead).padTo(1, '0'), 16)
    // unsigned long -> double, correctly rounded (the sticky low bit
    // keeps round-half-even exact for values past 2^63)
    val md = if (m >= 0) m.toDouble else ((m >>> 1) | (m & 1L)).toDouble * 2.0
    val v = sign * md * StrictMath.pow(2.0, (ex.toLong - 4L * fp.length).toDouble)
    if (Math.abs(v) == Double.PositiveInfinity) 0.0 else v
  }
}
