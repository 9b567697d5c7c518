package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** The built-in (higher-order-function) compositions the native
  * kernels replaced. The library never calls them; NativeExprSpec and
  * ClassifySpec assert each kernel bit-equal to its reference form
  * here, so a kernel change can never silently change query results.
  */
object ReferenceForms {

  /** [[graft.operators.Dedup.shingles]]: distinct word k-shingles of
    * the normalized text (interpreted lambdas). */
  def shinglesHof(text: Column, k: Int): Column = {
    val toks = Text.tokens(text)
    val n = size(toks)
    val idx = sequence(lit(0), greatest(n - k, lit(0)))
    array_distinct(
      when(n < k, array(concat_ws(" ", toks)))
        .otherwise(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
  }

  /** [[graft.operators.Dedup.simhash64]]: per bit, sum +1/-1 votes of
    * each token's xxhash64; sign becomes the bit. */
  def simhash64Hof(text: Column): Column = {
    val votes = aggregate(
      Text.tokens(text),
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, i) => a + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** dot(a, b) in double precision, sequential (index-order) sum. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** [[graft.operators.Knn.cosine]] over array<float>. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The float-vector × double-centroid cosine kernel (`cosineFD`):
    * the same sequential double arithmetic as [[cosineHof]]. */
  def cosineDHof(a: Column, b: Column): Column = cosineHof(a, b)

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim i): xxhash64 -> uniform in [-0.5, 0.5). */
  private def planeComponent(p: Column, i: Column): Column =
    (pmod(xxhash64(lit("hyperplane"), p, i), lit(1000000L)).cast("double")
      / 1000000.0) - 0.5

  /** [[graft.operators.Knn.lshSignature]]: sign bits of `emb` under
    * `nPlanes` hyperplanes. */
  def lshSignatureHof(emb: Column, nPlanes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val proj = aggregate(
          zip_with(emb, sequence(lit(0), size(emb) - 1),
            (x, i) => x.cast("double") * planeComponent(p, i)),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** The PQ assignment distance: round(Σ(a_i−b_i)², 6), difference
    * vector first, then the sequential self-dot. */
  def dist2Hof(a: Column, b: Column): Column = {
    val d = zip_with(a, b, (x, y) => x - y)
    round(aggregate(zip_with(d, d, (x, y) => x * y), lit(0.0), (acc, x) => acc + x), 6)
  }

  /** [[graft.functions.Text.topTokenCount]]: count of the most frequent
    * token, 0 for an empty array (interpreted, O(n·distinct)). */
  def topTokenCountHof(toks: Column): Column =
    when(size(toks) === 0, lit(0)).otherwise(
      array_max(transform(array_distinct(toks),
        t => size(filter(toks, x => x === t)))))

  /** The langid trigram bucket counts (doc_id, lang, b, m) as the
    * pre-kernel composition: explode one row per character position,
    * md5 per occurrence, then the (doc, b) aggregation. */
  def trigramBucketsExploded(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"), Text.normalize(col("text")).as("s"))
      .where(length(col("s")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")).as("t"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("lid:"), col("t"))), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("m"))

  /** [[graft.storm.StormFunctions.parseFloatOrZero]]'s ParseFloat as
    * the pre-kernel composition of regexes, casts and CASE WHENs over
    * an already-trimmed string (the kernel is
    * [[graft.expressions.Kernels.lenientDouble]]). Under ANSI it throws
    * where the hex exponent or its scale overflows `Int`. */
  def lenientDoubleRegex(t: Column): Column = {
    import graft.expressions.Kernels.{DecimalFloatRe, HexFloatRe, InfRe}
    val clean = regexp_replace(t, "_", "").cast("double")
    when(t.rlike(DecimalFloatRe),
      when(abs(clean) === lit(Double.PositiveInfinity), lit(0.0)).otherwise(clean))
      .when(t.rlike(HexFloatRe), hexDoubleRegex(t))
      .when(lower(t).rlike(InfRe),
        when(t.startsWith("-"), lit(Double.NegativeInfinity))
          .otherwise(lit(Double.PositiveInfinity)))
      .when(lower(t) === "nan", lit(Double.NaN))
      .otherwise(lit(0.0))
  }

  /** The hex branch of [[lenientDoubleRegex]]: the mantissa digits
    * (int ++ frac) as ONE hex integer through conv(_, 16, 10), value
    * ±M · 2^(p − 4·|frac|); more than 16 significant digits or ±Inf
    * give 0. */
  private def hexDoubleRegex(t: Column): Column = {
    val u = regexp_replace(t, "_", "")
    val sign = when(u.startsWith("-"), lit(-1.0)).otherwise(lit(1.0))
    val body = regexp_replace(u, "^[+-]", "")
    val ip = regexp_extract(body, "^0[xX]([0-9a-fA-F]*)", 1)
    val fp = regexp_extract(body, "^0[xX][0-9a-fA-F]*\\.([0-9a-fA-F]*)", 1)
    val ex = regexp_extract(body, "[pP]([+-]?[0-9]+)$", 1).cast("int")
    val m = conv(concat(ip, fp), 16, 10).cast("double")
    val v = sign * m * pow(lit(2.0), (ex - length(fp) * 4).cast("double"))
    val sig = regexp_replace(concat(ip, fp), "^0+", "")
    when(length(sig) > 16, lit(0.0)).otherwise(
      coalesce(when(abs(v) === lit(Double.PositiveInfinity), lit(0.0)).otherwise(v),
        lit(0.0)))
  }
}
