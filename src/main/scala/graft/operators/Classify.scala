package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.Text

/** Trained linear quality classifier — the model-based successor to
  * rule quality filters: distill the Gopher rule set into a linear
  * model over cheap integer text features (logistic regression with a
  * piecewise-linear "hard sigmoid" link), then score every document
  * with one narrow map. The production use is the standard two-stage
  * quality pipeline: rules label a seed set, the linear probe
  * generalizes them to a smooth score that ranks borderline documents
  * instead of guillotining them.
  *
  * Deterministic and ENGINE-REPLAYABLE end-to-end, the embed_pca /
  * kmeans discipline applied to supervised training:
  * - features quantize to the 1e-6 grid (floor(v·1e6 + 0.5)/1e6) from
  *   exact integer token counts, so both engines start from identical
  *   doubles;
  * - the link is the HARD sigmoid clamp(z/4 + 1/2, 0, 1) — exact
  *   rational arithmetic, no transcendental exp whose last-ulp
  *   differences across libm implementations could straddle a
  *   rounding boundary;
  * - per-row gradient contributions quantize to 1e-6-grid longs and
  *   sum ORDER-FREE; each step's weights re-round to the 1e-6 grid —
  *   so the DuckDB oracle replays the full 8-step training loop and
  *   every score bit-for-bit.
  *
  * Scale shape: training is `steps` passes, each ONE aggregation over
  * the corpus producing 5 longs + a count (map-side combine; nothing
  * corpus-sized shuffles), weights travel as literals; scoring is one
  * narrow codegen'd map. The driver holds 5 doubles per step — the
  * same bounded-collect pattern as Pca's 1-row iterate. */
object Classify {

  /** 1e-6-grid re-round: floor(v·1e6 + 0.5)/1e6, both engines. */
  private def r6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("double") / lit(1000000.0)

  /** The integer measurement pass shared with corpus_gopher (same
    * expressions, same staging), plus the rule label. */
  private def measured(docs: DataFrame): DataFrame = Classify.measuredOf(docs)

  /** The Gopher integer measurement pass, shared verbatim with the
    * corpus_gopher query (one definition — the two outputs must stay
    * expression-identical so the oracle replays both).
    *
    * r19-opt: every aggregate/filter HOF here ran interpreted
    * (CodegenFallback), and the top-token HOF composition was
    * O(n·distinct) per doc; replaced by exact-equal codegen'd forms
    * (TextSpec/NativeExprSpec + the whole-corpus `<=>` checks pin each
    * equivalence):
    * - tot_len: normalize guarantees single separators, so
    *   Σ len(tok) = length(s) − (n − 1) for nonempty s (the
    *   meanTokenLen identity);
    * - n_alpha: one boundary-anchored lazy regex over " "+s — exactly
    *   one match per token containing a letter (s is lowercased, so
    *   [a-z] is "any letter"; the match starts at the token's leading
    *   separator and ends at its first letter, and the next match
    *   needs a fresh separator, so no token counts twice);
    * - stop_hits: [[Text.stopwordHitsOnNormalized]]'s single scan;
    * - top_n: the native hash-count kernel;
    * - n_bg: |bigram instances| = max(n − 1, 0), pure arithmetic;
    * - n_bg_d: |distinct bigrams| = |distinct 2-shingles| (the native
    *   shingles kernel returns the distinct set) when n ≥ 2; the
    *   n < 2 bigram list is empty, distinct count 0. */
  private[graft] def measuredOf(docs: DataFrame): DataFrame = {
    val staged = docs
      .select(col("doc_id"), col("text"), Text.normalize(col("text")).as("s"))
      .select(col("doc_id"), col("text"), col("s"),
        when(col("s") === "", array().cast("array<string>"))
          .otherwise(split(col("s"), " ")).as("tk"))
    staged.select(col("doc_id"),
      size(col("tk")).cast("long").as("n"),
      when(col("s") === "", lit(0L))
        .otherwise((length(col("s")) - (size(col("tk")) - 1)).cast("long")).as("tot_len"),
      size(regexp_extract_all(concat(lit(" "), col("s")),
        lit(" [^ ]*?[a-z]"), lit(0))).cast("long").as("n_alpha"),
      Text.stopwordHitsOnNormalized(col("s"), Text.stopwords.head._2)
        .cast("long").as("stop_hits"),
      Text.topTokenCount(col("tk")).cast("long").as("top_n"),
      greatest(size(col("tk")) - 1, lit(0)).cast("long").as("n_bg"),
      when(size(col("tk")) >= 2,
        size(graft.expressions.native.shingles(col("text"), 2)).cast("long"))
        .otherwise(lit(0L)).as("n_bg_d"))
  }

  /** (doc_id, x1..x4, y, label): 1e-6-grid features in [0, 1] from the
    * gopher measurement pass — saturating length, alpha-token ratio,
    * stopword ratio, duplicate-bigram ratio — and the Gopher-rule
    * label this probe distills. */
  def features(docs: DataFrame): DataFrame = {
    val m = measured(docs)
    val pass = (col("n") >= 30 && col("n") <= 100000) &&
      (col("tot_len") >= lit(3L) * col("n") &&
        col("tot_len") <= lit(10L) * col("n") && col("n") > 0) &&
      (lit(5L) * col("n_alpha") >= lit(4L) * col("n") && col("n") > 0) &&
      (col("stop_hits") >= 2) &&
      (lit(5L) * col("top_n") <= col("n")) &&
      ((col("n_bg") - col("n_bg_d")) * 5 <= col("n_bg"))
    m.select(col("doc_id"),
      r6(least(col("n"), lit(200L)).cast("double") / lit(200.0)).as("x1"),
      r6(col("n_alpha").cast("double") / greatest(col("n"), lit(1L)).cast("double")).as("x2"),
      r6(col("stop_hits").cast("double") / greatest(col("n"), lit(1L)).cast("double")).as("x3"),
      r6((col("n_bg") - col("n_bg_d")).cast("double")
        / greatest(col("n_bg"), lit(1L)).cast("double")).as("x4"),
      when(pass, lit(1.0)).otherwise(lit(0.0)).as("y"),
      pass.as("label"))
  }

  /** z = w0 + w1·x1 + … (left-associated, the order the oracle
    * replays) and the hard-sigmoid link p = clamp(z/4 + 1/2, 0, 1). */
  private def linkP(w: Array[Double]): Column = {
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
    least(greatest(lit(0.25) * z + lit(0.5), lit(0.0)), lit(1.0))
  }

  /** `steps` deterministic full-batch gradient steps from w = 0:
    * w_j ← round6(w_j − lr · Σ floor((p−y)·x_j·1e6 + 0.5) / (n·1e6)).
    * One corpus aggregation per step; 5 doubles cross the driver. */
  def trainWeights(feats: DataFrame, steps: Int = 8, lr: Double = 8.0): Array[Double] = {
    require(steps >= 1, s"need steps >= 1, got $steps")
    var w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    var t = 0
    while (t < steps) {
      val staged = feats.select(col("x1"), col("x2"), col("x3"), col("x4"),
        (linkP(w) - col("y")).as("r"))
      val row = staged.select(
          floor(col("r") * lit(1000000.0) + lit(0.5)).cast("long").as("g0"),
          floor(col("r") * col("x1") * lit(1000000.0) + lit(0.5)).cast("long").as("g1"),
          floor(col("r") * col("x2") * lit(1000000.0) + lit(0.5)).cast("long").as("g2"),
          floor(col("r") * col("x3") * lit(1000000.0) + lit(0.5)).cast("long").as("g3"),
          floor(col("r") * col("x4") * lit(1000000.0) + lit(0.5)).cast("long").as("g4"))
        .agg(sum(col("g0")), sum(col("g1")), sum(col("g2")), sum(col("g3")),
          sum(col("g4")), count(lit(1)))
        .head()
      val nd = row.getLong(5)
      // on an empty frame the sums are NULL and nd = 0 — getLong would
      // NPE and the update would divide by zero; fail with intent
      require(nd > 0, "corpus_classify needs a non-empty corpus")
      w = w.indices.toArray.map { j =>
        val g = row.getLong(j).toDouble / (nd.toDouble * 1000000.0)
        math.floor((w(j) - lr * g) * 1000000.0 + 0.5) / 1000000.0
      }
      t += 1
    }
    w
  }

  /** Score documents under GIVEN weights — the serving face: a
    * training job publishes `w` once, every consumer (batch scoring,
    * the streaming classify gate) runs this one narrow map. Same
    * output shape and 1e-6-grid rounding as [[scores]]. */
  def scoreWith(docs: DataFrame, w: Array[Double]): DataFrame = {
    require(w.length == 5, s"need 5 weights (w0..w4), got ${w.length}")
    features(docs).select(col("doc_id"), r6(linkP(w)).as("score"),
      (r6(linkP(w)) >= lit(0.5)).as("pred"), col("label"))
  }

  /** Train on the corpus, score the corpus: (doc_id, score, pred,
    * label) with score = round6(p) under the trained weights and
    * pred = score ≥ 0.5. Building this DataFrame RUNS the training
    * aggregations (the eager-materialization caveat Pca shares). */
  def scores(docs: DataFrame, steps: Int = 8, lr: Double = 8.0): DataFrame = {
    // every training step AND the final scoring consume the feature
    // frame — without truncation that is steps+1 full tokenization
    // passes over the corpus (the multi-consumer recompute rule);
    // materialized, the expensive token/bigram pass runs ONCE and the
    // steps re-scan a (doc_id, 4 doubles, y, label) frame
    val feats = graft.Materialize.once(features(docs))
    val w = trainWeights(feats, steps, lr)
    feats.select(col("doc_id"), r6(linkP(w)).as("score"),
      (r6(linkP(w)) >= lit(0.5)).as("pred"), col("label"))
  }

  /** Bigram-LM fluency scores (#62): train add-one-smoothed bigram
    * stats on the corpus itself, score each doc by mean log P(w2|w1).
    * Counts are vocabulary-sized aggregates; the per-doc mean goes
    * through exact decimal summation (order-independent), so the
    * oracle replays it despite double logs. Shared by text_lmscore
    * (the scores themselves) and text_ccnet (the bucketing on top). */
  private[graft] def lmScores(doc: DataFrame): DataFrame = {
    // token array staged as an attribute ref BEFORE bigramsOf: a
    // lambda body re-evaluates non-lambda subexpressions per element,
    // so composing bigramsOf(tokens(text)) directly re-tokenizes the
    // whole document once per bigram (measured 23s -> ~2s at sf0.1)
    val tokd = doc.select(col("doc_id"), Text.tokens(col("text")).as("tk"))
    // bigram instances feed BOTH the c2 aggregate and the scoring
    // join — materialize once (exchange reuse doesn't fire across
    // the branches; instance-level, so corpus-sized: set
    // spark.graft.materialize=reliable at 100 TB)
    val bgInst = graft.Materialize.once(tokd.select(col("doc_id"),
        explode(Text.bigramsOf(col("tk"))).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0)))
    val uni = tokd.select(explode(col("tk")).as("token"))
      .where(col("token") =!= "")
    // c1 has exactly one row per distinct token, so the vocabulary
    // size is count(c1) — deriving it there saves the second full
    // tokenize+explode pass the countDistinct scan used to make
    val c1 = graft.Materialize.once(
      uni.groupBy(col("token")).agg(count(lit(1)).as("c1")))
    val vocab = broadcast(c1.agg(count(lit(1)).as("v")))
    val c2 = bgInst.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val terms = bgInst
      .join(c2, "bg")
      .join(c1.withColumnRenamed("token", "w1"), "w1")
      .crossJoin(vocab)
      .select(col("doc_id"),
        log((col("c2") + lit(1L)).cast("double") /
            (col("c1") + col("v")).cast("double"))
          .cast(DecimalType(28, 12)).as("lp"))
    terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_logprob"))
  }
}
