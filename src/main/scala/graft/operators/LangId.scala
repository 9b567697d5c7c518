package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Char-trigram language identification (SURVEY §2 #137) — the
  * fastText-shaped upgrade over [[Text.langId]]'s stopword heuristic,
  * which returns "und" on any short or stopword-free document.
  *
  * Model: per-language multinomial naive Bayes over hashed character
  * trigrams of the normalized text, trained from the corpus's own
  * labeled rows (the train split). Trigrams hash onto `buckets` md5
  * buckets (the DSIR hashed-feature convention — salted md5 first-8-hex
  * arithmetic both engines replay bit-for-bit); add-one smoothing over
  * the bucket space makes every score finite:
  *
  *   score(doc, L) = ln N_L + Σ_t ln((c[L, b(t)] + 1) / (T_L + B))
  *                 = lnGrid(N_L) + Σ_b m[doc,b] · lnGrid(c[L,b] + 1)
  *                   − n_tri · lnGrid(T_L + B)
  *
  * where N_L = training-doc count of L (the unnormalized class prior —
  * subtracting the shared ln N constant can't change the argmax, so it
  * is omitted), with every ln floored onto the 1e-6 integer grid and
  * summed in BIGINT (order-free — the DSIR/lmscore discipline, so
  * double association order can't diverge the engines). Winner = max
  * score, ties to the alphabetically-first language; docs with no
  * trigrams (normalized length < 3) stay "und". The prior term means a
  * doc sharing no trigrams with any profile scores
  * lnGrid(N_L) − n_tri·lnGrid(T_L+B) — dominated by the smallest
  * per-trigram penalty for long docs, but prior-tilted toward the
  * best-represented language when n_tri is small, instead of always
  * resolving to the rarest-trained language.
  *
  * Scale shape: per-doc bucket counts (≤ min(L, buckets) rows per doc)
  * come out of ONE codegen'd kernel call per document (no per-character
  * explode, no pre-checkpoint aggregation exchange — the frame is a
  * narrow map), materialized once for the three consumers (profile,
  * per-doc bucket counts, per-doc totals); the profile is bounded by
  * |langs|·buckets rows and BROADCAST to the scoring join;
  * the only corpus-keyed exchanges are doc_id aggregations and one
  * |langs|-rows-per-doc argmax window partitioned by doc_id. Nothing
  * grows super-linearly in corpus size; profile size is independent of
  * it.
  */
object LangId {

  val defaultBuckets = 4096

  /** Per-doc bucket counts (doc_id, lang, b, m) of `docs(doc_id, lang,
    * text)`; b = ('0x'+md5('lid:'+t)[0,8)) % buckets. One codegen'd
    * kernel call per document ([[graft.expressions
    * .Kernels.trigramBucketCounts]], r19-opt #2): the corpus-sized
    * one-row-per-character explode and the (doc, b) hash-aggregation
    * EXCHANGE disappear (the frame is a pure narrow map now), and md5
    * runs once per DISTINCT trigram — the per-doc dedup that was ~2×
    * slower as a DataFrame-level string-keyed aggregation is a plain
    * in-kernel hashmap. Bit-identical to the pre-r19 built-in
    * composition (explode one row per character position, md5 per
    * occurrence, then the (doc, b) aggregation), kept as
    * `ReferenceForms.trigramBucketsExploded` in the test sources;
    * NativeExprSpec asserts corpus + adversarial equality (the
    * normalized text is staged as an attribute, same as before). */
  private[graft] def trigramBuckets(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"), Text.normalize(col("text")).as("s"))
      .where(length(col("s")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(graft.expressions.native.trigramBucketCounts(col("s"), buckets)).as("bm"))
      .select(col("doc_id"), col("lang"),
        col("bm").getField("b").as("b"), col("bm").getField("m").as("m"))

  /** (doc_id, lang_label, lang_tri, n_tri): trigram-NB prediction per
    * document. `trainFilter` selects the labeled training rows (the
    * held-out default trains on even doc_ids so odd-doc predictions
    * are out-of-sample); every doc is scored regardless. */
  def langIdTrigram(docs: DataFrame, buckets: Int = defaultBuckets,
      trainFilter: Column = col("doc_id") % 2 === 0): DataFrame = {
    // the multi-consumer frame is the per-doc BUCKET COUNT table, not
    // the raw trigram rows (r19-opt): aggregating counts BEFORE the
    // checkpoint shrinks the materialized frame from one row per
    // character to one row per distinct (doc, trigram), makes the
    // per-doc count consumer below a free projection instead of a
    // corpus-sized re-shuffle, and runs the md5 once per distinct
    // (doc, trigram) — the totals re-aggregate from m, identical
    // values everywhere (sums over m distribute)
    val tbc = graft.Materialize.once(trigramBuckets(docs, buckets))
    val prof = tbc.where(trainFilter)
      .groupBy(col("lang"), col("b")).agg(sum(col("m")).as("c"))
    // prof is ≤ |langs|·buckets rows: its two consumers re-aggregate
    // from the materialized tb, both bounded
    val w = prof.select(col("lang"), col("b"),
      round(round(log(col("c").cast("double") + 1.0), 6) * 1e6).cast("long").as("w"))
    // class prior lnGrid(N_L): training-DOC counts per language from
    // the documents table itself (trigram-less training docs still
    // count). |langs| rows; inner-joined to base so the candidate set
    // stays exactly the profiled languages.
    val prior = docs.where(trainFilter)
      .groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .select(col("lang").as("cand"),
        round(round(log(col("nd").cast("double")), 6) * 1e6).cast("long").as("prior"))
    val base = prof.groupBy(col("lang"))
      .agg(sum(col("c")).as("T"))
      .select(col("lang").as("cand"),
        round(round(log(col("T").cast("double") + buckets.toDouble), 6) * 1e6)
          .cast("long").as("base"))
      .join(prior, "cand")
    val dm = tbc.select(col("doc_id"), col("b"), col("m"))
    val dn = tbc.groupBy(col("doc_id")).agg(sum(col("m")).as("n_tri"))
    val hits = dm.join(broadcast(w), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("m") * col("w")).as("hit"))
    val sc = dn.crossJoin(broadcast(base))
      .join(hits, dn("doc_id") === hits("doc_id") && col("cand") === hits("lang"), "left")
      .select(dn("doc_id"), col("cand"), col("n_tri"),
        (col("prior") + coalesce(col("hit"), lit(0L)) - col("n_tri") * col("base"))
          .as("score"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
    val win = sc.withColumn("rn", row_number().over(wq)).where(col("rn") === 1)
      .select(col("doc_id"), col("cand"), col("n_tri"))
    docs.select(col("doc_id"), col("lang").as("lang_label"))
      .join(win, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_label"),
        coalesce(col("cand"), lit("und")).as("lang_tri"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }
}
