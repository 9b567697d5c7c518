package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** The composed end-to-end pretraining-prep flagship (SURVEY §2 #140):
  * one pipeline chaining the curation stack in its documented order —
  * the integration face that catches cross-operator contract drift the
  * per-operator oracles can't (e.g. [[Text.fixText]]'s claim that it
  * runs BEFORE any dedup keying is finally exercised: an NFD/mojibake
  * near-dup pair unifies onto one dedup key only WITH the normalize
  * stage, PretrainSpec pins it).
  *
  *   1. encoding/Unicode normalization ([[Text.fixText]])
  *   2. blocklist page filter ([[Lines.badwordAudit]], C4 §2.2)
  *   3. C4 line cleaning + cross-doc duplicate-line removal
  *      ([[Lines.cleanLines]])
  *   4. paragraph-level exact dedup ([[Lines.dedupParagraphs]])
  *   5. near-dup cluster dedup, keep-canonical
  *      ([[Dedup.jaccardPairs]] → [[Dedup.clusters]])
  *   6. trained classifier gate, top-30% by score
  *      ([[Classify.scores]] → [[Sampling.topFraction]])
  *   7. benchmark decontamination ([[Decontaminate.clean]], raw-text
  *      eval suite)
  *   8. temperature-flattened language sampling
  *      ([[Sampling.temperatureSample]], τ=2, 50% char budget over the
  *      CLEANED char mass)
  *   9. training-order shard manifest (salted-md5 shard + position,
  *      the corpus_shard convention)
  *  10. trainer-ready examples ([[examples]]): context-window
  *      chunking + fixed-token-budget packing in manifest order
  *
  * Scale shape: every stage keeps its own audited plan — narrow maps
  * (1, 2), keyed keep-first aggregations (3, 4), the prefix-filtered
  * pair join + CC (5), the histogram-cascade gate (6), a broadcast
  * bench probe (7), broadcast threshold joins (8, 9's per-shard
  * window partitions by shard). Nothing introduced by the composition
  * shuffles more than its standalone form. */
object Pretrain {

  /** Stages 1–4 over (doc_id, text): normalize → blocklist → line
    * clean → paragraph dedup. Returns (doc_id, text) cleaned.
    * ONE definition of the chain — [[prepText]], the manifest and the
    * [[yieldReport]] funnel all read these frames, so none can drift
    * from the others. */
  private def prepChain(src: DataFrame,
      mat: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val fixed = src.select(col("doc_id"), Text.fixText(col("text")).as("text"))
    // narrow blocklist predicate — no join back onto the corpus
    val pageOk = mat(Lines.dropBadwordPages(fixed))
    val lined = mat(Lines.cleanLines(pageOk)
      .select(col("doc_id"), col("clean_text").as("text")))
    val pared = Lines.dedupParagraphs(lined)
      .select(col("doc_id"), col("clean_text").as("text"))
    (pageOk, lined, pared)
  }

  /** Stages 1–4 over (doc_id, text): normalize → blocklist → line
    * clean → paragraph dedup. Returns (doc_id, text) cleaned. */
  def prepText(src: DataFrame): DataFrame =
    prepChain(src, identity)._3

  /** The full pipeline. `src` = (doc_id, text, lang); `benchmark` =
    * raw eval docs (doc_id, text). Returns the shard manifest
    * (shard_id, pos, doc_id, lang, score).
    *
    * SIZING CONTRACT for `nShards` (also [[examples]]/[[examplesBpe]]):
    * the manifest `pos` window and the pack window both partition by
    * `shard_id`, so the most expensive stage runs as `nShards` tasks of
    * ~n/nShards rows each — nShards IS the stage's parallelism AND its
    * per-task memory bound. Size it to
    * `max(clusterCores, ceil(nDocs / 5e6))` (≈5M manifest rows per
    * sort task keeps the per-task sort in memory at typical row
    * widths); the default 4 is a TEST-SCALE value chosen so the tiny
    * corpora still exercise multi-doc shards and multi-chunk packs —
    * at 10⁹ docs it would serialize the pipeline's dominant stage into
    * 4 tasks. Any value is semantically valid (shard assignment is a
    * deterministic hash; more shards = more, smaller training shards),
    * so callers scale it freely without changing correctness — the
    * ScaleCheck pretrain_examples row measures the fixed-nShards
    * per-shard window as the linear term. */
  def run(src: DataFrame, benchmark: DataFrame, nShards: Int = 4,
      keepNum: Long = 3L, keepDen: Long = 10L): DataFrame =
    manifestWithText(src, benchmark, nShards, keepNum, keepDen)
      .select(col("shard_id"), col("pos"), col("doc_id"), col("lang"),
        col("score"))

  /** [[run]]'s manifest WITH the cleaned text riding along — the
    * input [[examples]] chunks and packs. */
  /** The doc-level stage outputs of [[run]]'s pipeline, for consumers
    * that need the intermediate frames (the manifest itself and the
    * [[yieldReport]] funnel). `auditAll` additionally materializes the
    * single-consumer stages the funnel counts AND chains (each then
    * has two consumers); the manifest path leaves them unmaterialized
    * — same frames, same values, one fewer checkpoint each. */
  private[graft] case class PipelineStages(pageOk: DataFrame,
    lined: DataFrame, pared: DataFrame, canon: DataFrame,
    gated: DataFrame, kept: DataFrame, sampled: DataFrame)

  private def stages(src: DataFrame, benchmark: DataFrame,
      keepNum: Long, keepDen: Long, auditAll: Boolean): PipelineStages = {
    def mat(df: DataFrame): DataFrame =
      if (auditAll) graft.Materialize.once(df) else df
    // 1–4 — THE prepText chain (one definition, prepChain); the
    // paragraph output feeds the pair join, the canon join-back, the
    // classifier, decon, and the sampler: materialize once always
    val (pageOk, lined, pared0) = prepChain(src, mat)
    val pared = graft.Materialize.once(pared0)
    // 5 — keep-canonical near-dup closure
    val clu = Dedup.clusters(Dedup.jaccardPairs(pared, k = 3, threshold = 0.5))
    val canon = graft.Materialize.once(
      pared.join(clu, Seq("doc_id"), "left")
        .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select(col("doc_id"), col("text")))
    // 6 — classifier trained ON the deduped corpus (training data =
    // serving data, the corpus_clean_ml discipline), rank gate
    val scored = graft.Materialize.once(
      Classify.scores(canon).select(col("doc_id"), col("score")))
    // materialized ALWAYS (not just for the funnel): Decontaminate.clean
    // references its corpus argument twice (the shingle-flag side and
    // the left-anti keep side), so an un-truncated gate re-ran the
    // rank-gate histogram + canon join per reference (r18-opt)
    val gated = graft.Materialize.once(
      Sampling.topFraction(scored, col("score"), col("doc_id"),
        num = keepNum, den = keepDen, salt = "pretrain")
      .join(canon, Seq("doc_id")))
    // 7 — decontaminate the gated docs' CLEANED text against the raw
    // eval suite (8-gram broadcast probe)
    val kept = mat(Decontaminate.clean(gated, benchmark, k = 8))
    // 8 — temperature sampling over cleaned char mass; lang rides in
    // from the source
    val langd = graft.Materialize.once(
      kept.join(src.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    val sampled = Sampling.temperatureSample(langd, col("doc_id"),
      col("lang"), col("n_chars"), tau = 2.0, budgetFrac = 0.5)
    PipelineStages(pageOk, lined, pared, canon, gated, kept, sampled)
  }

  private def manifestWithText(src: DataFrame, benchmark: DataFrame,
      nShards: Int, keepNum: Long, keepDen: Long): DataFrame = {
    val sampled = stages(src, benchmark, keepNum, keepDen,
      auditAll = false).sampled
    // 9 — shard manifest (deterministic shard + in-shard order)
    val key = md5(concat_ws(":", lit("shard"), col("doc_id").cast("string")))
    val keyed = sampled.select(col("doc_id"), col("lang"), col("score"),
      col("text"), key.as("k"),
      pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
        lit(nShards.toLong)).as("shard_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("k"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard_id"), col("pos"), col("doc_id"), col("lang"),
        col("score"), col("text"))
  }

  /** Stage 10 — the step after the manifest: TRAINER-READY examples.
    * Each manifest doc's cleaned text splits into 64-token windows
    * with 16-token overlap ([[Text.chunk]]) and the windows pack into
    * fixed `budget`-token examples IN TRAINING ORDER — the pack window
    * partitions by the MANIFEST shard and orders by (pos, chunk_start),
    * so example boundaries respect the shard manifest's deterministic
    * document order (the offset-quota formulation: pack =
    * floor(preceding_tokens / budget), exact and parallel — see
    * [[Text.packChunks]]'s scaladoc for why greedy packing is
    * reformulated this way). Returns one row per (shard_id, pack_id)
    * with n_chunks and pack_tokens; shard-local windows keep the sort
    * ~n/nShards rows, never global. */
  def examples(src: DataFrame, benchmark: DataFrame, budget: Int = 256,
      nShards: Int = 4, keepNum: Long = 3L, keepDen: Long = 10L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val man = manifestWithText(src, benchmark, nShards, keepNum, keepDen)
    val chunks = Text.chunk(
      man.select(col("shard_id"), col("pos"), col("doc_id"), col("text")),
      col("text"), chunkSize = 64, overlap = 16).drop("text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("pos"), col("chunk_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    chunks
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens"))
          / lit(budget.toDouble)).cast("long"))
      .groupBy(col("shard_id"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("pack_tokens"))
  }

  /** [[examples]] with the budget measured in TRAINER-REAL tokens: the
    * 8-round BPE tokenizer trains once on `tokCorpus` (tokenizers
    * precede curation — they are trained on the raw corpus, not the
    * pipeline's output) and each context chunk's cost is the sum of
    * its words' trained segment sizes, with the CHARACTER-level
    * fallback for out-of-vocabulary words (exactly what a real BPE
    * tokenizer does: an unseen word decomposes to base symbols). Packs
    * then fill `budget` BPE tokens instead of whitespace counts — the
    * number the trainer's context window actually consumes.
    *
    * Scale shape on top of [[examples]]: one vocabulary-sized trainer
    * (corpus touched once for frequencies — [[bpeSegmentsOf]]), a chunk-token explode (~n_tokens·4/3 rows for
    * the 64/16 overlap), one keyed join onto the vocab segment table
    * (AQE broadcasts it at small vocabs; a 10M-entry vocab falls back
    * to a keyed shuffle — the text_bpe_apply re-encode shape), and one
    * chunk-key re-aggregation. The pack window stays shard-local. */
  def examplesBpe(src: DataFrame, benchmark: DataFrame, tokCorpus: DataFrame,
      budget: Int = 256, nShards: Int = 4, keepNum: Long = 3L,
      keepDen: Long = 10L, bpeRounds: Int = 8): DataFrame = {
    // single consumer (the chunk-token join below) — no checkpoint
    // needed; the trainer's own final round is already materialized
    // and this projection over it is lazy (r19-opt)
    val seg = bpeSegmentsOf(
      tokCorpus.select(col("doc_id"), col("text")), bpeRounds)
      .select(col("token"), size(col("sy")).cast("long").as("n_sub"))
    examplesBpeWith(src, benchmark, seg, budget, nShards, keepNum, keepDen)
  }

  /** The serving half of [[examplesBpe]] over an ALREADY-TRAINED
    * (token, n_sub) segment-cost table — shared verbatim by the
    * train-in-session form and the published-lake
    * [[examplesBpeIndexed]], so "train the tokenizer once, pack many
    * corpora" is oracle-provably the same packs as train-per-run. */
  private def examplesBpeWith(src: DataFrame, benchmark: DataFrame,
      seg: DataFrame, budget: Int, nShards: Int, keepNum: Long,
      keepDen: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val man = manifestWithText(src, benchmark, nShards, keepNum, keepDen)
    val chunks = Text.chunk(
      man.select(col("shard_id"), col("pos"), col("doc_id"), col("text")),
      col("text"), chunkSize = 64, overlap = 16)
    // chunk_text is a single-space join of raw tokens, so its
    // normalized tokens are exactly the lowered raw tokens — the same
    // normalization the vocab was trained under
    val tok = chunks.select(col("shard_id"), col("pos"), col("chunk_start"),
      explode(Text.tokens(col("chunk_text"))).as("token"))
    val counted = tok.join(seg, Seq("token"), "left")
      .groupBy(col("shard_id"), col("pos"), col("chunk_start"))
      .agg(sum(coalesce(col("n_sub"), length(col("token")).cast("long")))
        .as("n_bpe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("pos"), col("chunk_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    counted
      .withColumn("pack_id",
        floor((sum(col("n_bpe")).over(w) - col("n_bpe"))
          / lit(budget.toDouble)).cast("long"))
      .groupBy(col("shard_id"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_bpe")).cast("long").as("pack_tokens"))
  }

  // ----------------------------- 141c: published tokenizer lake
  /** Publish the trained BPE tokenizer through the versioned lake —
    * the train-once split [[examplesBpe]] folds into one call (the
    * IVF-PQ / BM25 index discipline applied to the tokenizer): the
    * `bpeRounds`-round trainer runs ONCE here, and its two artifacts
    * commit as ONE atomic group version:
    *   merges   (step, l, r, wt)  — the ordered merge table, the
    *     replayable training log a tokenizer release ships
    *   segments (token, sy)       — the trained vocabulary's final
    *     per-token symbol segmentation, the serving table
    *   meta     (rounds)          — probe-parameter guard
    * One pointer = one consistent snapshot: a pack run can never pair
    * one training run's merges with another's segmentation (segment
    * costs under foreign merges mis-budget every pack silently).
    * Training touches the corpus once (the token-frequency aggregate);
    * everything published is vocabulary-sized — the cheapest of the
    * lake's index families. Returns the published version. */
  def publishTokenizerLake(tokCorpus: DataFrame, dir: String,
      bpeRounds: Int = 8): Int = graft.Materialize.scoped {
    val sp = tokCorpus.sparkSession
    import sp.implicits._
    val (merges, segments) = bpeArtifacts(
      tokCorpus.select(col("doc_id"), col("text")), bpeRounds)
    graft.sources.StormSinks.writeVersionedGroup(sp, dir, Seq(
      "merges" -> merges,
      "segments" -> segments,
      "meta" -> Seq(bpeRounds).toDF("rounds")))
  }

  /** [[examplesBpe]] over a [[publishTokenizerLake]] tokenizer: reads
    * the published segmentation (one pointer resolution = one
    * consistent snapshot) and runs the identical pack plan — the
    * packs are oracle-provably byte-identical to training in-session,
    * so the round trip is invisible to the result (the
    * retrieval_indexed precedent). Per-run cost drops from
    * corpus-scan + `rounds` vocabulary passes to ONE vocabulary-table
    * read; a real pipeline trains its tokenizer once per release, not
    * once per pack job. */
  def examplesBpeIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, src: DataFrame, benchmark: DataFrame,
      budget: Int = 256, nShards: Int = 4, keepNum: Long = 3L,
      keepDen: Long = 10L): DataFrame = {
    import graft.sources.StormSinks
    val ver = StormSinks.currentVersionName(spark, dir)
    val seg = StormSinks.readGroupTableAt(spark, dir, ver, "segments")
      .select(col("token"), size(col("sy")).cast("long").as("n_sub"))
    examplesBpeWith(src, benchmark, seg, budget, nShards, keepNum, keepDen)
  }

  // --------------------------------------- 143: curriculum ordering
  /** Quality-phased curriculum manifest — deterministic easy→hard
    * training order: docs are banded into fixed quality phases
    * (>= 0.75 → 0, >= 0.5 → 1, >= 0.25 → 2, else 3; thresholds on
    * [[Text.qualityScore]]'s 1e-6 grid so the banding is
    * engine-replayable), then salted-md5-shuffled WITHIN each phase —
    * curriculum learning's standard recipe (ordered stages, random
    * within a stage).
    *
    * Position is per (phase, shard): a single global order would
    * serialize the sort onto |phases| tasks, so each phase is split
    * into `nShards` salted shards and the training loop reads
    * phase-major, round-robin across shards — the [[run]] manifest's
    * sizing contract applies to `nShards` here too. Scale: one narrow
    * quality map + one hash shuffle on (phase, shard) + shard-local
    * sorts (WindowExec spills rather than buffering).
    *
    * Output: (phase, shard_id, pos, doc_id, quality). */
  def curriculum(src: DataFrame, nShards: Int = 8): DataFrame = {
    val key = md5(concat_ws(":", lit("cur"), col("doc_id").cast("string")))
    val staged = src
      .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"),
        key.as("k"))
      .select(col("doc_id"), col("quality"), col("k"),
        when(col("quality") >= 0.75, 0L).when(col("quality") >= 0.5, 1L)
          .when(col("quality") >= 0.25, 2L).otherwise(3L).as("phase"),
        pmod(conv(substring(col("k"), 1, 8), 16, 10).cast("long"),
          lit(nShards.toLong)).as("shard_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("phase"), col("shard_id"))
      .orderBy(col("k"), col("doc_id"))
    // NO trailing global orderBy: a presentation sort here would be a
    // full range-shuffle of the whole manifest at corpus scale, and
    // the training loop reads phase-major by key anyway (PlanSpec pins
    // that the only exchange is the (phase, shard) window hash)
    staged.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("phase"), col("shard_id"), col("pos"), col("doc_id"),
        col("quality"))
  }

  // --------------------------------------- 147: pipeline yield funnel
  /** Stage-yield funnel of [[run]]'s pipeline — the report a 100 TB
    * curation operator actually watches: how many documents survive
    * EACH stage boundary (raw → blocklist → line clean → paragraph
    * dedup → cluster dedup → classifier gate → decontaminate →
    * temperature sample). A stage suddenly eating the corpus (a bad
    * blocklist push, a classifier drift) shows up here first; the
    * per-operator oracles can't see it because each sees only its own
    * input. Counts come from the SAME stage frames [[run]] executes
    * ([[stages]] is shared), so the funnel can never drift from the
    * pipeline it audits.
    *
    * Scale: each count is one map-side-combined aggregate over a
    * stage frame the pipeline materializes anyway; the union is 8
    * one-row frames. Output: (stage, n_docs), stage-ordered. */
  def yieldReport(src: DataFrame, benchmark: DataFrame,
      keepNum: Long = 3L, keepDen: Long = 10L): DataFrame = {
    val st = stages(src, benchmark, keepNum, keepDen, auditAll = true)
    def c(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_docs"))
        .select(lit(stage).as("stage"), col("n_docs"))
    c("0_raw", src)
      .unionByName(c("1_blocklist", st.pageOk))
      .unionByName(c("2_line_clean", st.lined))
      .unionByName(c("3_paragraph_dedup", st.pared))
      .unionByName(c("4_cluster_dedup", st.canon))
      .unionByName(c("5_classifier_gate", st.gated))
      .unionByName(c("6_decontaminate", st.kept))
      .unionByName(c("7_temperature_sample", st.sampled))
      .orderBy(col("stage"))
  }

  // --------------------------- 149: SFT prompt-masked example prep
  /** Supervised-fine-tuning example prep — where [[examples]] packs
    * tokens for a next-token-everywhere pretraining loss, an SFT
    * trainer additionally needs the LOSS-MASK boundary: prompt tokens
    * (and role markers) are label-masked, only response tokens train.
    * Renders each document as one chat-templated example
    * (`<|user|>` prompt `<|assistant|>` response), truncates to
    * `maxLen` rendered tokens, and emits per example the boundary
    * counts plus sha-256 hashes of the FULL rendered token stream and
    * the full 0/1 mask stream — so the oracle proves every token and
    * every mask bit, not just the counts.
    *
    * The prompt/response split here is positional (first
    * `promptTokens` tokens: the synthetic corpus has no dialogue
    * structure); with real SFT data the split comes from the source
    * schema and everything downstream — template, truncation,
    * mask — is unchanged. Docs with no trainable response token
    * (≤ promptTokens tokens, or nothing left after truncation) drop.
    *
    * Scale: a narrow codegen'd map over the doc scan — zero shuffle,
    * no UDF, tokens staged as an attribute ref so HOF lambdas don't
    * re-tokenize per element. Output: (doc_id, n_tokens, n_kept,
    * n_target, text_sha, mask_sha). */
  def sftExamples(src: DataFrame, promptTokens: Int = 8,
      maxLen: Int = 96): DataFrame = {
    require(promptTokens > 0 && maxLen > promptTokens + 2,
      s"need maxLen > promptTokens + 2 markers, got ($promptTokens, $maxLen)")
    val nPrompt = promptTokens + 2 // + <|user|> and <|assistant|> markers
    val staged = src
      .select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("toks"))
      .where(size(col("toks")) > promptTokens)
    val rendered = staged.select(
      col("doc_id"),
      concat(
        array(lit("<|user|>")),
        slice(col("toks"), 1, promptTokens),
        array(lit("<|assistant|>")),
        slice(col("toks"), lit(promptTokens + 1),
          size(col("toks")) - promptTokens)).as("all"))
    val kept = rendered.select(
      col("doc_id"),
      size(col("all")).cast("long").as("n_tokens"),
      slice(col("all"), 1, maxLen).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"), col("kept"))
      .where(col("n_kept") > nPrompt)
    kept.select(
      col("doc_id"),
      col("n_tokens"),
      col("n_kept"),
      (col("n_kept") - nPrompt).as("n_target"),
      sha2(array_join(col("kept"), " "), 256).as("text_sha"),
      sha2(array_join(
        transform(sequence(lit(1L), col("n_kept")),
          i => when(i <= nPrompt, lit("0")).otherwise(lit("1"))),
        ","), 256).as("mask_sha"))
  }

  // --------------------------- 149c: fill-in-the-middle transform
  /** Fill-in-the-middle (FIM) example prep — the code-model training
    * transform (Bavarian et al. 2022, "Efficient Training of Language
    * Models to Fill in the Middle"): a deterministic `ratePct`% of
    * documents are re-rendered in PSM order — `<|fim_pre|>` prefix
    * `<|fim_suf|>` suffix `<|fim_mid|>` middle — so the trainer learns
    * infilling from the same next-token loss; the rest pass through as
    * plain left-to-right examples. The two cut points are sha-derived
    * from the doc id (uniform over [0, n], sorted), so both engines
    * replay the exact segmentation; a document whose two cuts coincide
    * (empty middle) falls back to a plain example — an infill example
    * with nothing to infill teaches nothing.
    *
    * Emits per document the applied flag, the three segment lengths
    * (plain: prefix = n, middle = suffix = 0) and the sha-256 of the
    * full rendered token stream, so the oracle proves every token of
    * the reordering, not just the counts.
    *
    * Scale: a narrow codegen'd map over the doc scan — zero shuffle,
    * no UDF; tokens staged as an attribute ref so the slice lambdas
    * never re-tokenize. Output: (doc_id, fim_applied, n_tokens,
    * n_prefix, n_middle, n_suffix, text_sha). */
  def fimExamples(src: DataFrame, ratePct: Int = 50): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100, s"ratePct in [0,100]: $ratePct")
    def shaMod(salt: String, mod: String) =
      expr(s"CAST(CAST(conv(substring(md5(concat('$salt:', " +
        s"CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % ($mod) AS INT)")
    val cut = src
      .select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .withColumn("ca", shaMod("fima", "n + 1"))
      .withColumn("cb", shaMod("fimb", "n + 1"))
      .select(col("doc_id"), col("tk"), col("n"),
        least(col("ca"), col("cb")).as("p"),
        greatest(col("ca"), col("cb")).as("q"))
      .withColumn("fim_applied",
        shaMod("fimg", "100") < lit(ratePct) && col("p") < col("q"))
    cut.select(
      col("doc_id"),
      col("fim_applied"),
      col("n").cast("long").as("n_tokens"),
      when(col("fim_applied"), col("p")).otherwise(col("n"))
        .cast("long").as("n_prefix"),
      when(col("fim_applied"), col("q") - col("p")).otherwise(lit(0))
        .cast("long").as("n_middle"),
      when(col("fim_applied"), col("n") - col("q")).otherwise(lit(0))
        .cast("long").as("n_suffix"),
      sha2(array_join(
        when(col("fim_applied"),
          concat(
            array(lit("<|fim_pre|>")), slice(col("tk"), lit(1), col("p")),
            array(lit("<|fim_suf|>")),
            slice(col("tk"), col("q") + 1, col("n") - col("q")),
            array(lit("<|fim_mid|>")),
            slice(col("tk"), col("p") + 1, col("q") - col("p"))))
          .otherwise(col("tk")), " "), 256).as("text_sha"))
  }

  // --------------------------- 155: long-context document stitching
  /** Long-context example assembly: concatenate RELATED documents
    * (same source, ingest order) into ≤`budget`-token training
    * contexts — the document-stitching recipe long-context training
    * runs instead of packing unrelated chunks (related neighbors give
    * the model genuine long-range dependencies; random packing gives
    * it attention noise). Assignment is the chunk_pack offset-quota
    * formulation (context_id = ⌊tokens-before-this-doc / budget⌋),
    * which is window-parallel and deterministic where a greedy
    * bin-reset is neither; an over-budget document overflows its own
    * context rather than splitting (stitching composes AFTER chunking
    * if splitting is wanted). Emits per context the doc count, token
    * mass, id span, and the sha-256 of the full separator-joined
    * context text — every stitched byte oracle-proven.
    *
    * Scale: ONE hash exchange on source + an in-shuffle ordered
    * window, then the same-keyed aggregation (no second exchange). A
    * giant source is one partition's sort — the corpus_shard trade;
    * a 100 TB deployment sub-shards source by ingest day first.
    * Output: (source, context_id, n_docs, n_tokens, first_doc,
    * last_doc, text_sha). */
  def stitchContexts(src: DataFrame, budget: Int = 256): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    src.select(col("doc_id"), col("source"), col("text"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_prev",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("context_id",
        floor(col("cum_prev") / budget).cast("long"))
      .groupBy(col("source"), col("context_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        collect_list(struct(col("doc_id"), col("text"))).as("parts"))
      .select(col("source"), col("context_id"), col("n_docs"),
        col("n_tokens"), col("first_doc"), col("last_doc"),
        sha2(array_join(transform(array_sort(col("parts")),
          x => x.getField("text")), "<|doc|>"), 256).as("text_sha"))
  }

  // --------------------------- 150: DPO preference-pair construction
  /** Preference-pair construction for DPO/RLHF reward training: within
    * each candidate group, pair the i-th best-scoring document (chosen)
    * with the i-th worst (rejected), for i ≤ `topK`, keeping only pairs
    * whose score margin clears `minMargin` — the standard
    * best-vs-worst pairing a preference trainer consumes, with the
    * margin available as a per-pair weight.
    *
    * Groups are (source, sha-bucket): with real post-training data the
    * group key is the prompt id (n candidate responses per prompt);
    * the synthetic corpus has no prompts, so a sha-derived bucket
    * bounds group size the way per-prompt grouping would. The reward
    * here is the deterministic heuristic quality score
    * ([[Text.qualityScore]]); a trained reward model drops in by
    * swapping the score column — pairing, disjointness and margin
    * logic are unchanged.
    *
    * Disjointness is structural: the two orderings are exact reverses
    * (score desc, id asc vs score asc, id desc), so rank-i-best is
    * rank-(gn−i+1)-worst, and requiring 2·i ≤ group size on BOTH sides
    * means no document ever appears as chosen and rejected.
    *
    * Scale: one hash exchange on the group key (bounded groups by
    * construction — prompt-sized, never corpus-sized), two in-shuffle
    * window ranks over it, and a self-equi-join of two ≤topK-per-group
    * projections of the SAME materialized frame. Output: (source,
    * bucket, pair_rank, chosen_id, rejected_id, chosen_q, rejected_q,
    * margin). */
  def dpoPairs(src: DataFrame, buckets: Int = 4, topK: Int = 2,
      minMargin: Double = 0.05): DataFrame = {
    require(buckets > 0 && topK > 0, s"need buckets/topK > 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("bucket"))
    val ranked = graft.Materialize.once(src
      .select(col("doc_id"), col("source"),
        Text.qualityScore(col("text")).as("quality"))
      .withColumn("bucket",
        expr(s"CAST(CAST(conv(substring(md5(concat('dpo:', " +
          s"CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) " +
          s"% $buckets AS INT)"))
      .withColumn("rb", row_number().over(
        w.orderBy(col("quality").desc, col("doc_id").asc)))
      .withColumn("rw", row_number().over(
        w.orderBy(col("quality").asc, col("doc_id").desc)))
      .withColumn("gn", count(lit(1)).over(w)))
    val chosen = ranked
      .where(col("rb") <= topK && col("rb") * 2 <= col("gn"))
      .select(col("source"), col("bucket"), col("rb").as("pair_rank"),
        col("doc_id").as("chosen_id"), col("quality").as("chosen_q"))
    val rejected = ranked
      .where(col("rw") <= topK && col("rw") * 2 <= col("gn"))
      .select(col("source"), col("bucket"), col("rw").as("pair_rank"),
        col("doc_id").as("rejected_id"), col("quality").as("rejected_q"))
    chosen.join(rejected, Seq("source", "bucket", "pair_rank"))
      .where(col("chosen_q") - col("rejected_q") >= minMargin)
      .select(col("source"), col("bucket").cast("long").as("bucket"),
        col("pair_rank").cast("long").as("pair_rank"),
        col("chosen_id"), col("rejected_id"),
        col("chosen_q"), col("rejected_q"),
        round(col("chosen_q") - col("rejected_q"), 6).as("margin"))
  }

  /** Iterative BPE merge trainer (#89b): `rounds` deterministic merge
    * rounds over the frequency-weighted vocabulary — the actual
    * tokenizer-training loop text_bpe's one-shot pair count points at.
    * Each round counts adjacent symbol pairs across the vocabulary
    * (weighted by corpus token frequency, overlapping positions
    * included — the standard zip(word, word[1:]) count), merges the
    * best pair (max weight, ties to the lexicographically LOWEST
    * (l, r) — pinned so an independent engine lands on the same merge
    * chain), and rewrites every vocabulary word.
    *
    * Engine-replayable representation: each word's symbol sequence is
    * ONE string with every symbol INDIVIDUALLY wrapped in single
    * spaces (" a  b " = "␣a␣"+"␣b␣"), legal because whitespace
    * tokenization guarantees space-free symbols. The merge is then
    * literal `replace(w, ' l  r ', ' lr ')`: leftmost-non-overlapping
    * replacement IS greedy left-to-right BPE merging — the per-symbol
    * wrap anchors boundaries ("␣a␣" can never match inside "␣ab␣")
    * AND survives the match, so a·a·a·a merges positions 1 and 3 into
    * [aa][aa] exactly like the sequential scan (a shared two-space
    * separator would be CONSUMED by the first match and silently
    * break the chained merge — CurationSpec's overlap fixture pins
    * this), and both engines' replace share that semantic.
    *
    * Scale shape: the corpus is touched ONCE (the token frequency
    * aggregate); every round after that is vocabulary-sized — a pair
    * explode (|vocab|·avg_len rows), one partial-agg shuffle, a
    * 1-row top-k, and a broadcast-rewrite. Both the per-round best
    * row and the rewritten vocabulary are materialized (the iterative
    * trainer rule — plans stay constant-depth in rounds; the previous
    * round's blocks are freed). Output: (step, l, r, wt) — the merge
    * table, the artifact a tokenizer trainer ships. */
  private[graft] def bpeTrainOf(doc: DataFrame, rounds: Int): DataFrame = {
    val (merges, vocab) = bpeTrainCore(doc, rounds)
    graft.Materialize.free(vocab)
    merges
  }

  /** Final per-token segmentation under the trained merge chain —
    * the APPLY half of the trainer (`text_bpe_apply` builds on it):
    * (token, sy = the token's symbols after all `rounds` merges).
    * Vocabulary-sized: the corpus is never touched beyond the
    * trainer's one frequency aggregate. */
  private[graft] def bpeSegmentsOf(doc: DataFrame, rounds: Int): DataFrame = {
    val (_, vocab) = bpeTrainCore(doc, rounds, needMerges = false)
    vocab.select(col("token"),
      expr("filter(split(trim(w), '  '), x -> x <> '')").as("sy"))
  }

  /** BOTH trainer artifacts from one training run — the merge table
    * ([[bpeTrainOf]]'s shape) and the per-token segmentation
    * ([[bpeSegmentsOf]]'s shape) — for the publish-once tokenizer
    * lake ([[Pretrain.publishTokenizerLake]]): a tokenizer ships as
    * merges (the replayable training log) plus the materialized
    * vocabulary segmentation (the serving table), and publishing them
    * from ONE run keeps them mutually consistent by construction. */
  private[graft] def bpeArtifacts(doc: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    val (merges, vocab) = bpeTrainCore(doc, rounds)
    (merges, vocab.select(col("token"),
      expr("filter(split(trim(w), '  '), x -> x <> '')").as("sy")))
  }

  private def bpeTrainCore(doc: DataFrame, rounds: Int,
      needMerges: Boolean = true): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val toks = doc.select(explode(Text.tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("f"))
    var vocab = graft.Materialize.once(freq.select(col("token"), col("f"),
      array_join(expr(
        "transform(sequence(1, length(token)), " +
          "i -> concat(' ', substring(token, i, 1), ' '))"), "").as("w")))
    val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var r = 1
    while (r <= rounds) {
      val sy = vocab.select(col("f"),
        expr("filter(split(trim(w), '  '), x -> x <> '')").as("sy"))
        .where(size(col("sy")) >= 2)
      val pw = sy.select(col("f"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(element_at(sy, i) AS l, element_at(sy, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("wt"))
      val bestPlan = pw.orderBy(col("wt").desc, col("l"), col("r")).limit(1)
        .select(lit(r).as("step"), col("l"), col("r"), col("wt"))
      // `best` is materialized ONLY when the caller consumes the merge
      // log: the merge-table consumer reads it after this loop frees
      // the vocab checkpoints it derives from (a LogicalRDD has no
      // lineage fallback). Segments-only callers (bpeSegmentsOf — the
      // pretrain composites) reference it exactly once, inside the
      // next-vocab checkpoint's broadcast build, so the TakeOrdered
      // pick folds into that job and 2 jobs/round become 1 (r19-opt).
      val best = if (needMerges) graft.Materialize.once(bestPlan) else bestPlan
      if (needMerges) merges += best
      // LEFT join (not crossJoin): when the corpus runs out of pairs
      // the best row is EMPTY, and the vocabulary must pass through
      // unchanged — a cross join would silently empty it, which the
      // segments consumer (bpeSegmentsOf) cannot tolerate
      val next = graft.Materialize.once(
        vocab.join(broadcast(best.select(col("l"), col("r"))), lit(true), "left")
          .select(col("token"), col("f"),
            when(col("l").isNull, col("w")).otherwise(expr(
              "replace(w, concat(' ', l, '  ', r, ' '), " +
                "concat(' ', l, r, ' '))")).as("w")))
      graft.Materialize.free(vocab)
      vocab = next
      r += 1
    }
    (if (needMerges) merges.reduce(_ unionByName _) else null, vocab)
  }
}
