package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryKey
import graft.functions.Text
import QueryCommon.{CLOSURE_CTES, LM_CTES, NORM, classifySql, docCount, docs, hitsSql}
import Classify.lmScores

/** Query keys of the curation family: the composed clean /
  * chunk / split pipelines, the Gopher rules, the trained quality
  * classifier, the bigram-LM scores and CCNet buckets, soft dedup,
  * benchmark decontamination and drift — each key with its Spark
  * query and the DuckDB SQL that replays it. */
object CurationQueries {

  /** The corpus_clean pipeline (quality gate + near-dup cluster
    * closure, keep canonical) WITHOUT a trailing ORDER BY, so the
    * whole query can nest as a subquery of composed pipelines
    * (corpus_chunks). Yields (doc_id, quality). */
  private lazy val CORPUS_CLEAN_BODY =
    s"""$CLOSURE_CTES, clu AS (
       |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
       |), q0 AS (
       |  SELECT doc_id, text,
       |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
       |  FROM documents
       |), q1 AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |           / CAST(length(text) AS DOUBLE) END AS punct_ratio,
       |    CASE WHEN len(tk) = 0 THEN 0.0
       |      ELSE CAST(${hitsSql(Text.stopwords.head._2).replace(s"str_split($NORM, ' ')", "tk")} AS DOUBLE)
       |           / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
       |    CASE WHEN len(tk) = 0 THEN 0.0
       |      ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |           / CAST(len(tk) AS DOUBLE) END AS mean_token_len
       |  FROM q0
       |), q AS (
       |  SELECT doc_id, round(
       |    least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4 +
       |    (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2 +
       |    (CASE WHEN punct_ratio <= 0.1 THEN 1.0 WHEN punct_ratio <= 0.3 THEN 0.5 ELSE 0.0 END) * 0.2 +
       |    (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality
       |  FROM q1
       |)
       |SELECT q.doc_id, q.quality
       |FROM q LEFT JOIN clu ON q.doc_id = clu.doc_id
       |WHERE q.quality >= 0.5 AND (clu.cluster_id IS NULL OR clu.cluster_id = q.doc_id)""".stripMargin

  val keys: Seq[(String, QueryKey)] = Seq(
    // 125: corpus drift detection — Population Stability Index between
    // the published corpus (first 70% of doc_ids, the
    // dedup_cluster_inc convention) and the newly-ingested rest, per
    // feature (lang, source, length buckets): the data-ops gate a
    // continuously-ingesting pipeline runs before letting a batch
    // shift the training mixture. PSI = Σ (p−q)·ln(p/q) with +1
    // smoothing over the union bucket domain; the ratio inside ln is
    // ONE division of exact integer products, ln/differences round to
    // the 1e-6 grid (the sample_importance convention), terms ride
    // BIGINTs — engine-replayable. Scale: two partial-agg shuffles
    // over (feature, bucket) — corpus-linear, output is bucket-sized.
    "corpus_drift" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val cut = math.floor(docCount(s, d) * 0.7).toLong
      // one scan: featureRows keeps doc_id so ref/cur split stays a
      // per-row flag, and the pair counts come from one aggregation
      val counts = Drift.featureRows(doc)
        .withColumn("is_ref", col("doc_id") < cut)
        .groupBy(col("feature"), col("bucket"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_n"))
      Drift.psiTerms(counts).orderBy(col("feature"), col("bucket"))
    },
      // 125: same per-feature smoothed PSI terms — one exact-integer
      // ratio into ln, 1e-6-grid rounding, BIGINT terms
      s"""WITH cutv AS (
         |  SELECT CAST(floor(count(*) * 0.7) AS BIGINT) AS cut FROM documents
         |), rows0 AS (
         |  SELECT 'lang' AS feature, lang AS bucket,
         |    doc_id < (SELECT cut FROM cutv) AS is_ref FROM documents
         |  UNION ALL
         |  SELECT 'source', source, doc_id < (SELECT cut FROM cutv) FROM documents
         |  UNION ALL
         |  SELECT 'len', 'chars_' || CAST(n_chars // 200 AS VARCHAR),
         |    doc_id < (SELECT cut FROM cutv) FROM documents
         |), cnt AS (
         |  SELECT feature, bucket,
         |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_n,
         |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cur_n
         |  FROM rows0 GROUP BY 1, 2
         |), tot AS (
         |  SELECT feature, sum(ref_n) AS ref_tot, sum(cur_n) AS cur_tot,
         |    count(*) AS nb
         |  FROM cnt GROUP BY 1
         |)
         |SELECT c.feature, c.bucket, CAST(c.ref_n AS BIGINT) AS ref_n,
         |  CAST(c.cur_n AS BIGINT) AS cur_n,
         |  CAST(round(
         |    round(ln(CAST((c.ref_n + 1) * (t.cur_tot + t.nb) AS DOUBLE)
         |           / CAST((c.cur_n + 1) * (t.ref_tot + t.nb) AS DOUBLE)), 6)
         |    * round(CAST(c.ref_n + 1 AS DOUBLE) / CAST(t.ref_tot + t.nb AS DOUBLE)
         |          - CAST(c.cur_n + 1 AS DOUBLE) / CAST(t.cur_tot + t.nb AS DOUBLE), 6)
         |    * 1000000) AS BIGINT) AS term_i
         |FROM cnt c JOIN tot t USING (feature)
         |ORDER BY c.feature, c.bucket""".stripMargin),
    // 124: leakage-free train/val/test split — the split assignment a
    // training pipeline must make CLUSTER-aware: hashing doc_ids
    // independently puts near-duplicates of training docs into the
    // test split (the classic contamination-through-near-dup leak).
    // Here the md5 lattice hashes the near-dup CLUSTER id (90/5/5),
    // so a whole cluster always lands in one split. Deterministic,
    // engine-replayable (the sample_* md5 convention on the
    // dedup_cluster closure); no shuffle beyond the clustering.
    "corpus_split" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val labels = Dedup.clusters(Dedup.jaccardPairs(doc, k = 3, threshold = 0.5))
      val lab = doc.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val b = Sampling.hashBucket(col("cluster_id"), "split")
      lab.withColumn("split",
          when(b < 900000, "train").when(b < 950000, "val").otherwise("test"))
        .orderBy(col("doc_id"))
    },
      // 124: same closure, the split lattice hashed on the CLUSTER id
      s"""$CLOSURE_CTES, clu AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
         |), labd AS (
         |  SELECT d.doc_id, coalesce(clu.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN clu USING (doc_id)
         |), bkt AS (
         |  SELECT doc_id, cluster_id,
         |    CAST(('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))::UBIGINT
         |      % 1000000 AS BIGINT) AS b
         |  FROM labd
         |)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN b < 900000 THEN 'train'
         |       WHEN b < 950000 THEN 'val' ELSE 'test' END AS split
         |FROM bkt ORDER BY doc_id""".stripMargin),
    // 39: the composed training-data pipeline — quality gate + near-dup
    // cluster dedup (keep each cluster's canonical min-id member):
    // what a corpus-prep job actually runs, end to end
    "corpus_clean" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val clu = Dedup.clusters(Dedup.jaccardPairs(doc, k = 3, threshold = 0.5))
      doc.select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .join(clu, Seq("doc_id"), "left")
        .where(col("quality") >= 0.5 &&
          (col("cluster_id").isNull || col("cluster_id") === col("doc_id")))
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    },
      // 39: quality formula + cluster closure composed — keep quality
      // >= 0.5 docs that are not a non-canonical near-dup copy.
      s"""$CORPUS_CLEAN_BODY
         |ORDER BY q.doc_id""".stripMargin),
    // 129: classifier-gated corpus prep — corpus_clean with the static
    // rule-set quality gate swapped for the trained linear probe (the
    // two-stage quality pipeline Classify's scaladoc describes: rules
    // label a seed set, the probe generalizes them). The gate is
    // RANK-based — keep the top 30% by score, CCNet's head-selection
    // shape — because an absolute τ is corpus-fragile (this corpus's
    // trained scores top out near 0.16 at sf0.01 and near 0.7 at
    // sf0.001; a fixed 0.5 kept everything or nothing). The gate is
    // Sampling.topFraction's grid-histogram cascade — exact
    // floor(3n/10) under (score DESC, md5-bucket, doc_id) with no
    // corpus-wide rank, no collected count, and no TakeOrdered merge
    // task holding k rows (corpus-unbounded, unlike the former
    // orderBy+limit gate whose single merge task capped it at ~10⁸
    // docs). The oracle nests the FULL 8-step training-loop replay
    // inside the cluster-dedup closure, so a drifting trained weight
    // breaks the hash, and replays the gate as a plain
    // row_number() OVER (ORDER BY score DESC, bucket, doc_id).
    "corpus_clean_ml" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val clu = Dedup.clusters(Dedup.jaccardPairs(doc, k = 3, threshold = 0.5))
      // scored feeds the histogram, the n aggregate, and the join-back
      // (the multi-consumer rule) — materialize once
      val scored = graft.Materialize.once(
        Classify.scores(doc).select(col("doc_id"), col("score")))
      Sampling.topFraction(scored, col("score"), col("doc_id"),
          num = 3L, den = 10L, salt = "cleanml")
        .join(clu, Seq("doc_id"), "left")
        .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select(col("doc_id"), col("score"))
        .orderBy(col("doc_id"))
    },
      // 129: the corpus_clean closure with the trained-probe gate — the
      // full 8-step training loop replays inside (classifySql), then the
      // RANK gate (top 30% — exactly floor(3n/10) rows under the total
      // order (score DESC, md5-lattice bucket, doc_id), the order
      // Sampling.topFraction's histogram cascade realizes scale-free)
      // plus the canonical-member rule.
      s"""$CLOSURE_CTES, clu AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
         |),
         |${classifySql(8, "8.0")},
         |scored AS (
         |  SELECT f.doc_id,
         |    floor(least(greatest(0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5,
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM f CROSS JOIN w8s w
         |), rk2 AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC,
         |      CAST(('0x' || substr(md5('cleanml:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |        % 1000000 AS BIGINT), doc_id) AS rn,
         |    (SELECT count(*) FROM scored) AS n
         |  FROM scored
         |)
         |SELECT r.doc_id, r.score
         |FROM rk2 r LEFT JOIN clu ON r.doc_id = clu.doc_id
         |WHERE r.rn <= (3 * r.n) // 10
         |  AND (clu.cluster_id IS NULL OR clu.cluster_id = r.doc_id)
         |ORDER BY r.doc_id""".stripMargin),
    // 45: the composed training-data pipeline end to end — quality
    // gate + cluster dedup (corpus_clean), stratified sample (#41),
    // context-window chunking (#42). What a pre-training corpus job
    // actually ships: parquet in, training chunks out.
    "corpus_chunks" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val clu = Dedup.clusters(Dedup.jaccardPairs(doc, k = 3, threshold = 0.5))
      // materialize the corpus_clean stage ONCE: the composed plan
      // otherwise regenerates the whole quality+jaccard+cluster
      // subtree's code under the sample/chunk stages, and that
      // first-execution codegen dominated the count series (6.1s vs
      // a 4.1s forced run — r8 VERDICT #3). Splitting here keeps each
      // generated stage small; values are unchanged.
      val kept = graft.Materialize.once(doc
        .select(col("doc_id"), col("lang"), col("text"),
          Text.qualityScore(col("text")).as("quality"))
        .join(clu, Seq("doc_id"), "left")
        .where(col("quality") >= 0.5 &&
          (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))))
      val sampled = Sampling.stratifiedSample(kept, col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3), defaultRate = 0.1)
      Text.chunk(sampled.select(col("doc_id"), col("text")), col("text"),
          chunkSize = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_start"))
    },
      // 45: the full training-data pipeline — corpus_clean survivors,
      // stratified-sampled, chunked to 64/16 context windows. The whole
      // corpus_clean query nests as a subquery; sampling and chunking
      // replay the same arithmetic as #41/#42.
      s"""WITH kept AS (
         |  SELECT doc_id FROM ($CORPUS_CLEAN_BODY)
         |), samp AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN kept k ON d.doc_id = k.doc_id
         |  WHERE CAST(('0x' || substr(md5('smp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |      % 1000000 AS BIGINT)
         |    < (CASE WHEN d.lang = 'en' THEN 500000
         |            WHEN d.lang IN ('de','fr') THEN 300000
         |            ELSE 100000 END)
         |), ctoks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS tokens
         |  FROM samp
         |), cstarts AS (
         |  SELECT doc_id, tokens,
         |    unnest(generate_series(0, len(tokens) - 1, 48)) AS start
         |  FROM ctoks WHERE len(tokens) > 0
         |)
         |SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
         |  array_to_string(list_slice(tokens, start + 1, start + 64), ' ') AS chunk_text,
         |  CAST(least(64, len(tokens) - start) AS BIGINT) AS n_tokens
         |FROM cstarts ORDER BY doc_id, chunk_start""".stripMargin),
    // 111: Gopher-rules composite quality filter — the per-rule audit
    // view of the Gopher paper's heuristics (length band, mean token
    // length band, alphabetic-token fraction, minimum stopword mass,
    // top-token and duplicate-bigram caps), each surfaced as its own
    // boolean so a dataset release can report WHICH rule rejected each
    // doc, not just a pass bit. Every rule compares exact integers
    // (tot_len >= 3n instead of tot_len/n >= 3.0, 5·top <= n instead
    // of top/n <= 0.2), so no double ever crosses an engine boundary.
    // Narrow per-doc array math — zero shuffle at any corpus size.
    "corpus_gopher" -> QueryKey((s, d) => {
      // the measurement pass is Classify.measuredOf — ONE definition
      // shared with the trained-classifier keys (r19-opt: the shared
      // pass is HOF-free; see its scaladoc for the equivalences)
      val m = Classify.measuredOf(docs(s, d))
      m.select(col("doc_id"), col("n").as("n_tokens"),
          (col("n") >= 30 && col("n") <= 100000).as("r_len"),
          (col("tot_len") >= lit(3L) * col("n") &&
            col("tot_len") <= lit(10L) * col("n") && col("n") > 0).as("r_meanlen"),
          (lit(5L) * col("n_alpha") >= lit(4L) * col("n") && col("n") > 0).as("r_alpha"),
          (col("stop_hits") >= 2).as("r_stop"),
          (lit(5L) * col("top_n") <= col("n")).as("r_toptok"),
          ((col("n_bg") - col("n_bg_d")) * 5 <= col("n_bg")).as("r_dupbg"))
        .withColumn("pass", col("r_len") && col("r_meanlen") && col("r_alpha") &&
          col("r_stop") && col("r_toptok") && col("r_dupbg"))
        .orderBy(col("doc_id"))
    },
      // 111: same token/bigram machinery, all-integer rule comparisons
      {
        val enList = Text.stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
           |  FROM documents
           |), b AS (
           |  SELECT doc_id, tk,
           |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
           |      i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS bg
           |  FROM t
           |), m AS (
           |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
           |    CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS tot_len,
           |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
           |    CAST(len(list_filter(tk, x -> list_contains($enList, x))) AS BIGINT) AS stop_hits,
           |    CAST(CASE WHEN len(tk) = 0 THEN 0
           |      ELSE list_max(list_transform(list_distinct(tk),
           |        u -> len(list_filter(tk, x -> x = u)))) END AS BIGINT) AS top_n,
           |    CAST(len(bg) AS BIGINT) AS n_bg,
           |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_bg_d
           |  FROM b
           |)
           |SELECT doc_id, n AS n_tokens,
           |  n >= 30 AND n <= 100000 AS r_len,
           |  tot_len >= 3 * n AND tot_len <= 10 * n AND n > 0 AS r_meanlen,
           |  5 * n_alpha >= 4 * n AND n > 0 AS r_alpha,
           |  stop_hits >= 2 AS r_stop,
           |  5 * top_n <= n AS r_toptok,
           |  (n_bg - n_bg_d) * 5 <= n_bg AS r_dupbg,
           |  (n >= 30 AND n <= 100000) AND (tot_len >= 3 * n AND tot_len <= 10 * n AND n > 0)
           |    AND (5 * n_alpha >= 4 * n AND n > 0) AND stop_hits >= 2
           |    AND 5 * top_n <= n AND (n_bg - n_bg_d) * 5 <= n_bg AS pass
           |FROM m ORDER BY doc_id""".stripMargin
      }),
    // 128: trained linear quality classifier — the Gopher rule set
    // distilled into a hard-sigmoid logistic probe over 1e-6-grid
    // integer text features; 8 deterministic full-batch gradient
    // steps, every score oracle-replayed including the training loop
    // (Classify's scaladoc has the determinism discipline).
    "corpus_classify" -> QueryKey((s, d) =>
      Classify.scores(docs(s, d)).orderBy(col("doc_id")),
      // 128: full training-loop replay — gopher features on the 1e-6
      // grid, 8 unrolled hard-sigmoid gradient steps, trained-weight
      // scores. A drifted gradient sum, weight rounding, or link clamp
      // anywhere breaks every score.
      s"""WITH ${classifySql(8, "8.0")}
         |SELECT f.doc_id,
         |  floor(least(greatest(0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5,
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS score,
         |  (floor(least(greatest(0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5,
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0) >= 0.5 AS pred,
         |  f.label
         |FROM f CROSS JOIN w8s w ORDER BY f.doc_id""".stripMargin),
    // 128b: classifier calibration report — the reliability curve for
    // #128's trained quality gate: bucket the corpus by score decile
    // and report per bucket the observed positive-label rate next to
    // the mean score (well-calibrated ⇔ the two track). The report a
    // threshold/τ decision is made with; score mass re-aggregated on
    // the 1e-6 grid as exact longs (order-free) so both engines agree
    // to the last digit. One 10-row aggregate over the scored frame.
    "classify_calibration" -> QueryKey((s, d) => {
      val sc = Classify.scores(docs(s, d))
        .select(col("doc_id"), col("score"), col("label"))
        .withColumn("bucket",
          least(floor(col("score") * 10.0), lit(9.0)).cast("long"))
        .withColumn("qs",
          floor(col("score") * 1000000.0 + 0.5).cast("long"))
      sc.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("qs")).as("qsum"))
        .select(col("bucket"), col("n_docs"), col("n_pos"),
          round(col("n_pos").cast("double") /
            col("n_docs").cast("double"), 6).as("pos_rate"),
          round(col("qsum").cast("double") /
            (col("n_docs").cast("double") * 1000000.0), 6).as("mean_score"))
        .orderBy(col("bucket"))
    },
      // 128b: same trained scores (shared classifySql replay), decile
      // buckets, exact 1e-6-grid score mass per bucket.
      s"""WITH ${classifySql(8, "8.0")}, csc AS (
         |  SELECT f.doc_id,
         |    floor(least(greatest(0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5,
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS score,
         |    f.label
         |  FROM f CROSS JOIN w8s w
         |), cb AS (
         |  SELECT CAST(least(floor(score * 10.0), 9.0) AS BIGINT) AS bucket,
         |    count(*) AS n,
         |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
         |    sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)) AS qs
         |  FROM csc GROUP BY 1
         |)
         |SELECT bucket, CAST(n AS BIGINT) AS n_docs,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
         |  round(CAST(qs AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mean_score
         |FROM cb ORDER BY bucket""".stripMargin),
    // 62: bigram-LM fluency scoring (KenLM-class quality filter): train
    // add-one-smoothed bigram stats on the corpus itself, score each
    // doc by mean log P(w2|w1). Counts are vocabulary-sized aggregates;
    // the per-doc mean goes through exact decimal summation (order-
    // independent), so the oracle replays it despite double logs.
    "text_lmscore" -> QueryKey((s, d) => lmScores(docs(s, d)).orderBy(col("doc_id")),
      // 62: same add-one-smoothed ln P(w2|w1), decimal-stabilized mean
      s"""WITH $LM_CTES
         |SELECT doc_id, n_bigrams, avg_logprob
         |FROM lmsc ORDER BY doc_id""".stripMargin),
    // 105: CCNet-style perplexity bucketing — the selection step the
    // CCNet pipeline runs on top of a KenLM-class score: the corpus is
    // split into head/middle/tail thirds by LM fluency and only
    // head+middle survive to training. Bucketing is by SCORE, not by
    // per-row rank: the per-doc score quantizes to the 1e-6 long grid,
    // a (score -> count) histogram accumulates map-side (output
    // bounded by the score RANGE, not the corpus size), one small
    // window over the histogram assigns bucket = (3 · #docs-strictly-
    // better) div n, and docs join back on the score key — so there is
    // no corpus-wide single-partition rank window anywhere, and ties
    // on the grid share a bucket deterministically on every engine.
    "text_ccnet" -> QueryKey((s, d) => {
      // lmScores feeds THREE consumers (histogram, count, join-back):
      // materialize the doc-count-sized score table once or the whole
      // scoring join re-executes per branch (the multi-consumer rule)
      val sc = graft.Materialize.once(lmScores(docs(s, d)))
      val si = sc.select(col("doc_id"), col("avg_logprob"),
        round(col("avg_logprob") * 1e6).cast("long").as("s_i"))
      val hist = si.groupBy(col("s_i")).agg(count(lit(1)).as("c"))
      val wcum = org.apache.spark.sql.expressions.Window
        .orderBy(col("s_i").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val n = broadcast(sc.agg(count(lit(1)).as("n")))
      val bucketed = hist
        .withColumn("cum", coalesce(sum(col("c")).over(wcum), lit(0L)))
        .crossJoin(n)
        .select(col("s_i"), expr("(cum * 3) div n").cast("int").as("bk"))
      si.join(bucketed, "s_i")
        .select(col("doc_id"), col("avg_logprob"),
          when(col("bk") === 0, "head").when(col("bk") === 1, "middle")
            .otherwise("tail").as("ppl_bucket"),
          (col("bk") < 2).as("keep"))
        .orderBy(col("doc_id"))
    },
      // 105: lmscore replay + the score-histogram bucket rule — bucket
      // = (3 · #docs with strictly better score) // n, replayed on the
      // same 1e-6 integer score grid.
      s"""WITH $LM_CTES, si AS (
         |  SELECT doc_id, avg_logprob,
         |    CAST(round(avg_logprob * 1000000) AS BIGINT) AS s_i
         |  FROM lmsc
         |), hist AS (
         |  SELECT s_i, count(*) AS c FROM si GROUP BY s_i
         |), cum AS (
         |  SELECT s_i, coalesce(sum(c) OVER (ORDER BY s_i DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM hist
         |), nn AS (SELECT count(*) AS n FROM si),
         |bk AS (
         |  SELECT s_i, CAST((cum * 3) // n AS INT) AS bk FROM cum CROSS JOIN nn
         |)
         |SELECT si.doc_id, si.avg_logprob,
         |  CASE WHEN bk.bk = 0 THEN 'head' WHEN bk.bk = 1 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket,
         |  bk.bk < 2 AS keep
         |FROM si JOIN bk USING (s_i) ORDER BY si.doc_id""".stripMargin),
    // 106: SoftDeDup-style duplication-aware sampling — instead of
    // hard-dropping near-dup copies (corpus_clean's keep-canonical),
    // every member of a near-dup cluster keeps with probability
    // 1/|cluster| on the md5 lattice, so each cluster contributes ~1
    // expected doc while singleton docs ride through whole — the soft
    // down-weighting the SoftDeDup line of work argues preserves tail
    // knowledge that hard dedup deletes. Deterministic (same lattice
    // as #41: reproducible on any cluster layout, independent of the
    // sampling salts used elsewhere). Cost beyond the cluster step
    // itself: one size aggregate + one size join — both cluster-keyed.
    "sample_softdedup" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val labels = Dedup.clusters(Dedup.jaccardPairs(doc, k = 3, threshold = 0.5))
      // (doc_id, cluster_id) feeds both the size aggregate and the
      // keep join — materialize once so the corpus-wide left join
      // doesn't run twice (ids-only, ~16 bytes/doc)
      val withC = graft.Materialize.once(doc.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")))
      val sizes = withC.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      withC.join(sizes, "cluster_id")
        .where(Sampling.hashBucket(col("doc_id"), "soft") <
          floor(lit(Sampling.Buckets.toDouble) / col("cluster_size")).cast("long"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    },
      // 106: the dedup_cluster closure + 1/|cluster| md5-lattice keep rule
      s"""$CLOSURE_CTES, lab AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
         |), withc AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l USING (doc_id)
         |), sz AS (
         |  SELECT cluster_id, count(*) AS cluster_size FROM withc GROUP BY 1
         |)
         |SELECT w.doc_id, w.cluster_id, s.cluster_size
         |FROM withc w JOIN sz s USING (cluster_id)
         |WHERE CAST(('0x' || substr(md5('soft:' || CAST(w.doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |    % 1000000 AS BIGINT) < 1000000 // s.cluster_size
         |ORDER BY w.doc_id""".stripMargin),
    // 50: benchmark decontamination — corpus docs sharing any 8-token
    // shingle with the held-out eval slice (doc_id % 20 == 7), with
    // the shared-shingle count
    "decontaminate" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      Decontaminate.flag(
          doc.where(col("doc_id") % 20 =!= 7),
          doc.where(col("doc_id") % 20 === 7), k = 8)
        .orderBy(col("doc_id"))
    },
      // 50: same normalization + 8-token shingle construction as
      // Dedup.shingles(text, 8)
      s"""WITH toks8 AS (
         |  SELECT doc_id, str_split($NORM, ' ') AS w FROM documents
         |), sh8 AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
         |    ELSE list_transform(range(1, len(w) - 6),
         |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
         |           w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]) END)) AS s
         |  FROM toks8
         |), bench AS (
         |  SELECT DISTINCT s FROM sh8 WHERE doc_id % 20 = 7
         |), corp AS (
         |  SELECT doc_id, s FROM sh8 WHERE doc_id % 20 <> 7
         |)
         |SELECT c.doc_id, count(*) AS n_shared
         |FROM corp c JOIN bench b ON c.s = b.s
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin))
}
