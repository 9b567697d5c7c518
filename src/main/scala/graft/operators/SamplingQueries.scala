package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryKey
import QueryCommon.{LM_CTES, NORM, docs}
import Classify.lmScores

/** Query keys of the sampling family: stratified, per-cap,
  * weighted, mixture, DoReMi, temperature, UniMax and importance
  * sampling — each key with its Spark query and the DuckDB SQL that
  * replays it. */
object SamplingQueries {

  val keys: Seq[(String, QueryKey)] = Seq(
    // 41: deterministic stratified sampling — per-language Bernoulli
    // rates off a salted md5 bucket (reproducible on any cluster
    // layout; oracle replays the hash arithmetic exactly)
    "sample_stratified" -> QueryKey((s, d) =>
      Sampling.stratifiedSample(docs(s, d), col("doc_id"), col("lang"),
          rates = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3),
          defaultRate = 0.1)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy(col("doc_id")),
      // 41: same salted-md5 bucket arithmetic as Sampling.hashBucket
      """SELECT doc_id, lang, source, bucket FROM (
        |  SELECT doc_id, lang, source,
        |    CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      % 1000000 AS BIGINT) AS bucket
        |  FROM documents
        |) WHERE bucket < (CASE WHEN lang = 'en' THEN 500000
        |                       WHEN lang IN ('de','fr') THEN 300000
        |                       ELSE 100000 END)
        |ORDER BY doc_id""".stripMargin),
    // 67b: per-group cap — at most 50 docs per language by hash rank
    // (exact output size per group, reproducible pick)
    // skew-safe form: groups beyond 10·k rows are pre-thinned on the
    // same md5 ordering before the ranked window (row-identical to the
    // plain cap — the oracle replays the unfiltered rank)
    "sample_percap" -> QueryKey((s, d) =>
      Sampling.capPerGroupSkewSafe(docs(s, d).select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"), k = 50)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy(col("doc_id")),
      // 67b: same md5 hash-rank window arithmetic
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents
        |) WHERE rk <= 50 ORDER BY doc_id""".stripMargin),
    // 80: weighted sampling without replacement — 200 docs picked
    // proportionally to n_chars (the quality/length-weighted curation
    // draw); deterministic A-ES −ln(u)/w keys replayed by the oracle
    "sample_weighted" -> QueryKey((s, d) =>
      Sampling.weightedSample(docs(s, d).select(col("doc_id"), col("lang"),
          col("n_chars")), col("doc_id"), col("n_chars"), k = 200)
        .orderBy(col("wkey").asc, col("doc_id")),
      // 80: same u=(bucket+0.5)/1e6 draw; key = -round(ln(u),9)/w — the
      // ln is rounded onto a grid both engines agree on, the division is
      // a single IEEE-exact op, so wkey is bit-identical to Spark's
      """SELECT doc_id, lang, n_chars, wkey FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN CAST(n_chars AS DOUBLE) <= 0 THEN CAST('inf' AS DOUBLE)
        |      ELSE -round(ln(
        |        (CAST(('0x' || substr(md5('wtd:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |          % 1000000 AS BIGINT) + 0.5) / 1000000.0), 9)
        |        / CAST(n_chars AS DOUBLE) END AS wkey
        |  FROM documents
        |) ORDER BY wkey ASC, doc_id LIMIT 200""".stripMargin),
    // 48: mixture re-weighting — downsample each language to an equal
    // 20% share of total char mass (en is ~43% of the corpus and gets
    // hash-downsampled; under-budget languages pass through whole)
    "sample_mixture" -> QueryKey((s, d) =>
      Sampling.mixtureSample(docs(s, d), col("doc_id"), col("lang"),
          col("n_chars"), shares = Map.empty, defaultShare = 0.2)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy(col("doc_id")),
      // 48: exact-integer group masses; one double rate expression in
      // the same operation order as Sampling.mixtureSample
      """WITH g AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass FROM documents GROUP BY lang
        |), t AS (
        |  SELECT CAST(sum(mass) AS BIGINT) AS total FROM g
        |), r AS (
        |  SELECT lang, CASE WHEN mass = 0 THEN 1000000
        |    ELSE CAST(floor(least(1.0,
        |      0.2 * CAST(total AS DOUBLE) / CAST(mass AS DOUBLE)) * 1000000) AS BIGINT)
        |    END AS thr
        |  FROM g, t
        |)
        |SELECT doc_id, lang, source, bucket FROM (
        |  SELECT d.doc_id, d.lang, d.source, r.thr,
        |    CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      % 1000000 AS BIGINT) AS bucket
        |  FROM documents d JOIN r ON d.lang = r.lang
        |) WHERE bucket < thr ORDER BY doc_id""".stripMargin),
    // 144: DoReMi-style domain reweighting — per-source excess loss
    // (corpus-mean bigram-LM fluency minus the domain's) drives 3
    // linearized multiplicative-weight rounds on the exact integer
    // grid; learned weights become per-domain lattice keep rates at a
    // 50%-doc budget. Docs too short to carry a bigram have no LM
    // score and sit outside the mixture (both engines drop them in
    // the same inner join). |domains|-row update frame + broadcast
    // thresholds + zero-shuffle hash filter at any corpus size.
    "sample_doremi" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val scored = lmScores(doc).select(col("doc_id"),
        round(col("avg_logprob") * 1e6).cast("long").as("s_mi"))
      // doremiSample consumes its input twice (the domain aggregate
      // and the final lattice-filter join); without this the whole
      // lmscore scoring join would execute twice (the text_ccnet
      // materialization rule)
      val src = graft.Materialize.once(
        doc.select(col("doc_id"), col("source")).join(scored, "doc_id"))
      Sampling.doremiSample(src, col("doc_id"), col("source"), col("s_mi"))
        .select(col("doc_id"), col("source"), col("excess_mi"), col("w_mi"),
          col("thr"), col("bucket"))
        .orderBy(col("doc_id"))
    },
      // 144: the lmscore replay joined to sources, then the 3-round
      // linearized multiplicative-weights update in exact BIGINT (all
      // positive operands, so DuckDB // == Spark div), the same
      // quota/threshold arithmetic, and the drm-salted lattice
      {
        val roundCtes = (1 to 3).map { t =>
          val prev = if (t == 1) "f1" else s"w${t - 1}n"
          s"""w$t AS (
             |  SELECT source, n_g, nn, excess, factor,
             |    (w * factor) // 1000000 AS wr
             |  FROM $prev
             |), w${t}n AS (
             |  SELECT source, n_g, nn, excess, factor,
             |    CAST((wr * 1000000) // (sum(wr) OVER ()) AS BIGINT) AS w
             |  FROM w$t
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH $LM_CTES, si AS (
           |  SELECT l.doc_id, d.source,
           |    CAST(round(l.avg_logprob * 1000000) AS BIGINT) AS s_mi
           |  FROM lmsc l JOIN documents d USING (doc_id)
           |), dom AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
           |    CAST(sum(s_mi) AS BIGINT) AS sum_s
           |  FROM si GROUP BY source
           |), tot AS (
           |  SELECT CAST(sum(n_g) AS BIGINT) AS nn, CAST(sum(sum_s) AS BIGINT) AS ss
           |  FROM dom
           |), f0 AS (
           |  SELECT source, n_g, nn,
           |    CAST(floor(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) AS BIGINT)
           |      - CAST(floor(CAST(sum_s AS DOUBLE) / CAST(n_g AS DOUBLE)) AS BIGINT) AS excess
           |  FROM dom CROSS JOIN tot
           |), f1 AS (
           |  SELECT source, n_g, nn, excess,
           |    1000000 + greatest(-250000, least(250000,
           |      CAST(floor(CAST(excess AS DOUBLE) / 2.0) AS BIGINT))) AS factor,
           |    CAST(1000000 AS BIGINT) AS w
           |  FROM f0
           |), $roundCtes, fin AS (
           |  SELECT source, excess, w,
           |    CAST(least(1000000,
           |      (((((nn * 500000) // 1000000) * w) // 1000000) * 1000000) // n_g) AS BIGINT) AS thr
           |  FROM w3n
           |)
           |SELECT doc_id, source, excess_mi, w_mi, thr, bucket FROM (
           |  SELECT si.doc_id, si.source, fin.excess AS excess_mi, fin.w AS w_mi,
           |    fin.thr,
           |    CAST(('0x' || substr(md5('drm:' || CAST(si.doc_id AS VARCHAR)), 1, 8))::UBIGINT
           |      % 1000000 AS BIGINT) AS bucket
           |  FROM si JOIN fin USING (source)
           |) WHERE bucket < thr ORDER BY doc_id""".stripMargin
      }),
    // 101: temperature-flattened mixture (mT5/UniMax family) — τ=2
    // square-root flattening of the language distribution at a 50%
    // char budget: head languages downsample toward the flattened
    // share, tail languages ride through whole. See
    // Sampling.temperatureSample for the cross-engine determinism
    // argument (sqrt + 1e-6 grid + order-free BIGINT normalizer).
    "sample_temperature" -> QueryKey((s, d) =>
      Sampling.temperatureSample(docs(s, d), col("doc_id"), col("lang"),
          col("n_chars"), tau = 2.0, budgetFrac = 0.5)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy(col("doc_id")),
      """WITH g AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass FROM documents GROUP BY lang
        |), w AS (
        |  SELECT lang, mass,
        |    CAST(round(sqrt(CAST(mass AS DOUBLE)) * 1000000) AS BIGINT) AS w_i
        |  FROM g
        |), t AS (
        |  SELECT CAST(sum(mass) AS BIGINT) AS total,
        |    CAST(sum(w_i) AS BIGINT) AS sumw_i FROM w
        |), r AS (
        |  SELECT lang, CASE WHEN mass = 0 THEN 1000000
        |    ELSE CAST(floor(least(1.0,
        |      0.5 * (CAST(w_i AS DOUBLE) / CAST(sumw_i AS DOUBLE))
        |          * (CAST(total AS DOUBLE) / CAST(mass AS DOUBLE))) * 1000000) AS BIGINT)
        |    END AS thr
        |  FROM w, t
        |)
        |SELECT doc_id, lang, source, bucket FROM (
        |  SELECT d.doc_id, d.lang, d.source, r.thr,
        |    CAST(('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      % 1000000 AS BIGINT) AS bucket
        |  FROM documents d JOIN r ON d.lang = r.lang
        |) WHERE bucket < thr ORDER BY doc_id""".stripMargin),
    // 116: UniMax epoch-capped budget allocation — the successor to
    // #101's temperature flattening: a 50% char budget distributed as
    // uniformly as possible with no language repeating more than 2
    // epochs; the water-filling breakpoint decided by one
    // cross-multiplied BIGINT window rule (no division near the
    // decision), uncapped languages split the remainder equally.
    // Exact integers end-to-end; the oracle replays the allocation.
    "sample_unimax" -> QueryKey((s, d) =>
      Sampling.unimaxAllocation(docs(s, d), col("lang"), col("n_chars"),
          maxEpochs = 2, budgetFrac = 0.5)
        .select(col("group").as("lang"), col("mass"), col("rank"),
          col("capped"), col("budget"), col("epochs_bp")),
      // 101: same sqrt-flattened weights on the 1e-6 grid, order-free
      // BIGINT normalizer, and the same fixed-order rate expression as
      // Sampling.temperatureSample (tau=2, budgetFrac=0.5)
      // 116: the water-filling allocation replayed in plain SQL — the
      // same cross-multiplied capped rule, prefix window, and floor
      // division
      """WITH m AS (
        |  SELECT lang AS grp, CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY lang
        |), t AS (
        |  SELECT CAST(sum(mass) AS BIGINT) AS total, count(*) AS n FROM m
        |), s AS (
        |  SELECT grp, mass, n,
        |    (total * 500000) // 1000000 AS budget_total,
        |    row_number() OVER (ORDER BY mass, grp) AS rank,
        |    coalesce(sum(2 * mass) OVER (ORDER BY mass, grp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |  FROM m CROSS JOIN t
        |), f AS (
        |  SELECT *, 2 * mass * (n - rank + 1) <= budget_total - prefix AS capped
        |  FROM s
        |), c AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN capped THEN 2 * mass END), 0) AS BIGINT) AS cap_total,
        |    CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS n_unc
        |  FROM f
        |)
        |SELECT grp AS lang, mass, CAST(rank AS BIGINT) AS rank, capped,
        |  CASE WHEN capped THEN 2 * mass
        |       ELSE (budget_total - cap_total) // n_unc END AS budget,
        |  CASE WHEN mass = 0 THEN 0
        |       ELSE ((CASE WHEN capped THEN 2 * mass
        |              ELSE (budget_total - cap_total) // n_unc END) * 10000) // mass
        |  END AS epochs_bp
        |FROM f CROSS JOIN c ORDER BY rank""".stripMargin),
    // 97: DSIR-style importance resampling (Xie et al., Data Selection
    // via Importance Resampling): hashed unigram features — 64 md5
    // buckets, stock-hash arithmetic so any engine reproduces
    // membership — with target = the de/fr slice; per-bucket importance
    // weight ln((tgt+1)/(raw+1)) on the exact 1e-6 integer grid; per-doc
    // score = Σ bucket-count × w_i in order-free BIGINT; top-50 by
    // (score, doc_id) via TakeOrdered, no global sort. Scale shape
    // (r19-opt #2): per-doc bucket counts come out of ONE codegen'd
    // kernel call per document (Kernels.dsirBucketCounts — md5 once per
    // DISTINCT token, no per-occurrence explode rows; bit-identical to
    // the explode+filter+md5 composition, NativeExprSpec) and are
    // materialized ONCE — the unmaterialized frame re-ran the
    // tokenize+hash subtree per consumer branch (4 parquet scans in the
    // before-plan, where the DSIR narrative promises two passes). The
    // weight table is 64 rows (broadcast); both aggregations read the
    // checkpoint blocks. Docs with zero non-empty tokens have no
    // feature mass and drop out by construction (empty kernel array).
    "sample_importance" -> QueryKey((s, d) => {
      val bk = graft.Materialize.once(docs(s, d)
        .select(col("doc_id"), col("lang"),
          explode(graft.expressions.native.dsirBucketCounts(col("text"), 64)).as("bm"))
        .select(col("doc_id"), col("lang"),
          col("bm").getField("b").as("b"), col("bm").getField("m").as("m")))
      val wts = bk.groupBy(col("b"))
        .agg(sum(col("m")).as("raw"),
          sum(when(col("lang").isin("de", "fr"), col("m")).otherwise(0L)).as("tgt"))
        .select(col("b"),
          round(round(log((col("tgt").cast("double") + 1.0) /
            (col("raw").cast("double") + 1.0)), 6) * 1e6)
            .cast("long").as("w_i"))
      bk.join(broadcast(wts), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("m")).as("n_toks"), sum(col("m") * col("w_i")).as("score_i"))
        .orderBy(col("score_i").desc, col("doc_id")).limit(50)
    },
      // 97: same md5 feature buckets, the same 1e-6-grid ln weights and
      // the same order-free BIGINT dot product as the Spark side
      s"""WITH tk AS (
         |  SELECT doc_id, lang, unnest(str_split($NORM, ' ')) AS tok
         |  FROM documents
         |), bk AS (
         |  SELECT doc_id, lang,
         |    CAST(('0x' || substr(md5('dsir:' || tok), 1, 8))::UBIGINT
         |      % 64 AS BIGINT) AS b
         |  FROM tk WHERE tok <> ''
         |), cnt AS (
         |  SELECT b, count(*) AS raw,
         |    sum(CASE WHEN lang IN ('de','fr') THEN 1 ELSE 0 END) AS tgt
         |  FROM bk GROUP BY b
         |), w AS (
         |  SELECT b, CAST(round(round(ln((CAST(tgt AS DOUBLE) + 1.0)
         |    / (CAST(raw AS DOUBLE) + 1.0)), 6) * 1000000) AS BIGINT) AS w_i
         |  FROM cnt
         |)
         |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(w_i) AS BIGINT) AS score_i
         |FROM bk JOIN w USING (b) GROUP BY doc_id, lang
         |ORDER BY score_i DESC, doc_id LIMIT 50""".stripMargin))
}
