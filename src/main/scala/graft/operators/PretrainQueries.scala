package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryKey
import graft.functions.Text
import QueryCommon.{MOJ_CHAIN, NORM, QUALITY_CTES, SH3, classifySql, docs, sqlStr}
import Pretrain.{bpeSegmentsOf, bpeTrainOf}

/** Query keys of the pretraining-prep family: the composed
  * pretrain flagship (SURVEY §2 #140-141c), SFT / FIM / DPO / stitch
  * examples, curriculum and shard manifests, the BPE tokenizer keys,
  * chunking, packing and masking — each key with its Spark query and
  * the DuckDB SQL that replays it. */
object PretrainQueries {

  /** The #51 offset-quota pack table over the corpus chunk stream —
    * (shard, pack_id, n_chunks, pack_tokens) at budget 256 / 16
    * shards: ONE definition of the pack-assignment rule, shared by
    * chunk_pack and the pack_stats rollup (its fill formula divides
    * by the same 256 budget). */
  private def packTable(s: SparkSession, d: String): DataFrame = {
    val chunks = Text.chunk(docs(s, d).select(col("doc_id"), col("text")),
      col("text"), chunkSize = 64, overlap = 16)
    Text.packChunks(chunks, budget = 256, nShards = 16)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("pack_tokens"))
  }

  /** The pretrain flagship's shared input — documents UNION the
    * planted fixture rows, plus the raw %20==7 benchmark slice: ONE
    * construction for the four pretrain keys, mirroring PRETRAIN_RAW's
    * psrc/bench verbatim (a fixture or convention change edits exactly
    * one Spark site and one oracle site). */
  private def pretrainSrcBench(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val doc = docs(s, d)
    val planted = s.createDataFrame(
      java.util.Arrays.asList(pretrainPlanted.map { case (id, t, lg) =>
        org.apache.spark.sql.Row(id, t, lg) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType, nullable = false))))
    (doc.select(col("doc_id"), col("text"), col("lang")).unionByName(planted),
      doc.where(col("doc_id") % 20 === 7).select(col("doc_id"), col("text")))
  }

  /** sft_examples parameters, interpolated into BOTH the Spark call
    * and the oracle SQL so the two sides cannot drift. nPrompt =
    * SFT_PROMPT + 2 role markers. */
  private val SFT_PROMPT = 8

  private val SFT_MAXLEN = 96

  /** doc_fim parameters, interpolated into BOTH engines: the FIM rate
    * (percent of documents re-rendered PSM) — 50 is the published
    * FIM-rate sweet spot (Bavarian et al. 2022 §5). */
  private val FIM_RATE = 50

  /** dpo_pairs parameters, interpolated into BOTH engines: sha-bucket
    * count (group-size bound — the per-prompt stand-in), pairs per
    * group, and the minimum score margin a pair must clear. */
  private val DPO_BUCKETS = 4

  private val DPO_TOPK = 2

  private val DPO_MARGIN = 0.05

  /** corpus_stitch context token budget, interpolated into BOTH
    * engines. */
  private val CTX_STITCH = 256

  /** The corpus_pretrain WITH-cascade through the `man` manifest CTE —
    * shared by the corpus_pretrain and pretrain_examples oracles (one
    * definition of the nine-stage pipeline, two final selects). */
  private lazy val PRETRAIN_RAW: String = {
      val vals = pretrainPlanted.map { case (id, t, lg) =>
        s"(CAST($id AS BIGINT), ${sqlStr(t)}, ${sqlStr(lg)})" }.mkString(",\n    ")
      val bw = graft.operators.Lines.badwords
        .map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")
      val fixed =
        s"""nfc_normalize(regexp_replace(
           |      replace(replace($MOJ_CHAIN, chr(13) || chr(10), chr(10)), chr(13), chr(10)),
           |      '${graft.functions.Text.scrubRe}', '', 'g'))""".stripMargin
      val raw = s"""WITH RECURSIVE psrc AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES $vals) AS v(doc_id, text, lang)
         |), pfx AS (
         |  SELECT doc_id, $fixed AS text, lang FROM psrc
         |), pbw AS (
         |  SELECT doc_id, text FROM pfx
         |  WHERE len(list_filter(
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END,
         |    x -> list_contains($bw, x))) = 0
         |), d0 AS (
         |  SELECT doc_id, text FROM pbw
         |  WHERE NOT contains(lower(text), 'lorem ipsum')
         |    AND NOT contains(text, '{')
         |), ls AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ll FROM d0
         |), lln AS (
         |  SELECT doc_id, CAST(i AS INT) AS line_idx,
         |    ll[CAST(i AS INT) + 1] AS line
         |  FROM ls, unnest(range(0, len(ll))) AS u(i)
         |), flt AS (
         |  SELECT doc_id, line_idx, line,
         |    regexp_replace(lower(trim(line)), '\\s+', ' ', 'g') AS lnorm
         |  FROM lln
         |  WHERE (CASE WHEN trim(line) = '' THEN 0
         |         ELSE len(string_split_regex(trim(line), ' +')) END) >= 3
         |    AND NOT contains(lower(line), 'javascript')
         |), lrk AS (
         |  SELECT *, row_number() OVER (PARTITION BY lnorm
         |    ORDER BY doc_id, line_idx) AS rn
         |  FROM flt
         |), lout AS (
         |  SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY line_idx) AS text
         |  FROM lrk WHERE rn = 1 GROUP BY doc_id
         |), sp AS (
         |  SELECT doc_id, string_split_regex(text, '\\n{2,}') AS ps FROM lout
         |), ppr AS (
         |  SELECT doc_id, CAST(i AS INT) AS par_idx,
         |    ps[CAST(i AS INT) + 1] AS par
         |  FROM sp, unnest(range(0, len(ps))) AS u2(i)
         |), pn AS (
         |  SELECT doc_id, par_idx, par,
         |    regexp_replace(lower(trim(par)), '\\s+', ' ', 'g') AS pnorm
         |  FROM ppr
         |  WHERE regexp_replace(lower(trim(par)), '\\s+', ' ', 'g') <> ''
         |), prk AS (
         |  SELECT *, row_number() OVER (PARTITION BY pnorm
         |    ORDER BY doc_id, par_idx) AS rn
         |  FROM pn
         |), pout AS (
         |  SELECT doc_id,
         |    string_agg(par, chr(10) || chr(10) ORDER BY par_idx) AS text
         |  FROM prk WHERE rn = 1 GROUP BY doc_id
         |), ${SH3.replace("FROM documents", "FROM pout")}, jp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter, a.n_sh AS n_a, b.n_sh AS n_b
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 4, 5
         |  HAVING round(CAST(count(*) AS DOUBLE) / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE), 6) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp
         |), reach AS (
         |  SELECT src AS id, src AS lab FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
         |), clu AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
         |), canon AS (
         |  SELECT p.doc_id, p.text FROM pout p
         |  LEFT JOIN clu ON p.doc_id = clu.doc_id
         |  WHERE clu.cluster_id IS NULL OR clu.cluster_id = p.doc_id
         |),
         |${classifySql(8, "8.0").replace("FROM documents", "FROM canon")},
         |scored AS (
         |  SELECT f.doc_id,
         |    floor(least(greatest(0.25 * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4) + 0.5,
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM f CROSS JOIN w8s w
         |), grk AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC,
         |      CAST(('0x' || substr(md5('pretrain:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |        % 1000000 AS BIGINT), doc_id) AS rn,
         |    (SELECT count(*) FROM scored) AS n
         |  FROM scored
         |), gt AS (
         |  SELECT g.doc_id, g.score, c.text
         |  FROM grk g JOIN canon c ON g.doc_id = c.doc_id
         |  WHERE g.rn <= (3 * g.n) // 10
         |), gsh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
         |    ELSE list_transform(range(1, len(w) - 6),
         |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
         |           w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]) END)) AS s
         |  FROM (SELECT doc_id, str_split($NORM, ' ') AS w FROM gt)
         |), bsh AS (
         |  SELECT DISTINCT s FROM (
         |    SELECT unnest(list_distinct(
         |      CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
         |      ELSE list_transform(range(1, len(w) - 6),
         |        i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
         |             w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]) END)) AS s
         |    FROM (SELECT str_split($NORM, ' ') AS w FROM documents
         |          WHERE doc_id % 20 = 7)
         |  )
         |), pk2 AS (
         |  SELECT gt.doc_id, gt.score, gt.text, psrc.lang,
         |    CAST(length(gt.text) AS BIGINT) AS n_chars
         |  FROM gt JOIN psrc ON gt.doc_id = psrc.doc_id
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM gsh JOIN bsh ON gsh.s = bsh.s
         |    WHERE gsh.doc_id = gt.doc_id)
         |), tg AS (
         |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass FROM pk2 GROUP BY lang
         |), tw AS (
         |  SELECT lang, mass,
         |    CAST(round(sqrt(CAST(mass AS DOUBLE)) * 1000000) AS BIGINT) AS w_i
         |  FROM tg
         |), tt AS (
         |  SELECT CAST(sum(mass) AS BIGINT) AS total,
         |    CAST(sum(w_i) AS BIGINT) AS sumw_i FROM tw
         |), tr AS (
         |  SELECT lang, CASE WHEN mass = 0 THEN 1000000
         |    ELSE CAST(floor(least(1.0,
         |      0.5 * (CAST(w_i AS DOUBLE) / CAST(sumw_i AS DOUBLE))
         |          * (CAST(total AS DOUBLE) / CAST(mass AS DOUBLE))) * 1000000) AS BIGINT)
         |    END AS thr
         |  FROM tw, tt
         |), samp AS (
         |  SELECT pk2.doc_id, pk2.lang, pk2.score, pk2.text
         |  FROM pk2 JOIN tr ON pk2.lang = tr.lang
         |  WHERE CAST(('0x' || substr(md5('temp:' || CAST(pk2.doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |      % 1000000 AS BIGINT) < tr.thr
         |), man AS (
         |  SELECT doc_id, lang, score, text,
         |    CAST(row_number() OVER (
         |      PARTITION BY CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 4 AS BIGINT)
         |      ORDER BY md5('shard:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos,
         |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |      % 4 AS BIGINT) AS shard_id
         |  FROM samp
         |)""".stripMargin
      raw
  }

  /** DuckDB 1.0 inlines CTEs by default: the deep cascade re-reads the
    * parquet source once per reference (the recursive CC + 8-step
    * training replay multiply into thousands of scans -> it exhausts
    * the fd limit before it exhausts the planner). MATERIALIZE the
    * load-bearing stage boundaries so each stage evaluates once, like
    * the Spark side's Materialize.once. */
  private def pretrainMat(q: String): String =
    Seq("psrc", "pfx", "pbw", "lout", "pout", "sh", "clu",
      "canon", "f", "scored", "grk", "gt", "pk2", "man")
      .foldLeft(q) { (acc, n) =>
        acc.replaceFirst(s"\\b$n AS \\(", s"$n AS MATERIALIZED (")
      }

  /** [[pretrainMat]] plus the spliced BPE cascade's stage boundaries:
    * each bpsymN has TWO consumers (the next round's pair count and
    * rewrite), so inlining would double the evaluation per level —
    * 2^rounds scans of the token aggregate without materialization. */
  private def pretrainMatBpe(q: String): String =
    (Seq("bpfreq") ++ (0 to BPE_ROUNDS).map(i => s"bpsym$i") ++
      Seq("bsegs", "pbpe"))
      .foldLeft(pretrainMat(q)) { (acc, n) =>
        acc.replaceFirst(s"\\b$n AS \\(", s"$n AS MATERIALIZED (")
      }

  /** corpus_pretrain planted near-dup pair (negative doc_ids, both
    * engines share the constants): -12 is NFC/clean, -11 is the SAME
    * text in NFD form with a mojibake token and CRLF line endings —
    * the pair unifies onto one dedup key only AFTER the normalize
    * stage (fixText's documented composition point), which is exactly
    * what the composed pipeline exists to exercise. PretrainSpec pins
    * that WITHOUT stage 1 the pair survives dedup separately. */
  private val pretrainPlanted: Seq[(Long, String, String)] = Seq(
    (-12L, "caf\u00E9 cr\u00E8me br\u00FBl\u00E9e \u00E9lan planted paragraph one\n" +
      "planted unique line two here\nplanted unique line three here", "fr"),
    (-11L, "cafe\u0301 cre\u0300me bru\u0302le\u0301e \u00C3\u00A9lan planted paragraph one\r\n" +
      "planted unique line two here\r\nplanted unique line three here", "fr"))

  private[graft] val BPE_ROUNDS = 8

  /** The 8-round BPE merge cascade shared by text_bpe_train (reads
    * the bestN rows) and text_bpe_apply (reads the final symN vocab).
    * Token carried through every round; the sym step LEFT-joins its
    * best row so a merge-exhausted corpus passes the vocabulary
    * through unchanged — mirroring the Spark trainer exactly. */
  private lazy val BPE_CASCADE: String = bpeCascadeSql("")

  /** The cascade with every CTE name prefixed by `p` — the embeddable
    * form: pretrain_examples_bpe splices it into the PRETRAIN chain,
    * whose classifier replay already owns the unprefixed `t`. */
  private def bpeCascadeSql(p: String): String = {
    val init =
      s"""WITH ${p}t AS (
         |  SELECT unnest(str_split($NORM, ' ')) AS token FROM documents
         |), ${p}freq AS (
         |  SELECT token, count(*) AS f FROM ${p}t WHERE token <> '' GROUP BY 1
         |), ${p}sym0 AS (
         |  SELECT token, f, list_aggregate(list_transform(range(1, length(token) + 1),
         |      i -> ' ' || substring(token, CAST(i AS INT), 1) || ' '),
         |    'string_agg', '') AS w
         |  FROM ${p}freq
         |)""".stripMargin
    val roundCtes = (1 to BPE_ROUNDS).map { i =>
      s""", ${p}pairs$i AS (
         |  SELECT sy[CAST(i AS INT)] AS l, sy[CAST(i + 1 AS INT)] AS r, sum(f) AS wt
         |  FROM (
         |    SELECT f, sy, unnest(range(1, len(sy))) AS i FROM (
         |      SELECT f, list_filter(str_split(trim(w), '  '), x -> x <> '') AS sy FROM ${p}sym${i - 1}
         |    ) WHERE len(sy) >= 2
         |  ) GROUP BY 1, 2
         |), ${p}best$i AS (
         |  SELECT CAST($i AS INT) AS step, l, r, wt FROM ${p}pairs$i
         |  ORDER BY wt DESC, l, r LIMIT 1
         |), ${p}sym$i AS (
         |  SELECT s.token, s.f,
         |    CASE WHEN b.l IS NULL THEN s.w
         |         ELSE replace(s.w, ' ' || b.l || '  ' || b.r || ' ',
         |           ' ' || b.l || b.r || ' ') END AS w
         |  FROM ${p}sym${i - 1} s LEFT JOIN ${p}best$i b ON true
         |)""".stripMargin
    }.mkString
    init + roundCtes
  }

  /** #42's chunk stream (doc_id, chunk_start, chunk_text, n_tokens)
    * WITHOUT a trailing ORDER BY, reusable as a CTE body (chunk_pack). */
  private lazy val DOC_CHUNK_BODY =
    """WITH ctoks0 AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS tokens
      |  FROM documents
      |), cstarts0 AS (
      |  SELECT doc_id, tokens,
      |    unnest(generate_series(0, len(tokens) - 1, 48)) AS start
      |  FROM ctoks0 WHERE len(tokens) > 0
      |)
      |SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
      |  array_to_string(list_slice(tokens, start + 1, start + 64), ' ') AS chunk_text,
      |  CAST(least(64, len(tokens) - start) AS BIGINT) AS n_tokens
      |FROM cstarts0""".stripMargin

  /** chunks → sharded → packed → packs: the #51 pack-assignment
    * replay (budget 256, 16 shards), shared by the chunk_pack and
    * pack_stats oracles so the rule lives once per engine. */
  private lazy val PACK_CTES =
    s"""chunks AS (
       |  $DOC_CHUNK_BODY
       |), sharded AS (
       |  SELECT doc_id, chunk_start, n_tokens, doc_id % 16 AS shard FROM chunks
       |), packed AS (
       |  SELECT shard, n_tokens,
       |    CAST(floor((sum(n_tokens) OVER w - n_tokens) / 256.0) AS BIGINT) AS pack_id
       |  FROM sharded
       |  WINDOW w AS (PARTITION BY shard ORDER BY doc_id, chunk_start
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), packs AS (
       |  SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
       |  FROM packed GROUP BY shard, pack_id
       |)""".stripMargin

  /** 141b: the BPE-budget pack — the renamed 8-round merge cascade
    * (trained FROM documents, exactly text_bpe_apply's trainer)
    * splices into the pretrain chain; each chunk's cost is the sum of
    * its lowered words' segment sizes with the character fallback for
    * OOV (the planted French rows are OOV by construction). Shared by
    * pretrain_examples_bpe and pretrain_examples_bpe_indexed. */
  private lazy val PRETRAIN_BPE_SQL: String =
    pretrainMatBpe(PRETRAIN_RAW + ", " +
      bpeCascadeSql("bp").stripPrefix("WITH ") +
      s""", bsegs AS (
        |  SELECT token,
        |    CAST(len(list_filter(str_split(trim(w), '  '), x -> x <> '')) AS BIGINT) AS n_sub
        |  FROM bpsym$BPE_ROUNDS
        |), pchunks AS (
        |  SELECT shard_id, pos,
        |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS tokens
        |  FROM man
        |), pstarts AS (
        |  SELECT shard_id, pos, tokens,
        |    unnest(generate_series(0, len(tokens) - 1, 48)) AS start
        |  FROM pchunks WHERE len(tokens) > 0
        |), pch AS (
        |  SELECT shard_id, pos, CAST(start AS BIGINT) AS chunk_start,
        |    list_transform(
        |      list_slice(tokens, CAST(start AS INT) + 1, CAST(start AS INT) + 64),
        |      x -> lower(x)) AS ctk
        |  FROM pstarts
        |), pct AS (
        |  SELECT shard_id, pos, chunk_start, unnest(ctk) AS token FROM pch
        |), pbpe AS (
        |  SELECT p.shard_id, p.pos, p.chunk_start,
        |    CAST(sum(coalesce(s.n_sub, length(p.token))) AS BIGINT) AS n_bpe
        |  FROM pct p LEFT JOIN bsegs s USING (token)
        |  GROUP BY 1, 2, 3
        |), ppack AS (
        |  SELECT shard_id, n_bpe,
        |    CAST(floor((sum(n_bpe) OVER w - n_bpe) / 256.0) AS BIGINT) AS pack_id
        |  FROM pbpe
        |  WINDOW w AS (PARTITION BY shard_id ORDER BY pos, chunk_start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT shard_id, pack_id, count(*) AS n_chunks,
        |  CAST(sum(n_bpe) AS BIGINT) AS pack_tokens
        |FROM ppack GROUP BY shard_id, pack_id
        |ORDER BY shard_id, pack_id""".stripMargin)

  val keys: Seq[(String, QueryKey)] = Seq(
    // 140: the composed end-to-end pretraining-prep flagship — the
    // full curation stack in its documented order (normalize →
    // blocklist → line clean → paragraph dedup → near-dup
    // keep-canonical → trained classifier rank gate → benchmark
    // decontamination → temperature sampling → shard manifest), as
    // ONE oracle-replayed query. Integration bugs live BETWEEN
    // operators; the per-operator oracles can't see them. The planted
    // NFD/mojibake pair (-12/-11) exercises fixText's composition
    // point ahead of the dedup keys. Benchmark = the raw %20==7 docs
    // (the decontaminate convention); the corpus keeps them and the
    // decon stage removes them (sharing 8-grams with themselves).
    "corpus_pretrain" -> QueryKey((s, d) => {
      val (src, bench) = pretrainSrcBench(s, d)
      graft.operators.Pretrain.run(src, bench)
        .orderBy(col("shard_id"), col("pos"))
    },
      // 140: the whole pipeline as one generated WITH cascade — every
      // stage's fragment reuses the SAME shared constants as its
      // standalone oracle (MOJ_CHAIN/scrubRe, the badwords list, SH3 and
      // the CC closure retargeted onto the cleaned text, the full
      // 8-step classifier training replay over the deduped corpus, the
      // 'pretrain:' gate bucket, the 8-gram decon probe against RAW
      // benchmark text, the 'temp:' thresholds over cleaned char mass,
      // and the 'shard:' manifest). One definition per constant, two
      // engines.
      pretrainMat(PRETRAIN_RAW +
        """
          |SELECT shard_id, pos, doc_id, lang, score
          |FROM man ORDER BY shard_id, pos""".stripMargin)),
    // 147: the flagship pipeline's stage-yield funnel — survivor
    // counts at EVERY stage boundary (the report a curation operator
    // watches: a bad blocklist push or classifier drift eats the
    // corpus HERE first). Counts come from the same stage frames the
    // manifest executes (Pretrain.stages is shared), so the funnel
    // cannot drift from the pipeline it audits.
    "pretrain_yield" -> QueryKey((s, d) => {
      val (src, bench) = pretrainSrcBench(s, d)
      graft.operators.Pretrain.yieldReport(src, bench)
    },
      // 147: the same CTE chain counted at each stage boundary (psrc →
      // pbw → lout → pout → canon → gt → pk2 → samp — the exact frames
      // the Spark stages() shares with the manifest)
      pretrainMat(PRETRAIN_RAW +
        """
          |SELECT stage, n_docs FROM (
          |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM psrc
          |  UNION ALL SELECT '1_blocklist', CAST(count(*) AS BIGINT) FROM pbw
          |  UNION ALL SELECT '2_line_clean', CAST(count(*) AS BIGINT) FROM lout
          |  UNION ALL SELECT '3_paragraph_dedup', CAST(count(*) AS BIGINT) FROM pout
          |  UNION ALL SELECT '4_cluster_dedup', CAST(count(*) AS BIGINT) FROM canon
          |  UNION ALL SELECT '5_classifier_gate', CAST(count(*) AS BIGINT) FROM gt
          |  UNION ALL SELECT '6_decontaminate', CAST(count(*) AS BIGINT) FROM pk2
          |  UNION ALL SELECT '7_temperature_sample', CAST(count(*) AS BIGINT) FROM samp
          |) ORDER BY stage""".stripMargin)),
    // 141: the step after the manifest — TRAINER-READY examples:
    // 64/16 context chunks of each manifest doc's cleaned text packed
    // into 256-token examples IN TRAINING ORDER (the pack window
    // partitions by the manifest shard and orders by
    // (pos, chunk_start)); shard-local windows keep the sort
    // ~n/nShards rows. Same source + benchmark as corpus_pretrain.
    "pretrain_examples" -> QueryKey((s, d) => {
      val (src, bench) = pretrainSrcBench(s, d)
      graft.operators.Pretrain.examples(src, bench)
        .orderBy(col("shard_id"), col("pack_id"))
    },
      // 141: manifest -> trainer-ready examples: 64/16 context chunks of
      // each manifest doc's cleaned text, packed into 256-token examples
      // IN TRAINING ORDER (the pack window partitions by the manifest
      // shard and orders by (pos, chunk_start) — the chunk_pack
      // offset-quota formulation over the manifest order).
      pretrainMat(PRETRAIN_RAW +
        """, pchunks AS (
          |  SELECT shard_id, pos,
          |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS tokens
          |  FROM man
          |), pstarts AS (
          |  SELECT shard_id, pos, tokens,
          |    unnest(generate_series(0, len(tokens) - 1, 48)) AS start
          |  FROM pchunks WHERE len(tokens) > 0
          |), pch AS (
          |  SELECT shard_id, pos, CAST(start AS BIGINT) AS chunk_start,
          |    CAST(least(64, len(tokens) - start) AS BIGINT) AS n_tokens
          |  FROM pstarts
          |), ppack AS (
          |  SELECT shard_id, n_tokens,
          |    CAST(floor((sum(n_tokens) OVER w - n_tokens) / 256.0) AS BIGINT) AS pack_id
          |  FROM pch
          |  WINDOW w AS (PARTITION BY shard_id ORDER BY pos, chunk_start
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |)
          |SELECT shard_id, pack_id, count(*) AS n_chunks,
          |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
          |FROM ppack GROUP BY shard_id, pack_id
          |ORDER BY shard_id, pack_id""".stripMargin)),
    // 149: SFT prompt-masked example prep — the loss-mask boundary an
    // instruction-tuning trainer consumes: chat-template rendering,
    // maxLen truncation, and per-example shas of the FULL rendered
    // token stream and 0/1 mask stream (every token and mask bit
    // oracle-proven, not just the counts). Narrow codegen'd map,
    // zero shuffle.
    "sft_examples" -> QueryKey((s, d) =>
      graft.operators.Pretrain.sftExamples(docs(s, d),
        promptTokens = SFT_PROMPT, maxLen = SFT_MAXLEN)
        .orderBy(col("doc_id")),
      // 149: SFT prompt-masked examples — rebuild the rendered token
      // stream (role markers + prompt/response split + maxLen
      // truncation) and the 0/1 mask stream, hash both. Constants
      // interpolated from SFT_PROMPT/SFT_MAXLEN.
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS w
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, w FROM toks WHERE len(w) > $SFT_PROMPT
         |), ren AS (
         |  SELECT doc_id,
         |    list_concat(list_concat(list_concat(
         |      ['<|user|>'], w[1:$SFT_PROMPT]),
         |      ['<|assistant|>']), w[${SFT_PROMPT + 1}:]) AS a
         |  FROM st
         |), kp AS (
         |  SELECT doc_id, len(a) AS n_tokens, a[1:$SFT_MAXLEN] AS kept FROM ren
         |)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(len(kept) - ${SFT_PROMPT + 2} AS BIGINT) AS n_target,
         |  sha256(array_to_string(kept, ' ')) AS text_sha,
         |  sha256(array_to_string(list_transform(range(1, len(kept) + 1),
         |    i -> CASE WHEN i <= ${SFT_PROMPT + 2} THEN '0' ELSE '1' END),
         |    ',')) AS mask_sha
         |FROM kp WHERE len(kept) > ${SFT_PROMPT + 2}
         |ORDER BY doc_id""".stripMargin),
    // 149c: fill-in-the-middle transform — the code-model training
    // transform (FIM, Bavarian et al. 2022): a deterministic
    // FIM_RATE% of docs re-render PSM (<|fim_pre|> prefix <|fim_suf|>
    // suffix <|fim_mid|> middle) with sha-derived cut points both
    // engines replay; the rest pass through left-to-right. The
    // rendered-stream sha proves every token of the reordering.
    // Narrow codegen'd map, zero shuffle.
    "doc_fim" -> QueryKey((s, d) =>
      graft.operators.Pretrain.fimExamples(docs(s, d), ratePct = FIM_RATE)
        .orderBy(col("doc_id")),
      // 149c: FIM — same sha-derived cut points (uniform over [0, n],
      // sorted) and gate, same PSM rendering, hashed token-exact.
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, tk, len(tk) AS n,
         |    CAST(('0x' || substr(md5('fima:' || doc_id), 1, 8))::UBIGINT AS BIGINT) % (len(tk) + 1) AS ca,
         |    CAST(('0x' || substr(md5('fimb:' || doc_id), 1, 8))::UBIGINT AS BIGINT) % (len(tk) + 1) AS cb,
         |    ('0x' || substr(md5('fimg:' || doc_id), 1, 8))::UBIGINT % 100 < $FIM_RATE AS gate
         |  FROM t
         |), c AS (
         |  SELECT doc_id, tk, n, least(ca, cb) AS p, greatest(ca, cb) AS q,
         |    (gate AND least(ca, cb) < greatest(ca, cb)) AS ap
         |  FROM s
         |)
         |SELECT doc_id, ap AS fim_applied,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN ap THEN p ELSE n END AS BIGINT) AS n_prefix,
         |  CAST(CASE WHEN ap THEN q - p ELSE 0 END AS BIGINT) AS n_middle,
         |  CAST(CASE WHEN ap THEN n - q ELSE 0 END AS BIGINT) AS n_suffix,
         |  sha256(array_to_string(CASE WHEN ap THEN
         |      list_concat(list_concat(list_concat(list_concat(list_concat(
         |        ['<|fim_pre|>'], tk[1:CAST(p AS INT)]),
         |        ['<|fim_suf|>']), tk[CAST(q + 1 AS INT):CAST(n AS INT)]),
         |        ['<|fim_mid|>']), tk[CAST(p + 1 AS INT):CAST(q AS INT)])
         |    ELSE tk END, ' ')) AS text_sha
         |FROM c ORDER BY doc_id""".stripMargin),
    // 155: long-context document stitching — same-source ingest-order
    // concat into <=CTX_STITCH-token contexts via the offset-quota
    // assignment (window-parallel, deterministic); per-context sha of
    // the full separator-joined text proves every stitched byte.
    // One source exchange + in-shuffle window + same-keyed agg.
    "corpus_stitch" -> QueryKey((s, d) =>
      graft.operators.Pretrain.stitchContexts(docs(s, d), budget = CTX_STITCH)
        .orderBy(col("source"), col("context_id")),
      // 155: same offset-quota assignment and ordered separator-join,
      // hashed byte-exact; budget interpolated from CTX_STITCH.
      s"""WITH stok AS (
         |  SELECT doc_id, source, text,
         |    CAST(CASE WHEN $NORM = '' THEN 0
         |      ELSE len(str_split($NORM, ' ')) END AS BIGINT) AS n_tokens
         |  FROM documents
         |), sst AS (
         |  SELECT doc_id, source, text, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
         |  FROM stok
         |)
         |SELECT source, CAST(cum_prev // $CTX_STITCH AS BIGINT) AS context_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  sha256(string_agg(text, '<|doc|>' ORDER BY doc_id)) AS text_sha
         |FROM sst GROUP BY 1, 2
         |ORDER BY source, context_id""".stripMargin),
    // 150: DPO preference-pair construction — i-th best vs i-th worst
    // per (source, sha-bucket) group by the deterministic quality
    // score, margin-gated; disjointness is structural (the orderings
    // are exact reverses + the 2i ≤ group-size guard). One hash
    // exchange on the bounded group key, two in-shuffle window ranks,
    // one ≤topK-per-group self-equi-join.
    "dpo_pairs" -> QueryKey((s, d) =>
      graft.operators.Pretrain.dpoPairs(docs(s, d), buckets = DPO_BUCKETS,
        topK = DPO_TOPK, minMargin = DPO_MARGIN)
        .orderBy(col("source"), col("bucket"), col("pair_rank")),
      // 150: DPO pairs — the shared quality chain (QUALITY_CTES) scores
      // candidates; ranks, disjointness guard and margin gate replay
      // with the same interpolated constants.
      s"""WITH $QUALITY_CTES, sc AS (
         |  SELECT d.doc_id, d.source, q.quality,
         |    CAST(CAST(('0x' || substr(md5('dpo:' || d.doc_id), 1, 8))::UBIGINT AS BIGINT) % $DPO_BUCKETS AS BIGINT) AS bucket
         |  FROM documents d JOIN qcq q ON d.doc_id = q.doc_id
         |), rk AS (
         |  SELECT doc_id, source, quality, bucket,
         |    row_number() OVER (PARTITION BY source, bucket ORDER BY quality DESC, doc_id ASC) AS rb,
         |    row_number() OVER (PARTITION BY source, bucket ORDER BY quality ASC, doc_id DESC) AS rw,
         |    count(*) OVER (PARTITION BY source, bucket) AS gn
         |  FROM sc
         |)
         |SELECT b.source, b.bucket, CAST(b.rb AS BIGINT) AS pair_rank,
         |  b.doc_id AS chosen_id, w.doc_id AS rejected_id,
         |  b.quality AS chosen_q, w.quality AS rejected_q,
         |  round(b.quality - w.quality, 6) AS margin
         |FROM rk b JOIN rk w
         |  ON b.source = w.source AND b.bucket = w.bucket AND b.rb = w.rw
         |WHERE b.rb <= $DPO_TOPK AND b.rb * 2 <= b.gn AND w.rw * 2 <= w.gn
         |  AND b.quality - w.quality >= $DPO_MARGIN
         |ORDER BY 1, 2, 3""".stripMargin),
    // 141b: the same examples packed in TRAINER-REAL tokens — the
    // 8-round BPE tokenizer trains on the raw corpus (tokenizers
    // precede curation) and each chunk costs the sum of its words'
    // trained segment sizes (character fallback for OOV — what a real
    // BPE does with unseen words, and the planted French rows ARE
    // unseen). The oracle splices the renamed BPE cascade into the
    // pretrain CTE chain, so the hash proves merge training, the
    // 9-stage pipeline, chunking, AND the BPE-budget pack together.
    "pretrain_examples_bpe" -> QueryKey((s, d) => {
      val (src, bench) = pretrainSrcBench(s, d)
      graft.operators.Pretrain.examplesBpe(src, bench, docs(s, d))
        .orderBy(col("shard_id"), col("pack_id"))
    },
      PRETRAIN_BPE_SQL),
    // 141c: the SAME BPE-budget packs, but the tokenizer trains ONCE
    // and publishes through the versioned lake (merges + segments +
    // meta as one atomic group) — the train-once/probe-many split the
    // IVF-PQ and BM25 indexes already have, applied to the suite's
    // heaviest trainer. Shares pretrain_examples_bpe's oracle SQL
    // verbatim: the lake round trip must be invisible to the packs.
    "pretrain_examples_bpe_indexed" -> QueryKey((s, d) => {
      val (src, bench) = pretrainSrcBench(s, d)
      val lake = java.nio.file.Files
        .createTempDirectory("graft-bpe-lake").toString
      graft.operators.Pretrain.publishTokenizerLake(docs(s, d), lake)
      graft.operators.Pretrain.examplesBpeIndexed(s, lake, src, bench)
        .orderBy(col("shard_id"), col("pack_id"))
    },
      PRETRAIN_BPE_SQL),
    // 133: tokenizer fertility report — subtokens-per-word and
    // chars-per-subtoken by language under the TRAINED 8-round BPE
    // tokenizer (text_bpe_train's vocabulary): the stat that tells a
    // training-data pipeline which languages a tokenizer punishes
    // (fertility 2× means half the effective context). BPE merges
    // concatenate symbols, so Σ chars across a token's subtokens
    // equals the token's length — chars_per_subtoken needs no extra
    // bookkeeping. The oracle replays the full trainer cascade plus
    // the per-lang aggregation.
    "text_fertility" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val seg = graft.Materialize.once(bpeSegmentsOf(doc, rounds = 8)
        .select(col("token"), size(col("sy")).as("n_sub"),
          length(col("token")).cast("long").as("n_chars")))
      val tok = doc.select(col("doc_id"), col("lang"),
        explode(Text.tokensOrEmpty(col("text"))).as("token"))
      val nd = doc.groupBy(col("lang")).agg(countDistinct(col("doc_id")).as("n_docs"))
      tok.join(seg, "token")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).cast("long").as("n_subtokens"),
          sum(col("n_chars")).as("n_chars"))
        .join(nd, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_subtokens"),
          round(col("n_subtokens").cast("double") / col("n_words").cast("double"), 6)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("n_subtokens").cast("double"), 6)
            .as("chars_per_subtoken"))
        .orderBy(col("lang"))
    },
      // 133: the trained-tokenizer cascade + per-lang fertility math
      s"""$BPE_CASCADE, segs AS (
         |  SELECT token, list_filter(str_split(trim(w), '  '), x -> x <> '') AS sy
         |  FROM sym$BPE_ROUNDS
         |), tkc AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, lang, unnest(tk) AS token FROM tkc
         |), st AS (
         |  SELECT lang, count(*) AS n_words,
         |    CAST(sum(len(s.sy)) AS BIGINT) AS n_subtokens,
         |    CAST(sum(length(t.token)) AS BIGINT) AS n_chars
         |  FROM tok t JOIN segs s USING (token) GROUP BY lang
         |), nd AS (
         |  SELECT lang, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY lang
         |)
         |SELECT st.lang, CAST(nd.n_docs AS BIGINT) AS n_docs,
         |  CAST(st.n_words AS BIGINT) AS n_words, st.n_subtokens,
         |  round(CAST(st.n_subtokens AS DOUBLE) / CAST(st.n_words AS DOUBLE), 6) AS fertility,
         |  round(CAST(st.n_chars AS DOUBLE) / CAST(st.n_subtokens AS DOUBLE), 6) AS chars_per_subtoken
         |FROM st JOIN nd USING (lang)
         |ORDER BY st.lang""".stripMargin),
    // 143: quality-phased curriculum manifest — deterministic
    // easy→hard training order (fixed quality bands, salted-md5
    // shuffle within each band, per-(phase, shard) positions; the
    // training loop reads phase-major, round-robin across shards).
    // One narrow quality map + one (phase, shard) hash shuffle +
    // shard-local sorts at any corpus size.
    // (presentation orderBy lives HERE, not in the operator — the
    // manifest itself never sorts globally; see Pretrain.curriculum)
    "corpus_curriculum" -> QueryKey((s, d) =>
      Pretrain.curriculum(docs(s, d), nShards = 8)
        .orderBy(col("phase"), col("shard_id"), col("pos")),
      // 143: the quality chain + fixed bands + the same salted-md5
      // shard/position arithmetic as the corpus_shard oracle
      s"""WITH $QUALITY_CTES, staged AS (
         |  SELECT doc_id, quality,
         |    CASE WHEN quality >= 0.75 THEN 0 WHEN quality >= 0.5 THEN 1
         |         WHEN quality >= 0.25 THEN 2 ELSE 3 END AS phase,
         |    md5('cur:' || CAST(doc_id AS VARCHAR)) AS k,
         |    CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
         |      % 8 AS BIGINT) AS shard_id
         |  FROM qcq
         |)
         |SELECT CAST(phase AS BIGINT) AS phase, shard_id,
         |  CAST(row_number() OVER (PARTITION BY phase, shard_id
         |    ORDER BY k, doc_id) AS BIGINT) AS pos,
         |  doc_id, quality
         |FROM staged ORDER BY phase, shard_id, pos""".stripMargin),
    // 88: deterministic training-order shard manifest — the export
    // step every training run needs: a reproducible global shuffle
    // (training-order randomization) plus shard assignment, keyed on
    // the same salted-md5 lattice the samplers use (engine-replayable;
    // different salt → independent order). Output is the manifest
    // (shard_id, pos, doc_id). Scale: shard assignment is a narrow
    // map; the per-shard position is one hash shuffle on shard_id +
    // a per-shard sort — exactly the work the sharded write itself
    // pays, and WindowExec spills rather than buffering a shard.
    "corpus_shard" -> QueryKey((s, d) => {
      val nShards = 8
      val key = md5(concat_ws(":", lit("shard"), col("doc_id").cast("string")))
      val keyed = docs(s, d).select(col("doc_id"), key.as("k"),
        pmod(conv(substring(key, 1, 8), 16, 10).cast("long"), lit(nShards)).as("shard_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard_id")).orderBy(col("k"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w).cast("long"))
        .select(col("shard_id"), col("pos"), col("doc_id"))
        .orderBy(col("shard_id"), col("pos"))
    },
      """WITH keyed AS (
        |  SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS k,
        |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      % 8 AS BIGINT) AS shard_id
        |  FROM documents
        |)
        |SELECT shard_id, CAST(row_number() OVER
        |    (PARTITION BY shard_id ORDER BY k, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM keyed ORDER BY shard_id, pos""".stripMargin),
    // 89: BPE merge-pair counting — the tokenizer-training primitive
    // (one BPE iteration = "count adjacent symbol pairs across the
    // vocabulary weighted by corpus frequency, merge the top pair").
    // Computing it over the distinct-token vocabulary (not token
    // instances) is the standard trick: pair work scales with
    // |vocab| · avg_len, not corpus tokens — the corpus is touched
    // once for the frequency aggregate and never again.
    "text_bpe" -> QueryKey((s, d) => {
      val toks = docs(s, d)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("f"))
      val pairs = freq.where(length(col("token")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, length(token)-1), i -> substring(token, i, 2))")).as("pair"))
      pairs.groupBy(col("pair")).agg(sum(col("f")).as("w"))
        .orderBy(col("w").desc, col("pair")).limit(20)
    },
      s"""WITH t AS (
         |  SELECT unnest(str_split($NORM, ' ')) AS token FROM documents
         |), freq AS (
         |  SELECT token, count(*) AS f FROM t WHERE token <> '' GROUP BY 1
         |), pos AS (
         |  SELECT token, f, unnest(range(1, length(token))) AS i
         |  FROM freq WHERE length(token) >= 2
         |), pairs AS (
         |  SELECT substr(token, CAST(i AS INT), 2) AS pair, f FROM pos
         |)
         |SELECT pair, CAST(sum(f) AS BIGINT) AS w FROM pairs
         |GROUP BY pair ORDER BY w DESC, pair LIMIT 20""".stripMargin),
    // 89b: the ITERATIVE BPE merge trainer — 8 deterministic merge
    // rounds over the vocabulary (corpus touched once for token
    // frequencies; each round is vocabulary-sized pair-count → best
    // merge (ties to lowest (l,r)) → rewrite). The oracle replays all
    // 8 rounds through a chained-CTE cascade, so the hash proves the
    // whole merge chain — the separator-string replace trick makes
    // both engines' greedy left-to-right merge bit-identical.
    "text_bpe_train" -> QueryKey((s, d) =>
      bpeTrainOf(docs(s, d), rounds = 8).orderBy(col("step")),
      // 89b: full replay of the 8-round merge chain — chained CTEs (one
      // pairs/best/sym triple per round; recursive CTEs cannot aggregate
      // over the recursive table), same separator-string replace
      {
        val unions = (1 to BPE_ROUNDS)
          .map(i => s"SELECT step, l, r, wt FROM best$i").mkString(" UNION ALL ")
        s"""$BPE_CASCADE
           |SELECT step, l, r, CAST(wt AS BIGINT) AS wt
           |FROM ($unions) ORDER BY step""".stripMargin
      }),
    // 89c: trained-tokenizer APPLICATION — the serving half of the
    // trainer: re-encode every document with the 8-round merge
    // table's final segmentation. The segmentation is computed once
    // on the VOCABULARY (the trainer's own final state — corpus never
    // re-touched); each token instance then joins its segment (the
    // vocab table auto-broadcasts at this scale; at a 10M-entry
    // vocab the join falls back to a keyed shuffle of the token
    // stream — the standard re-encode shape). Per-doc output: token
    // and subtoken counts plus a hash of the full in-order subtoken
    // stream, so the oracle proves every document's exact encoding.
    "text_bpe_apply" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val seg = graft.Materialize.once(bpeSegmentsOf(doc, rounds = 8)
        .select(col("token"), size(col("sy")).as("n_sub"),
          array_join(col("sy"), " ").as("seg")))
      val tkc = doc.select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("tk"))
      val tok = tkc.select(col("doc_id"), posexplode(col("tk")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
      val agg = tok.join(seg, "token")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_sub")).cast("long").as("n_subtokens"),
          array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ").as("stream"))
      tkc.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
          coalesce(col("n_subtokens"), lit(0L)).as("n_subtokens"),
          sha2(coalesce(col("stream"), lit("")), 256).as("seg_sha"))
        .orderBy(col("doc_id"))
    },
      // 89c: the trained segmentation applied back to the corpus — join
      // every token instance (position-kept) to sym8's symbols, rebuild
      // each document's subtoken stream in order, hash it
      s"""$BPE_CASCADE, segs AS (
         |  SELECT token, list_filter(str_split(trim(w), '  '), x -> x <> '') AS sy
         |  FROM sym$BPE_ROUNDS
         |), tkc AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos,
         |    unnest(tk) AS token
         |  FROM tkc
         |), seginst AS (
         |  SELECT t.doc_id, t.pos, len(s.sy) AS n_sub,
         |    array_to_string(s.sy, ' ') AS seg
         |  FROM tok t JOIN segs s USING (token)
         |), agg AS (
         |  SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
         |    string_agg(seg, ' ' ORDER BY pos) AS stream
         |  FROM seginst GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  coalesce(a.n_subtokens, 0) AS n_subtokens,
         |  sha256(coalesce(a.stream, '')) AS seg_sha
         |FROM tkc d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    // 92: span-corruption masking (T5/UL2 denoising-objective prep):
    // deterministically select non-overlapping 3-token spans and
    // collapse each to a sentinel. Spans live inside fixed 8-token
    // blocks — block b of a doc masks iff md5('mask:doc:b') lands
    // under the rate, at offset md5('off:doc:b') % 6 — so masking is
    // embarrassingly parallel (no sequential "skip if overlapping"
    // state), reproducible, and block-local: the same md5-lattice
    // trick the samplers use, applied to positions. Narrow map, zero
    // shuffle; the oracle rebuilds every masked token list and
    // hash-checks the full masked text. ~11% of tokens masked
    // (30% of full blocks × 3/8).
    "doc_mask" -> QueryKey((s, d) => {
      val off = "CAST(CAST(conv(substring(md5(concat('off:', CAST(doc_id AS STRING), ':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) % 6 AS INT)"
      val gate = "CAST(conv(substring(md5(concat('mask:', CAST(doc_id AS STRING), ':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100 < 30"
      // mirror Text.tokenCount's empty guard: split('') yields [''],
      // but the oracle maps NORM='' (empty or space-only text) to []
      val tok = docs(s, d)
        .select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      tok.select(col("doc_id"), col("n"), expr(
        s"""flatten(transform(sequence(0, CAST(greatest(ceil(n / 8.0) - 1, 0) AS INT)),
           |  b -> CASE WHEN n - 8*b >= 8 AND $gate
           |    THEN concat(
           |      slice(tk, 8*b + 1, $off),
           |      array('<extra_id>'),
           |      slice(tk, 8*b + $off + 4, 5 - $off))
           |    ELSE slice(tk, 8*b + 1, least(8, n - 8*b)) END))""".stripMargin).as("mtk"))
        .select(col("doc_id"),
          col("n").cast("long").as("n_tokens"),
          (lit(3L) * ((col("n") - size(col("mtk"))) / 2).cast("long")).as("n_masked"),
          sha2(array_join(col("mtk"), " "), 256).as("masked_sha"))
        .orderBy(col("doc_id"))
    },
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, tk, len(tk) AS n FROM t
         |), m AS (
         |  SELECT doc_id, n,
         |    flatten(list_transform(range(0, CAST(greatest(ceil(n / 8.0), 1) AS BIGINT)),
         |      b -> CASE WHEN n - 8*b >= 8
         |          AND ('0x' || substr(md5('mask:' || doc_id || ':' || b), 1, 8))::UBIGINT % 100 < 30
         |        THEN list_concat(list_concat(
         |          tk[8*b + 1 : 8*b + CAST(('0x' || substr(md5('off:' || doc_id || ':' || b), 1, 8))::UBIGINT % 6 AS INT)],
         |          ['<extra_id>']),
         |          tk[8*b + CAST(('0x' || substr(md5('off:' || doc_id || ':' || b), 1, 8))::UBIGINT % 6 AS INT) + 4 : 8*b + 8])
         |        ELSE tk[8*b + 1 : CAST(least(8*b + 8, n) AS INT)] END)) AS mtk
         |  FROM s
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(3 * ((n - len(mtk)) // 2) AS BIGINT) AS n_masked,
         |  sha256(array_to_string(mtk, ' ')) AS masked_sha
         |FROM m ORDER BY doc_id""".stripMargin),
    // 51: offset-quota packing of the #42 chunk stream — 256-token
    // packs, 16 shards; per-pack chunk/token rollup
    "chunk_pack" -> QueryKey((s, d) =>
      packTable(s, d).orderBy(col("shard"), col("pack_id")),
      // 51: same shard assignment + offset-quota window arithmetic as
      // Text.packChunks over the #42 chunk stream
      s"""WITH $PACK_CTES
         |SELECT shard, pack_id, n_chunks, pack_tokens
         |FROM packs ORDER BY shard, pack_id""".stripMargin),
    // 145: packing-efficiency report — the dataset-card number a
    // trainer checks before burning compute: per shard, how full the
    // fixed-budget packs actually are (fill ppm), how many packs
    // overran the budget by their one allowed chunk, and the worst
    // pack. Pure integer rollup of the #51 pack assignment — two
    // keyed aggregations, |shards| rows out, exact BIGINT throughout.
    "pack_stats" -> QueryKey((s, d) => {
      packTable(s, d)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_packs"),
          sum(col("n_chunks")).cast("long").as("n_chunks"),
          sum(col("pack_tokens")).cast("long").as("total_tokens"),
          max(col("pack_tokens")).as("max_pack_tokens"),
          sum(when(col("pack_tokens") > 256, 1L).otherwise(0L))
            .as("n_overrun"))
        .withColumn("fill_ppm",
          expr("(total_tokens * 1000000) div (n_packs * 256)"))
        .orderBy(col("shard"))
    },
      // 145: the chunk_pack replay rolled up once more per shard
      s"""WITH $PACK_CTES
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
         |  CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens,
         |  CAST(sum(CASE WHEN pack_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_overrun,
         |  CAST((sum(pack_tokens) * 1000000) // (count(*) * 256) AS BIGINT) AS fill_ppm
         |FROM packs GROUP BY shard ORDER BY shard""".stripMargin),
    // 42: context-window chunking — 64-token windows, 16-token overlap
    // (narrow map + explode; no shuffle)
    "doc_chunk" -> QueryKey((s, d) =>
      Text.chunk(docs(s, d).select(col("doc_id"), col("text")), col("text"),
          chunkSize = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_start")),
      // 42: same tokenizer ([ \t\n\r\f]+ split, empties dropped) and the
      // same 64/16 window arithmetic as Text.chunk
      s"""$DOC_CHUNK_BODY
         |ORDER BY doc_id, chunk_start""".stripMargin))
}
