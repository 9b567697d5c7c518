package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryKey
import graft.functions.Text
import QueryCommon.{NORM, docs, embs}
import Retrieval.{bm25WeightsOf, sparseTopK}

/** Query keys of the sparse-retrieval family: the BM25
  * integer-grid index probed in session, from the lake, after an
  * append and as a pack, plus the dense+sparse hybrid rerank and its
  * audit — each key with its Spark query and the DuckDB SQL that
  * replays it. */
object RetrievalQueries {

  /** DuckDB CTEs for the BM25 integer-grid weights over the whole
    * corpus, up to `wts` (doc_id, token, w_i) — bm25WeightsOf
    * replayed; shared by the sparse probe and the hybrid rerank. */
  private lazy val BM25_WTS_CTES: String =
    s"""t AS (
       |  SELECT doc_id, unnest(str_split($NORM, ' ')) AS token FROM documents
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
       |), dfq AS (
       |  SELECT token, count(*) AS df FROM tf GROUP BY 1
       |), stats AS (
       |  SELECT (SELECT count(*) FROM documents) AS n_docs,
       |    CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
       |      / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl
       |), wts AS (
       |  SELECT tf.doc_id, tf.token,
       |    CAST(round(round(ln((CAST(stats.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
       |          / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0)
       |      * (CAST(tf.tf AS DOUBLE) * 2.2)
       |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
       |          + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)), 6) * 1000000) AS BIGINT) AS w_i
       |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
       |)""".stripMargin

  /** DuckDB CTEs for the sparse top-k probe over `wts` — sparseTopK
    * replayed, up to `ranked` (query_id, doc_id, score_i, rk). */
  private lazy val SPARSE_PROBE_CTES: String =
    s"""qterms AS (
       |  SELECT doc_id AS query_id, token, w_i AS qw_i,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY w_i DESC, token) AS qrk
       |  FROM wts WHERE doc_id <= 10
       |), hits AS (
       |  SELECT q.query_id, w.doc_id, CAST(sum(q.qw_i * w.w_i) AS BIGINT) AS score_i
       |  FROM wts w JOIN (SELECT * FROM qterms WHERE qrk <= 3) q USING (token)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT query_id, doc_id, score_i,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score_i DESC, doc_id) AS rk
       |  FROM hits
       |)""".stripMargin

  /** The BM25 index + sparse probe, up to `ranked` — shared by
    * text_retrieval / retrieval_indexed / retrieval_pack. */
  private lazy val RETRIEVAL_CTES: String = s"$BM25_WTS_CTES, $SPARSE_PROBE_CTES"

  /** DuckDB replay of the BM25 integer-grid index + sparse top-k
    * probe — shared by text_retrieval and retrieval_indexed (the
    * persisted-index variant must be oracle-identical). */
  private lazy val RETRIEVAL_SQL: String =
    s"""WITH $RETRIEVAL_CTES
       |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, score_i FROM ranked
       |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  /** The fused RRF ranking hybrid_rerank serves — dense cosine top-20
    * + sparse BM25 top-20, reciprocal-rank-fused on the exact integer
    * grid, top-5 per query: (query_id, rk, doc_id, rrf_i). ONE
    * definition shared by the serving key and the
    * retrieval_eval_hybrid audit, so the audited ranking can never
    * drift from the served one. */
  private def hybridRrfOf(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val dense = Knn.cosineTopK(e, e.where(col("vec_id") < 10), k = 20)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rk").as("rk_d"))
    val doc = docs(s, d)
    // The sparse side IS the published BM25 grid: one definition
    // (bm25TfDl + bm25WeightsFrom via bm25WeightsOf) shared with
    // text_retrieval / publishBm25Lake, materialized here because the
    // hybrid reads it twice (query-term top-3 AND the posting scan).
    val weights = graft.Materialize.once(bm25WeightsOf(doc))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("w_i").desc, col("token"))
    val qterms = weights.where(col("doc_id") < 10)
      .withColumn("qrk", row_number().over(wq)).where(col("qrk") <= 3)
      .select(col("doc_id").as("query_id"), col("token"), col("w_i").as("qw_i"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score_i").desc, col("doc_id"))
    val sparse = weights.join(broadcast(qterms), "token")
      .where(col("doc_id") =!= col("query_id")) // match the dense self-exclusion
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("qw_i") * col("w_i")).as("score_i"))
      .withColumn("rk_s", row_number().over(wr)).where(col("rk_s") <= 20)
      .select(col("query_id"), col("doc_id"), col("rk_s"))
    val fused = dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + rk_d)"), lit(0L)) +
         coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + rk_s)"), lit(0L))).as("rrf_i"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf_i").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(wf)).where(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_i"))
  }

  /** DuckDB replay of the fused hybrid cascade - dense cosine +
    * BM25 sparse + integer RRF; `ranked` is the fused ranking, and
    * `dscored` (per-candidate dense cosines) stays visible for the
    * retrieval_eval_hybrid audit's exact side. Shared by the serving
    * oracle and the audit oracle so the two replays cannot drift. */
  private lazy val HYBRID_CTES: String =
    s"""q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |           FROM embeddings WHERE vec_id < 10),
       |dscored AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_emb) /
       |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |       sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
       |), dense AS (
       |  SELECT query_id, vec_id AS doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk_d
       |  FROM dscored QUALIFY rk_d <= 20
       |), $BM25_WTS_CTES, qterms AS (
       |  SELECT doc_id AS query_id, token, w_i AS qw_i,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY w_i DESC, token) AS qrk
       |  FROM wts WHERE doc_id < 10
       |), shits AS (
       |  SELECT q.query_id, w.doc_id, CAST(sum(q.qw_i * w.w_i) AS BIGINT) AS score_i
       |  FROM wts w JOIN (SELECT * FROM qterms WHERE qrk <= 3) q USING (token)
       |  WHERE w.doc_id <> q.query_id
       |  GROUP BY 1, 2
       |), sparse AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score_i DESC, doc_id) AS rk_s
       |  FROM shits QUALIFY rk_s <= 20
       |), fused AS (
       |  SELECT coalesce(d.query_id, s.query_id) AS query_id,
       |    coalesce(d.doc_id, s.doc_id) AS doc_id,
       |    coalesce(1000000000 // (60 + d.rk_d), 0)
       |      + coalesce(1000000000 // (60 + s.rk_s), 0) AS rrf_i
       |  FROM dense d FULL JOIN sparse s
       |    ON d.query_id = s.query_id AND d.doc_id = s.doc_id
       |), ranked AS (
       |  SELECT query_id, doc_id, CAST(rrf_i AS BIGINT) AS rrf_i,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_i DESC, doc_id) AS rk
       |  FROM fused
       |)""".stripMargin

  val keys: Seq[(String, QueryKey)] = Seq(
    // 86: sparse retrieval top-k — the SERVING side of the text_bm25
    // index (what a retrieval-augmentation stack executes per query):
    // 10 deterministic query vectors (each query doc's top-3 BM25
    // terms) retrieve the 3 highest-scoring documents by sparse dot
    // product over the inverted index. Weights land on an exact 1e-6
    // integer grid, so dot products accumulate as order-free BIGINT
    // sums and the oracle replays them bit-exactly (the k-means /
    // pagerank trick applied to retrieval scores). Scale shape: the
    // query side is tiny and broadcast — the index never reshuffles
    // for the probe (the decontaminate pattern); per (query, doc)
    // partial sums are one agg shuffle bounded by Σ_t df(t) over query
    // terms. The final top-3 window runs over |queries| groups; a
    // 10⁶-query batch would swap it for per-query TakeOrdered, but the
    // window is exactly right at interactive batch sizes.
    "text_retrieval" -> QueryKey((s, d) => {
      // FULL integer-grid index (no top-3 truncation) built in-session
      val weights = graft.Materialize.once(bm25WeightsOf(docs(s, d)))
      sparseTopK(weights)
    },
      RETRIEVAL_SQL),
    // 95b: the SAME serving probe, but over the index PUBLISHED to a
    // versioned graftlake table and read back through the DSv2 source
    // — "build once, probe per ingest" proven oracle-identical: the
    // lake round-trip is invisible to the result, so this key shares
    // text_retrieval's oracle SQL verbatim. Even the query vectors
    // derive from the persisted index (a serving tier reads ONLY the
    // index). Scale note: the persisted index is the 100 TB shape —
    // the corpus-sized tf aggregate runs once at publish time, and
    // every probe after it scans the (pruned, columnar) index alone.
    "retrieval_indexed" -> QueryKey((s, d) => {
      val lake = java.nio.file.Files
        .createTempDirectory("graft-bm25-lake").toString
      graft.sources.StormSinks.writeVersionedTable(bm25WeightsOf(docs(s, d)), lake)
      sparseTopK(s.read.format("graftlake").load(lake))
    },
      // 95b: the lake round-trip is invisible to the result by design —
      // the persisted-index probe must answer exactly like the
      // in-session one, so it shares the oracle verbatim
      RETRIEVAL_SQL),
    // 95g: the BM25 index's continuous-ingest face — publish on 90%
    // of the corpus, append the held-out 10% under the FROZEN
    // published statistics (new docs' known-vocabulary tokens score
    // under publish-time df/n_docs/avgdl; OOV tokens contribute
    // nothing — the Lucene-segment / FAISS-add frozen-snapshot
    // contract), then serve over the unioned segments. The oracle
    // replays publish + frozen-stats append + probe in ONE hash, so
    // the append arithmetic is correctness-gated.
    "retrieval_indexed_append" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val lake = java.nio.file.Files
        .createTempDirectory("graft-bm25-append").toString
      graft.operators.Retrieval.publishBm25Lake(
        doc.where(col("doc_id") % 10 =!= 9), lake)
      graft.operators.Retrieval.appendToBm25Lake(s, lake,
        doc.where(col("doc_id") % 10 === 9), maxSegments = 0)
      sparseTopK(graft.operators.Retrieval.readBm25Weights(s, lake))
    },
      // 95g: publish-on-90% + frozen-stats append of the held-out 10% —
      // df/n_docs/avgdl come from the BASE slice only (the published
      // snapshot), tf/dl from every doc, the inner df join drops the
      // appended docs' OOV tokens (frozen-vocabulary contract), and the
      // probe runs the standard sparse top-k over the union
      s"""WITH t AS (
         |  SELECT doc_id, unnest(str_split($NORM, ' ')) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
         |), dfq AS (
         |  SELECT token, count(*) AS df FROM tf WHERE doc_id % 10 <> 9 GROUP BY 1
         |), stats AS (
         |  SELECT (SELECT count(*) FROM documents WHERE doc_id % 10 <> 9) AS n_docs,
         |    CAST((SELECT sum(dl.dl) FROM dl WHERE dl.doc_id % 10 <> 9) AS DOUBLE)
         |      / CAST((SELECT count(*) FROM documents WHERE doc_id % 10 <> 9) AS DOUBLE) AS avgdl
         |), wts AS (
         |  SELECT tf.doc_id, tf.token,
         |    CAST(round(round(ln((CAST(stats.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
         |          / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf.tf AS DOUBLE) * 2.2)
         |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
         |          + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)), 6) * 1000000) AS BIGINT) AS w_i
         |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
         |), $SPARSE_PROBE_CTES
         |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, score_i FROM ranked
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin),
    // 121: RAG context packing — the step between retrieval and the
    // prompt: per query take the sparse ranking DEEP (top-10), then
    // keep the greedy score-ordered PREFIX whose cumulative token
    // count fits the context budget (120 tokens here). One window
    // cumsum over an already-tiny per-query list — the budget rule
    // adds NO shuffle beyond the retrieval it wraps, at any corpus
    // size. Prefix (stop-at-overflow) semantics, not skip-and-
    // continue: skipping creates an order-dependent knapsack the
    // serving tier can't replay cheaply; the prefix rule is the
    // standard deterministic packer.
    "retrieval_pack" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val weights = graft.Materialize.once(bm25WeightsOf(doc))
      val ntok = doc.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rk"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      sparseTopK(weights, k = 10).join(ntok, "doc_id")
        .withColumn("cum_tokens", sum(col("n_tokens")).over(wq))
        .where(col("cum_tokens") <= 120)
        .select(col("query_id"), col("rk"), col("doc_id"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy(col("query_id"), col("rk"))
    },
      // 121: same ranked retrieval, deep (top-10), same token counting
      // as corpus_stats, prefix-cumsum budget rule
      s"""WITH $RETRIEVAL_CTES, ntok AS (
         |  SELECT doc_id, CASE WHEN $NORM = '' THEN 0
         |    ELSE len(str_split($NORM, ' ')) END AS n_tokens
         |  FROM documents
         |), packed AS (
         |  SELECT r.query_id, r.rk, r.doc_id,
         |    CAST(nt.n_tokens AS BIGINT) AS n_tokens,
         |    CAST(sum(nt.n_tokens) OVER (PARTITION BY r.query_id ORDER BY r.rk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM ranked r JOIN ntok nt USING (doc_id) WHERE r.rk <= 10
         |)
         |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, n_tokens, cum_tokens
         |FROM packed WHERE cum_tokens <= 120 ORDER BY query_id, rk""".stripMargin),
    // 87: hybrid dense+sparse retrieval re-rank — the production RAG
    // serving shape (Elasticsearch/Vespa hybrid search): a dense
    // cosine ranking over embeddings and a sparse BM25 ranking over
    // the inverted index, fused by Reciprocal Rank Fusion
    // (score = Σ 1e9 div (60 + rank), exact BIGINT arithmetic — RRF
    // needs only the two rank columns, so the fusion is trivially
    // engine-replayable where a weighted score-sum would fight float
    // normalization). Embeddings.vec_id indexes documents.doc_id (the
    // corpus convention), so the two rankings join on ids. Scale: the
    // dense side here is the brute-force baseline (swap in ivfTopK at
    // corpus scale — same output contract); the sparse side never
    // reshuffles the index (broadcast probe); the fusion joins two
    // top-20-per-query lists — thousands of rows at ANY corpus size.
    "hybrid_rerank" -> QueryKey((s, d) =>
      hybridRrfOf(s, d).orderBy(col("query_id"), col("rk")),
      s"""WITH $HYBRID_CTES
         |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, rrf_i FROM ranked
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),
    // 142b: ranking-quality audit of the HYBRID serving path —
    // recall@5 / MRR / nDCG@5 of the fused RRF ranking against
    // pseudo-qrels = the dense EXACT top-5 (documents carry no label
    // qrels, and "how much of the exact ranking does the fusion
    // recover, and how early" is the number a hybrid deployment
    // tunes its RRF constant with). Same literal gain table and
    // exact-integer metric arithmetic as retrieval_eval.
    "retrieval_eval_hybrid" -> QueryKey((s, d) => {
      val e = embs(s, d)
      graft.operators.Knn.rankingEval(e, e.where(col("vec_id") < 10), k = 5,
        hybridRrfOf(s, d).select(col("query_id"), col("rk"),
          col("doc_id").as("vec_id")))
    },
      // 142b: the fused cascade's top-5 graded against pseudo-qrels =
      // the dense exact top-5 (dscored re-ranked); gain/ideal-DCG
      // literals interpolated from Knn.DCG_GAINS_MI like retrieval_eval
      {
        val gainCase = Knn.DCG_GAINS_MI.zipWithIndex
          .map { case (g, i) => s"WHEN ${i + 1} THEN $g" }.mkString(" ")
        val idcgCase = Knn.IDCG_PREFIX_MI.zipWithIndex
          .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
        s"""WITH $HYBRID_CTES,
           |exr AS (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS erk
           |  FROM dscored
           |), hev AS (
           |  SELECT r.query_id, r.rk,
           |    CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
           |    CASE r.rk $gainCase END AS g
           |  FROM (SELECT query_id, doc_id, rk FROM ranked WHERE rk <= 5) r
           |  LEFT JOIN (SELECT query_id, vec_id FROM exr WHERE erk <= 5) x
           |    ON x.query_id = r.query_id AND x.vec_id = r.doc_id
           |), perq AS (
           |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS hits,
           |    CAST(sum(rel * g) AS BIGINT) AS dcg_i,
           |    CAST(coalesce(min(CASE WHEN rel = 1 THEN rk END), 0) AS BIGINT) AS first_rel
           |  FROM hev GROUP BY query_id
           |), nrel AS (
           |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
           |  FROM exr WHERE erk <= 5 GROUP BY query_id
           |)
           |SELECT n.query_id, n.n_rel,
           |  coalesce(p.hits, CAST(0 AS BIGINT)) AS hits,
           |  coalesce(p.first_rel, CAST(0 AS BIGINT)) AS first_rel,
           |  coalesce(p.dcg_i, CAST(0 AS BIGINT)) AS dcg_i,
           |  CAST(CASE least(n.n_rel, 5) $idcgCase END AS BIGINT) AS idcg_i,
           |  round(CAST(coalesce(p.hits, 0) AS DOUBLE)
           |    / CAST(least(n.n_rel, 5) AS DOUBLE), 6) AS recall,
           |  CASE WHEN coalesce(p.first_rel, 0) = 0 THEN 0.0
           |       ELSE round(1.0 / CAST(p.first_rel AS DOUBLE), 6) END AS mrr,
           |  CASE WHEN (CASE least(n.n_rel, 5) $idcgCase END) <= 0 THEN 0.0
           |       ELSE round(CAST(coalesce(p.dcg_i, 0) AS DOUBLE)
           |         / CAST((CASE least(n.n_rel, 5) $idcgCase END) AS DOUBLE), 6) END AS ndcg
           |FROM nrel n LEFT JOIN perq p USING (query_id)
           |ORDER BY n.query_id""".stripMargin
      }))
}
