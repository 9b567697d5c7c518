package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryKey
import QueryCommon.{embCount, embs}
import Knn.{knnTop3, semanticClusters}

/** Query keys of the embedding family: exact / LSH / IVF /
  * IVF-PQ nearest neighbours and their recall audits, MMR, the kNN
  * graph and semantic clusters, k-means, outliers, PCA, quantization,
  * contrastive triplets and retrieval evaluation — each key with its
  * Spark query and the DuckDB SQL that replays it.
  *
  * knn_lsh (random-hyperplane signs from xxhash64) stays rows-only on
  * the oracle side, pinned by KnnSpec's recall floor instead. */
object EmbeddingQueries {

  /** embed_outliers z-score threshold (flag below mean − z·std). */
  private val OUTLIER_Z = 2.0

  /** Shared DuckDB CTEs for the IVF pipeline: embeddings as doubles,
    * the 16 deterministic centroids, and the nearest-cell assignment
    * (argmax on round(cos,6), ties to the lowest cell — mirrors
    * Knn.ivfAssign's max(struct(cos, -cell_id))). */
  /** DuckDB mirror of Knn.autoCells: max(16, ceil(sqrt(n))) — both
    * engines' sqrt/ceil are IEEE-correctly-rounded, so the derived
    * cell count agrees at every corpus size. */
  private val AUTO_CELLS_SQL: String =
    "(SELECT greatest(16, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM e)"

  private def ivfSql(cellExpr: String = AUTO_CELLS_SQL): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < $cellExpr),
       |scored AS (
       |  SELECT e.vec_id, e.v, cent.cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(list_dot_product(e.v, cent.c) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
       |      cent.cell_id) AS rn
       |  FROM e CROSS JOIN cent
       |), assigned AS (SELECT vec_id, v, cell_id FROM scored WHERE rn = 1)""".stripMargin

  /** DuckDB replay of Pq.ivfPqTopK (#119): per-block codebook
    * training unrolled (the kmeansSql pattern, keyed by block),
    * final codes, coarse probes, integer-grid ADC scoring, shortlist
    * and exact re-rank. dist² mirrors the Spark fold exactly: the
    * difference list's sequential self-dot, rounded to 6. Ends with
    * `rer` = (query_id, vec_id, cos, adc). */
  /** One definition for knn_ivfpq AND knn_ivfpq_indexed: the published
    * index must rank exactly like the in-session train-and-probe. */
  private lazy val IVFPQ_SQL: String =
    s"""WITH ${ivfPqSql(8, 16, 2, 4, 5, 4)}
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id, cos, adc FROM (
       |  SELECT query_id, vec_id, cos, adc,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id) AS rk
       |  FROM rer
       |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private def ivfPqSql(m: Int, kCodes: Int, iters: Int, nProbe: Int,
      k: Int, rerank: Int): String = {
    def d2(a: String, b: String): String = {
      val ld = s"list_transform(range(1, len($a) + 1), " +
        s"i -> $a[CAST(i AS INT)] - $b[CAST(i AS INT)])"
      s"round(list_dot_product($ld, $ld), 6)"
    }
    def passign(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT vec_id, block, sub, cell_id FROM (
         |    SELECT b.vec_id, b.block, b.sub, $cents.cell_id,
         |      row_number() OVER (PARTITION BY b.vec_id, b.block ORDER BY
         |        ${d2("b.sub", s"$cents.c")}, $cents.cell_id) AS rn
         |    FROM blk b JOIN $cents ON $cents.block = b.block
         |  ) WHERE rn = 1
         |)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""${ivfSql()},
         |blk AS (
         |  SELECT e.vec_id, CAST(t.b AS INT) AS block,
         |    list_slice(e.v, CAST(t.b AS INT) * (len(e.v) // $m) + 1,
         |      (CAST(t.b AS INT) + 1) * (len(e.v) // $m)) AS sub
         |  FROM e, unnest(range(0, $m)) AS t(b)
         |),
         |pc0 AS (SELECT block, vec_id AS cell_id, sub AS c FROM blk
         |        WHERE vec_id < $kCodes)""".stripMargin)
    for (r <- 1 to iters) {
      sb.append(",\n").append(passign(s"pa$r", s"pc${r - 1}"))
      sb.append(s""",
         |pq$r AS (
         |  SELECT block, cell_id, i,
         |    CAST(floor(sub[CAST(i AS INT) + 1] * 1000000.0 + 0.5) AS BIGINT) AS qc
         |  FROM pa$r, unnest(range(0, len(sub))) AS t(i)
         |), ps$r AS (
         |  SELECT block, cell_id, i, sum(qc) AS s, count(*) AS n
         |  FROM pq$r GROUP BY 1, 2, 3
         |), pc$r AS (
         |  SELECT block, cell_id,
         |    list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS c
         |  FROM ps$r GROUP BY 1, 2
         |)""".stripMargin)
    }
    sb.append(",\n").append(passign("paf", s"pc$iters"))
    sb.append(s""",
       |codes AS (SELECT vec_id, block, cell_id AS code FROM paf),
       |pprobes AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT qe.vec_id AS query_id, cent.cell_id,
       |      row_number() OVER (PARTITION BY qe.vec_id ORDER BY
       |        round(${cosSql("qe.v", "cent.c")}, 6) DESC, cent.cell_id) AS rn
       |    FROM e qe CROSS JOIN cent WHERE qe.vec_id < 10
       |  ) WHERE rn <= $nProbe
       |),
       |adct AS (
       |  SELECT q.vec_id AS query_id, q.block, pcF.cell_id AS code,
       |    CAST(round(round(list_dot_product(q.sub, pcF.c), 6) * 1000000) AS BIGINT) AS pdot_i
       |  FROM blk q JOIN pc$iters pcF ON pcF.block = q.block WHERE q.vec_id < 10
       |),
       |pcand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM assigned a JOIN pprobes p ON a.cell_id = p.cell_id
       |  WHERE a.vec_id <> p.query_id
       |),
       |pscored AS (
       |  SELECT c.query_id, c.vec_id, sum(adct.pdot_i) AS adc_i
       |  FROM pcand c JOIN codes k2 ON k2.vec_id = c.vec_id
       |  JOIN adct ON adct.query_id = c.query_id AND adct.block = k2.block
       |            AND adct.code = k2.code
       |  GROUP BY 1, 2
       |),
       |short AS (
       |  SELECT query_id, vec_id, adc_i FROM (
       |    SELECT query_id, vec_id, adc_i,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_i DESC, vec_id) AS srk
       |    FROM pscored
       |  ) WHERE srk <= ${k * rerank}
       |),
       |rer AS (
       |  SELECT s.query_id, s.vec_id,
       |    round(${cosSql("ev.v", "qv.v")}, 6) AS cos,
       |    round(CAST(s.adc_i AS DOUBLE) / 1000000.0, 6) AS adc
       |  FROM short s JOIN e ev ON ev.vec_id = s.vec_id
       |              JOIN e qv ON qv.vec_id = s.query_id
       |)""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of Knn.mmrRerank (#122): top-`pool` candidates per
    * query by rounded cosine, pairwise candidate sims on the 1e-6
    * BIGINT grid, then `k` unrolled greedy MMR selection steps
    * (mmr10 = 7·rel − 3·maxSim-to-selected, ties to the lowest id). */
  private def mmrSql(k: Int, pool: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qc AS (
         |  SELECT query_id, vec_id, rel_i FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id,
         |      CAST(round(round(${cosSql("c.v", "q.v")}, 6) * 1000000) AS BIGINT) AS rel_i,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(${cosSql("c.v", "q.v")}, 6) DESC, c.vec_id) AS rn
         |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10
         |  ) WHERE rn <= $pool
         |),
         |mp AS (
         |  SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
         |    CAST(round(round(${cosSql("ea.v", "eb.v")}, 6) * 1000000) AS BIGINT) AS sim_i
         |  FROM qc a JOIN qc b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |),
         |s1 AS (
         |  SELECT query_id, vec_id, rel_i * 7 AS mmr10_i, 1 AS rk FROM (
         |    SELECT query_id, vec_id, rel_i,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rel_i DESC, vec_id) AS rn
         |    FROM qc
         |  ) WHERE rn = 1
         |),
         |sel1 AS (SELECT query_id, vec_id FROM s1)""".stripMargin)
    for (t <- 2 to k) {
      sb.append(s""",
         |ms$t AS (
         |  SELECT m.query_id, m.ca, max(m.sim_i) AS max_sim_i
         |  FROM mp m JOIN sel${t - 1} s
         |    ON s.query_id = m.query_id AND s.vec_id = m.cb
         |  GROUP BY 1, 2
         |),
         |s$t AS (
         |  SELECT query_id, vec_id, mmr10_i, $t AS rk FROM (
         |    SELECT c.query_id, c.vec_id,
         |      c.rel_i * 7 - 3 * coalesce(ms.max_sim_i, 0) AS mmr10_i,
         |      row_number() OVER (PARTITION BY c.query_id ORDER BY
         |        c.rel_i * 7 - 3 * coalesce(ms.max_sim_i, 0) DESC, c.vec_id) AS rn
         |    FROM qc c LEFT JOIN ms$t ms
         |      ON ms.query_id = c.query_id AND ms.ca = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
         |      WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)
         |  ) WHERE rn = 1
         |),
         |sel$t AS (SELECT query_id, vec_id FROM sel${t - 1}
         |          UNION ALL SELECT query_id, vec_id FROM s$t)""".stripMargin)
    }
    sb.append(s""",
       |mmr_all AS (${(1 to k).map(t => s"SELECT * FROM s$t").mkString("\n  UNION ALL ")})""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of Pca.project: exact integer-grid mean, v0 = e0,
    * `iters` unrolled power-iteration rounds (per-row y = x·v, 1e-6
    * long-grid per-dimension sums, mean-center by μ·(μ·v), normalize,
    * re-round to 6), then the centered projection. */
  private def pcaSql(iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
         |muq AS (
         |  SELECT i, sum(CAST(floor(x[CAST(i AS INT) + 1] * 1000000.0 + 0.5) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM e, unnest(range(0, $dim)) AS t(i) GROUP BY i
         |), mu AS (
         |  SELECT list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS mu
         |  FROM muq
         |), v0 AS (
         |  SELECT list_transform(range(0, $dim),
         |    i -> CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END) AS v
         |)""".stripMargin)
    for (r <- 1 to iters) {
      sb.append(s""",
         |y$r AS (
         |  SELECT e.vec_id, e.x, list_dot_product(e.x, p.v) AS y
         |  FROM e CROSS JOIN v${r - 1} p
         |), q$r AS (
         |  SELECT i, sum(CAST(floor(x[CAST(i AS INT) + 1] * y * 1000000.0 + 0.5) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM y$r, unnest(range(0, $dim)) AS t(i) GROUP BY i
         |), xs$r AS (
         |  SELECT list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS xs
         |  FROM q$r
         |), w$r AS (
         |  SELECT list_transform(range(0, $dim), i ->
         |    xs.xs[CAST(i AS INT) + 1]
         |      - mu.mu[CAST(i AS INT) + 1] * list_dot_product(mu.mu, p.v)) AS w
         |  FROM xs$r xs CROSS JOIN mu CROSS JOIN v${r - 1} p
         |), v$r AS (
         |  SELECT list_transform(w, x -> round(x / sqrt(list_dot_product(w, w)), 6)) AS v
         |  FROM w$r
         |)""".stripMargin)
    }
    sb.toString
  }

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** DuckDB replay of Knn.kmeansAssignments: c0 = first k vectors as
    * doubles; each round r assigns by rounded-cosine argmax (ties to
    * the lowest cell) then rebuilds centroids from exact 1e-6-grid
    * long sums — the same order-independent arithmetic the Spark
    * operator uses, so the trained centroids match bit-for-bit.
    * Yields CTEs up to `afin` = (vec_id, cell_id, cos) vs c<iters>. */
  private def kmeansSql(k: String, iters: Int): String = {
    def assignSql(name: String, cents: String, withCos: Boolean): String = {
      val cosCol = if (withCos) s", round(${cosSql("e.v", s"$cents.c")}, 6) AS cos" else ""
      val outCos = if (withCos) ", cos" else ", v"
      val keepV = if (withCos) "" else ", e.v"
      s"""$name AS (
         |  SELECT vec_id, cell_id$outCos FROM (
         |    SELECT e.vec_id, $cents.cell_id$keepV$cosCol,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(${cosSql("e.v", s"$cents.c")}, 6) DESC, $cents.cell_id) AS rn
         |    FROM e CROSS JOIN $cents
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    val sb = new StringBuilder
    sb.append(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < ($k))""".stripMargin)
    for (r <- 1 to iters) {
      sb.append(",\n").append(assignSql(s"a$r", s"c${r - 1}", withCos = false))
      sb.append(s""",
         |q$r AS (
         |  SELECT cell_id, i,
         |    CAST(floor(v[CAST(i AS INT) + 1] * 1000000.0 + 0.5) AS BIGINT) AS qc
         |  FROM a$r, unnest(range(0, len(v))) AS t(i)
         |), s$r AS (
         |  SELECT cell_id, i, sum(qc) AS s, count(*) AS n FROM q$r GROUP BY 1, 2
         |), c$r AS (
         |  SELECT cell_id,
         |    list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS c
         |  FROM s$r GROUP BY cell_id
         |)""".stripMargin)
    }
    sb.append(",\n").append(assignSql("afin", s"c$iters", withCos = true))
    sb.toString
  }

  /** probes → cand → ranked over [[ivfSql]]'s e/cent/assigned — the
    * knn_ivf probe ranking (nProbe = 4, queries = vec_id < 10), shared
    * by knn_ivf and the knn_recall audit so the ranking lives once. */
  private lazy val IVF_RANKED_SQL =
    s"""probes AS (
       |  SELECT query_id, q, cell_id FROM (
       |    SELECT qe.vec_id AS query_id, qe.v AS q, cent.cell_id,
       |      row_number() OVER (PARTITION BY qe.vec_id ORDER BY
       |        round(${cosSql("qe.v", "cent.c")}, 6) DESC, cent.cell_id) AS rn
       |    FROM e qe CROSS JOIN cent WHERE qe.vec_id < 10
       |  ) WHERE rn <= 4
       |), cand AS (
       |  SELECT p.query_id, a.vec_id, round(${cosSql("a.v", "p.q")}, 6) AS cos
       |  FROM assigned a JOIN probes p ON a.cell_id = p.cell_id
       |  WHERE a.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM cand
       |)""".stripMargin

  /** The sign-LSH replay (16 sha-derived hyperplanes, 4-bit bands,
    * candidate join, exact-cosine re-rank) as shared CTEs: `e` = the
    * vector table, `ranked` = the LSH ranking. Shared by the knn_lsh
    * serving oracle and the knn_recall_lsh audit so the audited
    * ranking cannot drift from the served one. */
  private lazy val LSH_CTES: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_transform(range(0, len(v)), i ->
       |      v[CAST(i AS INT) + 1] *
       |      ((CAST('0x' || substr(sha256('hyperplane|' || CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 16) AS UBIGINT)
       |        % 1000000) / 1000000.0 - 0.5)
       |    ), (a, x) -> a + x) AS proj
       |  FROM e CROSS JOIN range(0, 16) r(p)
       |), sigs AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN proj > 0
       |    THEN CAST(1 AS UBIGINT) << CAST(p AS INT) ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sig
       |  FROM proj GROUP BY vec_id
       |), bands AS (
       |  SELECT vec_id, b, (sig >> CAST(b * 4 AS INT)) & 15 AS bucket
       |  FROM sigs CROSS JOIN range(0, 4) rb(b)
       |), cand AS (
       |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
       |  FROM bands qb JOIN bands cb ON qb.b = cb.b AND qb.bucket = cb.bucket
       |  WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id
       |), ranked AS (
       |  SELECT c.query_id, c.vec_id,
       |    round(${cosSql("ce.v", "qe.v")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY c.query_id ORDER BY
       |      round(${cosSql("ce.v", "qe.v")}, 6) DESC, c.vec_id) AS rk
       |  FROM cand c
       |  JOIN e ce ON ce.vec_id = c.vec_id
       |  JOIN e qe ON qe.vec_id = c.query_id
       |)""".stripMargin

  /** The exact cosine ranking (`erk`) of the 10 query vectors
    * (vec_id < 10) over the corpus CTE `e` (vec_id, v) — the truth
    * side every ANN recall oracle joins against. */
  private lazy val EXACT_RANK_SQL: String =
    s"""  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS erk
       |  FROM (
       |    SELECT qe.vec_id AS query_id, ce.vec_id,
       |      round(${cosSql("ce.v", "qe.v")}, 6) AS cos
       |    FROM e ce CROSS JOIN e qe
       |    WHERE qe.vec_id < 10 AND ce.vec_id <> qe.vec_id
       |  )""".stripMargin

  val keys: Seq[(String, QueryKey)] = Seq(
    // 29: brute-force cosine top-k, 10 broadcast query vectors
    "knn_cosine" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.cosineTopK(e, e.where(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
    },
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_emb) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored
        |)
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id, cos FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),
    // 126: SEMANTIC benchmark decontamination — the embedding-space
    // complement of the n-gram `decontaminate` key: paraphrased or
    // re-worded eval contamination carries no 8-gram overlap but high
    // embedding cosine, so modern decontamination sweeps run BOTH.
    // Every corpus vector scores its max cosine against the benchmark
    // embedding set (vec_id % 20 == 7 — the `decontaminate` split
    // convention) and is flagged at >= 0.35 (this corpus's near-dup
    // band, the dedup_embed threshold). Scale shape: benchmark suites
    // are small — broadcast — and the argmax combines map-side, so
    // the corpus never shuffles more than (vec_id, cos) partials; a
    // corpus-scale benchmark swaps in the IVF probe (knn_ivf's
    // contract) exactly like knn_cosine.
    "decon_embed" -> QueryKey((s, d) => {
      val e = embs(s, d)
      val bench = e.where(col("vec_id") % 20 === 7)
        .select(col("embedding").as("b_emb"))
      e.where(col("vec_id") % 20 =!= 7)
        .crossJoin(broadcast(bench))
        .select(col("vec_id"),
          round(Knn.cosine(col("embedding"), col("b_emb")), 6).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max(col("cos")).as("max_cos"))
        .select(col("vec_id"), col("max_cos"),
          (col("max_cos") >= 0.35).as("contaminated"))
        .orderBy(col("vec_id"))
    },
      // 126: same cosine replay, max per corpus vector vs the benchmark set
      """WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS b_emb
        |           FROM embeddings WHERE vec_id % 20 = 7),
        |scored AS (
        |  SELECT e.vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), b.b_emb) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(b.b_emb, b.b_emb))), 6) AS cos
        |  FROM embeddings e, b WHERE e.vec_id % 20 <> 7
        |)
        |SELECT vec_id, max(cos) AS max_cos, max(cos) >= 0.35 AS contaminated
        |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    // 126b: decon_embed's corpus-scale swap-in made concrete — the
    // benchmark set indexed into IVF cells, each corpus vector probing
    // its 4 nearest. Same output shape and threshold as decon_embed;
    // max_cos is the probed maximum (DeconIvfSpec pins flag agreement
    // with the broadcast variant and HotKeyStressSpec bounds the
    // probed-pair count).
    "decon_embed_ivf" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.deconEmbedIvf(e.where(col("vec_id") % 20 =!= 7),
          e.where(col("vec_id") % 20 === 7), threshold = 0.35)
        .orderBy(col("vec_id"))
    },
      // 126b: full IVF replay over the BENCHMARK side — deterministic
      // centroid pick (first nc bench vectors by id — ORDER BY/LIMIT,
      // not a dense-id filter: the %20 split is sparse), benchmark
      // assignment, 4-cell probes, probed max. Probe order replays the
      // Spark side's (−qcos, cell_id) integer-grid sort as rounded
      // cosine DESC, cell_id ASC.
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 20 = 7),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id % 20 <> 7),
        |cent AS (SELECT vec_id AS cell_id, v AS cv FROM b ORDER BY vec_id
        |         LIMIT (SELECT GREATEST(16, CAST(ceil(sqrt(count(*))) AS INT)) FROM b)),
        |bassign AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT b.vec_id, b.v, cent.cell_id,
        |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
        |        round(list_dot_product(b.v, cent.cv) /
        |          (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
        |        cent.cell_id) AS rn
        |    FROM b CROSS JOIN cent
        |  ) WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT c.vec_id, c.v, cent.cell_id,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        round(list_dot_product(c.v, cent.cv) /
        |          (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
        |        cent.cell_id) AS rn
        |    FROM c CROSS JOIN cent
        |  ) WHERE rn <= 4
        |), scored AS (
        |  SELECT p.vec_id,
        |    CASE WHEN a.vec_id IS NULL THEN -1.0
        |         ELSE round(list_dot_product(p.v, a.v) /
        |           (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(a.v, a.v))), 6)
        |    END AS cos
        |  FROM probes p LEFT JOIN bassign a ON p.cell_id = a.cell_id
        |)
        |SELECT vec_id, max(cos) AS max_cos, max(cos) >= 0.35 AS contaminated
        |FROM scored GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    // 103: hard-negative mining — per query vector, the 5 most-similar
    // vectors with a DIFFERENT label (contrastive-training negatives;
    // same-label hits are false negatives and never surface). Broadcast
    // probe like knn_cosine; ivfTopK is the corpus-scale swap-in.
    "knn_hardneg" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.hardNegatives(e, e.where(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rk"), col("vec_id"), col("neg_label"), col("cos"))
    },
      // 103: knn_cosine's replay restricted to different-label candidates
      """WITH q AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS q_label,
        |             CAST(embedding AS DOUBLE[]) AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, CAST(e.label AS BIGINT) AS neg_label,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_emb) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cos
        |  FROM embeddings e, q WHERE CAST(e.label AS BIGINT) <> q.q_label
        |), ranked AS (
        |  SELECT query_id, vec_id, neg_label, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored
        |)
        |SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id, neg_label, cos FROM ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),
    // 104: nearest-class-centroid (Rocchio) auto-labeling + agreement
    // audit — exact integer-grid label centroids, broadcast argmax,
    // fully oracle-replayable (the label-grouped cousin of embed_kmeans)
    "embed_classify" -> QueryKey((s, d) =>
      Knn.classifyByCentroid(embs(s, d)).orderBy(col("vec_id")),
      // 104: per-label exact 1e-6-grid centroid means + rounded-cosine
      // argmax with ties to the lowest label — the kmeansSql update step
      // grouped by label instead of trained cell
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings
         |), q AS (
         |  SELECT label AS cell_id, i,
         |    CAST(floor(v[CAST(i AS INT) + 1] * 1000000.0 + 0.5) AS BIGINT) AS qc
         |  FROM e, unnest(range(0, len(v))) AS t(i)
         |), s AS (
         |  SELECT cell_id, i, sum(qc) AS s, count(*) AS n FROM q GROUP BY 1, 2
         |), c AS (
         |  SELECT cell_id,
         |    list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS c
         |  FROM s GROUP BY cell_id
         |), a AS (
         |  SELECT vec_id, label, cell_id AS pred_label, cos FROM (
         |    SELECT e.vec_id, e.label, c.cell_id,
         |      round(${cosSql("e.v", "c.c")}, 6) AS cos,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(${cosSql("e.v", "c.c")}, 6) DESC, c.cell_id) AS rn
         |    FROM e CROSS JOIN c
         |  ) WHERE rn = 1
         |)
         |SELECT vec_id, label, pred_label, cos, label = pred_label AS agree
         |FROM a ORDER BY vec_id""".stripMargin),
    // 30: LSH-bucketed ANN — sha-derived hyperplanes, so the oracle
    // replays signature/banding/candidates/re-rank exactly. bandBits
    // pinned to 4 (what autoBandBits picks at sf0.01–0.1 corpus sizes,
    // and what the oracle SQL replays) so the plan carries NO hidden
    // corpus.count() job — at scale, pass the known corpus size instead
    "knn_lsh" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.lshTopK(e, e.where(col("vec_id") < 10), k = 5, bandBits = 4)
        .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
    },
      // 30: full sign-LSH replay. Plane weight (p,i) =
      // unsigned(sha64("hyperplane|p|i")) % 1e6 / 1e6 - 0.5; projection is
      // the same sequential fold the kernel runs (list_reduce), bands are
      // 4 × 4 bits (Knn.autoBandBits at this corpus size), exact cosine
      // re-ranks candidates.
      s"""WITH $LSH_CTES
         |SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id, cos FROM ranked
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),
    // 37: IVF ANN top-k — deterministic coarse cells + nProbe probing;
    // the whole pipeline (centroids, assignment, probes, re-rank) is
    // hashing-free, and nCells = Knn.autoCells(n) = max(16, ceil(sqrt(n)))
    // is derived from the corpus size (the one count() here is the
    // price of the dial at unknown n — at scale pass corpusSize), so
    // the DuckDB oracle replays the whole pipeline, cell count included
    "knn_ivf" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.ivfTopK(e, e.where(col("vec_id") < 10), k = 5, nProbe = 4,
        corpusSize = embCount(s, d))
        .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
    },
      // 37: IVF ANN replay — probe 4 nearest cells of each query vector,
      // exact re-rank, top-5.
      s"""WITH ${ivfSql()}, $IVF_RANKED_SQL
         |SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id, cos FROM ranked
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin),
    // 148: ANN recall audit — recall@{1,5,10} of the IVF ranking vs
    // the exact ranking per query: the index-quality number an
    // operator tunes nProbe/nCells with (the FAISS recall-curve
    // methodology). Both rankings run by construction (the
    // dedup_recall convention); post-top-k work is (queries × k)-sized.
    "knn_recall" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.annRecall(e, e.where(col("vec_id") < 10), ks = Seq(1, 5, 10),
        nProbe = 4, corpusSize = embCount(s, d))
    },
      // 148: the IVF ranking joined against the exact ranking at each
      // k — hits are exact integers, recall one rounded division
      s"""WITH ${ivfSql()}, $IVF_RANKED_SQL,
         |exr AS (
         |$EXACT_RANK_SQL
         |), ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k),
         |hits AS (
         |  SELECT r.query_id, ks.k, CAST(count(*) AS BIGINT) AS hits
         |  FROM ranked r JOIN exr x ON r.query_id = x.query_id AND r.vec_id = x.vec_id
         |  CROSS JOIN ks
         |  WHERE r.rk <= ks.k AND x.erk <= ks.k
         |  GROUP BY r.query_id, ks.k
         |)
         |SELECT b.query_id, b.k, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
         |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(b.k AS DOUBLE), 6) AS recall
         |FROM (SELECT qe.vec_id AS query_id, ks.k
         |      FROM e qe CROSS JOIN ks WHERE qe.vec_id < 10) b
         |LEFT JOIN hits h ON b.query_id = h.query_id AND b.k = h.k
         |ORDER BY b.query_id, b.k""".stripMargin),
    // 148b: the same audit for the QUANTIZED index — recall@{1,5} of
    // the IVF-PQ ranking vs exact: the recall gap against knn_recall
    // IS the quantization loss (the number PQ block/codebook tuning
    // watches). Shares rankingRecall's core and the exact side.
    "knn_recall_pq" -> QueryKey((s, d) => {
      val e = embs(s, d)
      val q = e.where(col("vec_id") < 10)
      Knn.rankingRecall(e, q, ks = Seq(1, 5),
        Pq.ivfPqTopK(e, q, k = 5, corpusSize = embCount(s, d)))
    },
      // 148b: the IVF-PQ replay's final ranking joined against the exact
      // ranking at each cutoff (the knn_recall shape over rer; CTE names
      // krq_-prefixed to stay clear of the PQ cascade's)
      s"""WITH ${ivfPqSql(8, 16, 2, 4, 5, 4)},
         |krq_apx AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS rk
         |  FROM rer
         |), krq_exr AS (
         |$EXACT_RANK_SQL
         |), krq_ks AS (SELECT CAST(unnest([1, 5]) AS BIGINT) AS k),
         |krq_hits AS (
         |  SELECT a.query_id, krq_ks.k, CAST(count(*) AS BIGINT) AS hits
         |  FROM krq_apx a JOIN krq_exr x
         |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
         |  CROSS JOIN krq_ks
         |  WHERE a.rk <= krq_ks.k AND x.erk <= krq_ks.k
         |  GROUP BY a.query_id, krq_ks.k
         |)
         |SELECT b.query_id, b.k, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
         |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(b.k AS DOUBLE), 6) AS recall
         |FROM (SELECT qe.vec_id AS query_id, krq_ks.k
         |      FROM e qe CROSS JOIN krq_ks WHERE qe.vec_id < 10) b
         |LEFT JOIN krq_hits h ON b.query_id = h.query_id AND b.k = h.k
         |ORDER BY b.query_id, b.k""".stripMargin),
    // 148c: the same audit for the sign-LSH index — recall@{1,5} of
    // the banded-LSH ranking vs exact, completing the measured
    // recall family (IVF #148, PQ #148b, LSH here): every approximate
    // ANN path now ships with its index-quality number. Shares
    // rankingRecall's core and the exact side.
    "knn_recall_lsh" -> QueryKey((s, d) => {
      val e = embs(s, d)
      val q = e.where(col("vec_id") < 10)
      Knn.rankingRecall(e, q, ks = Seq(1, 5),
        Knn.lshTopK(e, q, k = 5, bandBits = 4)
          .select(col("query_id"), col("rk"), col("vec_id")))
    },
      // 148c: the LSH ranking joined against the exact ranking at each
      // cutoff (the knn_recall shape; krl_-prefixed CTEs stay clear of
      // the LSH cascade's)
      s"""WITH $LSH_CTES,
         |krl_exr AS (
         |$EXACT_RANK_SQL
         |), krl_ks AS (SELECT CAST(unnest([1, 5]) AS BIGINT) AS k),
         |krl_hits AS (
         |  SELECT r.query_id, krl_ks.k, CAST(count(*) AS BIGINT) AS hits
         |  FROM ranked r JOIN krl_exr x
         |    ON r.query_id = x.query_id AND r.vec_id = x.vec_id
         |  CROSS JOIN krl_ks
         |  WHERE r.rk <= krl_ks.k AND x.erk <= krl_ks.k
         |  GROUP BY r.query_id, krl_ks.k
         |)
         |SELECT b.query_id, b.k, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
         |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(b.k AS DOUBLE), 6) AS recall
         |FROM (SELECT qe.vec_id AS query_id, krl_ks.k
         |      FROM e qe CROSS JOIN krl_ks WHERE qe.vec_id < 10) b
         |LEFT JOIN krl_hits h ON b.query_id = h.query_id AND b.k = h.k
         |ORDER BY b.query_id, b.k""".stripMargin),
    // 148d: truncated-dimension (Matryoshka) recall audit — recall of
    // prefix-16-dim cosine ranking vs the full 64-dim exact ranking:
    // where #148/#148b/#148c price an INDEX structure, this prices a
    // REPRESENTATION cut (4× fewer vector bytes through every dense
    // stage). Shares rankingRecall's core and output shape.
    "knn_recall_trunc" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.truncRecall(e, e.where(col("vec_id") < 10),
        ks = Seq(1, 5, 10), dims = 16)
    },
      // 148d: the truncated-dim audit — approximate side ranks by cosine
      // over the first 16 components (list slice), exact side is the
      // full-dim ranking; same hits/base shape as knn_recall.
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |krt_apx AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS ark
         |  FROM (
         |    SELECT qe.vec_id AS query_id, ce.vec_id,
         |      round(${cosSql("ce.v[1:16]", "qe.v[1:16]")}, 6) AS cos
         |    FROM e ce CROSS JOIN e qe
         |    WHERE qe.vec_id < 10 AND ce.vec_id <> qe.vec_id
         |  )
         |), krt_exr AS (
         |$EXACT_RANK_SQL
         |), krt_ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k),
         |krt_hits AS (
         |  SELECT a.query_id, krt_ks.k, CAST(count(*) AS BIGINT) AS hits
         |  FROM krt_apx a JOIN krt_exr x
         |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
         |  CROSS JOIN krt_ks
         |  WHERE a.ark <= krt_ks.k AND x.erk <= krt_ks.k
         |  GROUP BY a.query_id, krt_ks.k
         |)
         |SELECT b.query_id, b.k, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
         |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(b.k AS DOUBLE), 6) AS recall
         |FROM (SELECT qe.vec_id AS query_id, krt_ks.k
         |      FROM e qe CROSS JOIN krt_ks WHERE qe.vec_id < 10) b
         |LEFT JOIN krt_hits h ON b.query_id = h.query_id AND b.k = h.k
         |ORDER BY b.query_id, b.k""".stripMargin),
    // 122: MMR diversity re-rank — greedy λ=0.7 maximal-marginal-
    // relevance over the per-query top-10 ANN pool, exact scaled-
    // BIGINT objective (7·rel − 3·maxSim on the 1e-6 grid), fixed
    // unrolled selection so the oracle replays the whole greedy
    // trajectory. Everything after the ANN stage is pool-bounded.
    "knn_mmr" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.mmrRerank(e, e.where(col("vec_id") < 10), k = 5, pool = 10)
        .select(col("query_id"), col("rk"), col("vec_id"), col("mmr10_i"))
    },
      // 122: full greedy-MMR replay — unrolled selection steps
      s"""WITH ${mmrSql(5, 10)}
         |SELECT query_id, CAST(rk AS INT) AS rk, vec_id, mmr10_i
         |FROM mmr_all ORDER BY query_id, rk""".stripMargin),
    // 119: IVF-PQ quantized ANN — product-quantization codebooks
    // (8 blocks × 16 codes, 2 Lloyd rounds on the exact integer grid)
    // over the auto-cell IVF, int8 codes in the index, asymmetric-
    // distance shortlist (1e-6 BIGINT grid, order-free sums), exact
    // re-rank of 4·k. The full training loop is deterministic, so the
    // oracle replays codebooks, codes, ADC and ranking end-to-end.
    "knn_ivfpq" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Pq.ivfPqTopK(e, e.where(col("vec_id") < 10), k = 5,
        corpusSize = embCount(s, d))
        .select(col("query_id"), col("rk"), col("vec_id"), col("cos"), col("adc"))
    },
      // 119: full IVF-PQ replay — codebook training, codes, coarse
      // probes, integer-grid ADC shortlist, exact re-rank
      IVFPQ_SQL),
    // 119b: the SAME ranking over the index PUBLISHED once through the
    // versioned lake — coarse centroids, PQ codebooks, int8 codes and
    // the cell-partitioned vectors train at publish time and commit as
    // ONE atomic group; the probe reads the published tables (query
    // vectors too — a serving tier reads only its index) and pays
    // query-side work only. Shares knn_ivfpq's oracle verbatim: the
    // lake round-trip is invisible to the ranking, which is the
    // "train once, probe many" claim made checkable.
    "knn_ivfpq_indexed" -> QueryKey((s, d) => {
      val lake = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-lake").toString
      Pq.publishIvfPqLake(embs(s, d), lake, corpusSize = embCount(s, d))
      // the 10-row query list feeds the coarse probes AND the ADC
      // lookup table: materialize once so the published vectors table
      // is not scanned twice for it (PlanSpec's ≤6-scan budget)
      val queries = graft.Materialize.once(s.read.format("graftlake")
        .option("table", "vectors").load(lake)
        .where(col("vec_id") < 10).select(col("vec_id"), col("embedding")))
      Pq.ivfPqTopKIndexed(s, lake, queries, k = 5)
        .select(col("query_id"), col("rk"), col("vec_id"), col("cos"), col("adc"))
    },
      // 119b: the published-index probe is oracle-IDENTICAL — the lake
      // round-trip (train once at publish, probe from the snapshot) must
      // be invisible to the ranking
      IVFPQ_SQL),
    // 36: embedding-cosine near-dup pairs, IVF flavor (same-cell
    // candidates + exact verify — oracle-replayable at the auto cell
    // count; the sign-LSH variant Knn.embeddingPairs stays spec-pinned
    // in KnnSpec)
    "dedup_embed" -> QueryKey((s, d) =>
      Knn.ivfPairs(embs(s, d), threshold = 0.35, corpusSize = embCount(s, d))
        .orderBy(col("vec_a"), col("vec_b")),
      // 36: IVF near-dup replay — same-cell pairs, exact cosine verify.
      s"""WITH ${ivfSql()}
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${cosSql("a.v", "b.v")}, 6) AS cos
         |FROM assigned a JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin),
    // 100: k-NN graph over ALL embeddings (each vector's top-3
    // same-cell neighbors by rounded cosine, ties to the lower id) —
    // the all-vertices complement of knn_ivf's 10-query probe and the
    // input every kNN-graph method (semantic clustering, label prop,
    // graph-based dedup) starts from. The IVF cell join bounds pair
    // work to n²/nCells (nCells ≈ √n at scale); the assignment is
    // materialized once so the self-join can't re-run it per side.
    // Isolated vectors (alone in their cell) have no edges, like MOSS
    // singletons — documented, the oracle agrees.
    "graph_knn" -> QueryKey((s, d) =>
      knnTop3(s, d).orderBy(col("vec_id"), col("rk")),
      // 100: same IVF assignment CTEs as dedup_embed, per-vector ranked
      // same-cell neighbors
      s"""WITH ${ivfSql()},
         |p AS (
         |  SELECT a.vec_id, b.vec_id AS nb_id,
         |    round(${cosSql("a.v", "b.v")}, 6) AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT vec_id, nb_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nb_id) AS rk
         |  FROM p
         |)
         |SELECT vec_id, CAST(rk AS INT) AS rk, nb_id, cos
         |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin),
    // 102: semantic clustering = connected components over the MUTUAL
    // #100 edges (a in b's top-3 AND b in a's top-3 — the standard
    // symmetrization that keeps asymmetric hub attachments from
    // chaining unrelated regions together). Rides the same
    // checkpointed min-label propagation as dedup_cluster; every
    // vector appears (singletons label themselves). The oracle replays
    // the closure with a recursive CTE.
    "graph_clusters" -> QueryKey((s, d) => semanticClusters(s, d),
      // 102: same mutual-top-3 symmetrization, min-label components via
      // the recursive closure (the dedup_cluster pattern), singletons
      // self-labeled through the left join
      s"""WITH RECURSIVE ${ivfSql()},
         |p AS (
         |  SELECT a.vec_id, b.vec_id AS nb_id,
         |    round(${cosSql("a.v", "b.v")}, 6) AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
         |), r AS (
         |  SELECT vec_id, nb_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nb_id) AS rk
         |  FROM p
         |), e0 AS (
         |  SELECT vec_id AS doc_a, nb_id AS doc_b FROM r WHERE rk <= 3
         |), mut AS (
         |  SELECT a.doc_a, a.doc_b FROM e0 a
         |  JOIN e0 b ON a.doc_a = b.doc_b AND a.doc_b = b.doc_a
         |  WHERE a.doc_a < a.doc_b
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mut
         |  UNION ALL SELECT doc_b, doc_a FROM mut
         |), reach AS (
         |  SELECT src AS id, src AS lab FROM edges
         |  UNION
         |  SELECT eg.src, rc.lab FROM edges eg JOIN reach rc ON rc.id = eg.dst
         |), clu AS (
         |  SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id
         |)
         |SELECT allv.vec_id, coalesce(clu.cluster_id, allv.vec_id) AS cluster_id
         |FROM (SELECT vec_id FROM embeddings) allv LEFT JOIN clu USING (vec_id)
         |ORDER BY vec_id""".stripMargin),
    // 58: deterministic Lloyd k-means — trained coarse quantizer;
    // exact-integer centroid means make every iteration replayable,
    // so the oracle re-runs the full training loop
    "embed_kmeans" -> QueryKey((s, d) =>
      Knn.kmeansAssignments(embs(s, d), k = 8, iters = 2)
        .select(col("vec_id"), col("cell_id"), col("cos"))
        .orderBy(col("vec_id")),
      // 58: full k-means training replay (2 unrolled iterations)
      s"""WITH ${kmeansSql("8", 2)}
         |SELECT vec_id, cell_id, cos FROM afin ORDER BY vec_id""".stripMargin),
    // 110b: embedding-space outlier pruning — flag vectors more than
    // OUTLIER_Z cluster-stddevs below their own cell's mean assignment
    // cosine (OCR garbage / wrong-modality / encoder-failure tail).
    // Same embed_kmeans trainer geometry (k=8, iters=2) so the oracle
    // splices the shared kmeans CTE; mean/std run on the 1e-6-grid
    // quantized cosine as exact integer sums (order-free), and both
    // engines evaluate the identical threshold expression. One k-row
    // integer aggregate broadcast back — no second corpus shuffle.
    "embed_outliers" -> QueryKey((s, d) =>
      Knn.outliers(embs(s, d), k = 8, iters = 2, zThresh = OUTLIER_Z)
        .orderBy(col("vec_id")),
      // 110b: same trained assignment (shared kmeans CTE), per-cell
      // mean/std from exact integer sums on the 1e-6 cosine grid, the
      // identical threshold expression both engines. (CTE names oqa/ost
      // avoid kmeansSql's s1/s2 round CTEs.)
      s"""WITH ${kmeansSql("8", 2)},
         |oqa AS (
         |  SELECT vec_id, cell_id, cos,
         |    CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS qcos
         |  FROM afin
         |), ost AS (
         |  SELECT cell_id, count(*) AS n_cell,
         |    sum(qcos) AS qs1, sum(qcos * qcos) AS qs2
         |  FROM oqa GROUP BY cell_id
         |), oms AS (
         |  SELECT cell_id,
         |    CAST(qs1 AS DOUBLE) / CAST(n_cell AS DOUBLE) AS mean,
         |    sqrt(greatest(CAST(qs2 AS DOUBLE) / CAST(n_cell AS DOUBLE)
         |      - (CAST(qs1 AS DOUBLE) / CAST(n_cell AS DOUBLE))
         |        * (CAST(qs1 AS DOUBLE) / CAST(n_cell AS DOUBLE)), 0.0)) AS std
         |  FROM ost
         |)
         |SELECT a.vec_id, a.cell_id, a.cos,
         |  CASE WHEN std > 0.0
         |    THEN round((CAST(a.qcos AS DOUBLE) - mean) / std, 6)
         |    ELSE 0.0 END AS z,
         |  (std > 0.0 AND CAST(a.qcos AS DOUBLE) < mean - $OUTLIER_Z * std)
         |    AS is_outlier
         |FROM oqa a JOIN oms USING (cell_id)
         |ORDER BY a.vec_id""".stripMargin),
    // 59: semantic dedup — k-means cells + same-cell cosine prune
    // (drop vectors with a lower-id neighbor ≥ threshold). The cell
    // count rides the same corpus-size dial as the IVF family
    // (autoCells = max(16, ceil(sqrt(n))), oracle-mirrored): SemDeDup
    // pair work is bounded by cell occupancy, so a pinned k would be
    // quadratic at corpus scale exactly like the retired nCells=16.
    "dedup_semantic" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.semanticKeep(e, k = Knn.autoCells(embCount(s, d)), iters = 2,
          threshold = 0.35)
        .orderBy(col("vec_id"))
    },
      // 59: k-means cells + same-cell greedy-by-id cosine prune
      s"""WITH ${kmeansSql(AUTO_CELLS_SQL, 2)},
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM afin a JOIN afin b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE round(${cosSql("ea.v", "eb.v")}, 6) >= 0.35
         |)
         |SELECT f.vec_id, f.cell_id FROM afin f
         |WHERE f.vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY f.vec_id""".stripMargin),
    // 134: D4 prototypicality pruning — dedup_semantic's complement:
    // SemDeDup drops near-COPIES; this drops each semantic cluster's
    // prototypical CORE (the quarter nearest its centroid), keeping
    // the corpus's spread. Same auto-cell k-means trainer, so the
    // oracle replays centroids, ranking and the div-4 cut exactly.
    "embed_diversify" -> QueryKey((s, d) =>
      Knn.diversify(embs(s, d), k = Knn.autoCells(embCount(s, d)), iters = 2)
        .orderBy(col("vec_id")),
      // 134: same trained cells, rank by cosine-to-centroid, drop each
      // cell's top quarter (integer div, ties to the lowest vec_id)
      s"""WITH ${kmeansSql(AUTO_CELLS_SQL, 2)},
         |rkd AS (
         |  SELECT vec_id, cell_id, cos,
         |    row_number() OVER (PARTITION BY cell_id
         |      ORDER BY cos DESC, vec_id) AS rk,
         |    count(*) OVER (PARTITION BY cell_id) AS n_cell
         |  FROM afin
         |)
         |SELECT vec_id, cell_id, cos FROM rkd
         |WHERE rk > n_cell // 4
         |ORDER BY vec_id""".stripMargin),
    // 110: top-principal-component projection — matrix-free distributed
    // power iteration (3 rounds, exact integer-grid accumulation, so
    // the oracle replays the whole training loop like embed_kmeans);
    // per-iteration cost is one narrow dot-product pass + one 64-row
    // partial aggregation — the d² covariance never materializes
    "embed_pca" -> QueryKey((s, d) =>
      Pca.project(embs(s, d), iters = 3).orderBy(col("vec_id")),
      // 110: full power-iteration replay (3 unrolled rounds) + centered
      // projection
      s"""WITH ${pcaSql(3, 64)}
         |SELECT e.vec_id,
         |  round(list_dot_product(e.x, p.v) - list_dot_product(mu.mu, p.v), 6) AS proj
         |FROM e CROSS JOIN v3 p CROSS JOIN mu
         |ORDER BY e.vec_id""".stripMargin),
    // 52: int8 embedding quantization — per-vector scale + component
    // stats (sums/extremes prove every quantized value without an
    // array-typed output column)
    "embed_quantize" -> QueryKey((s, d) =>
      Knn.quantizeInt8(embs(s, d))
        .select(col("vec_id"), col("scale"),
          size(col("q")).cast("long").as("n_dims"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
          aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("sum_q2"),
          array_min(col("q")).as("min_q"),
          array_max(col("q")).as("max_q"))
        .orderBy(col("vec_id")),
      // 52: same widen-to-double + multiply-divide-add-floor chain as
      // Knn.quantizeInt8
      """WITH staged AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings
        |), quant AS (
        |  SELECT vec_id, mx,
        |    CASE WHEN mx = 0 THEN list_transform(xd, x -> 0)
        |      ELSE list_transform(xd, x -> CAST(floor(x * 127.0 / mx + 0.5) AS INT))
        |    END AS q
        |  FROM staged
        |)
        |SELECT vec_id, round(mx / 127.0, 6) AS scale,
        |  CAST(len(q) AS BIGINT) AS n_dims,
        |  CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sum_q2,
        |  CAST(list_min(q) AS INT) AS min_q,
        |  CAST(list_max(q) AS INT) AS max_q
        |FROM quant ORDER BY vec_id""".stripMargin),
    // 142: retrieval quality evaluation — per-query recall@10 / MRR /
    // nDCG@10 of the dense ranking against label-derived binary qrels
    // (the regression metrics a retrieval stack re-runs after every
    // index or embedding change). The nDCG log-discounts enter as the
    // LITERAL 1e-6-grid gain table interpolated into the oracle, so
    // DCG/IDCG are order-free BIGINT sums and every ratio is one
    // rounded division of exact integers. Post-top-k work is
    // (queries × k)-sized at any corpus scale.
    "retrieval_eval" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.retrievalEval(e, e.where(col("vec_id") < 10), k = 10)
    },
      // 142: knn_cosine's replay at k=10 joined against label qrels;
      // the gain/ideal-DCG tables are interpolated from Knn.DCG_GAINS_MI
      // so the two engines share the literals
      {
        val gainCase = Knn.DCG_GAINS_MI.zipWithIndex
          .map { case (g, i) => s"WHEN ${i + 1} THEN $g" }.mkString(" ")
        val idcgCase = Knn.IDCG_PREFIX_MI.zipWithIndex
          .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
        s"""WITH q AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS q_label,
           |             CAST(embedding AS DOUBLE[]) AS q_emb
           |           FROM embeddings WHERE vec_id < 10),
           |scored AS (
           |  SELECT q.query_id, q.q_label, e.vec_id, CAST(e.label AS BIGINT) AS label,
           |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_emb) /
           |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |       sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cos
           |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
           |), top AS (
           |  SELECT query_id, q_label,
           |    CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel,
           |    rk, CASE rk $gainCase END AS g
           |  FROM (SELECT query_id, q_label, label,
           |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
           |        FROM scored) WHERE rk <= 10
           |), agg AS (
           |  SELECT query_id, q_label, CAST(sum(rel) AS BIGINT) AS hits,
           |    CAST(sum(rel * g) AS BIGINT) AS dcg_i,
           |    CAST(coalesce(min(CASE WHEN rel = 1 THEN rk END), 0) AS BIGINT) AS first_rel
           |  FROM top GROUP BY query_id, q_label
           |), lc AS (
           |  SELECT CAST(label AS BIGINT) AS q_label,
           |    CAST(count(*) - 1 AS BIGINT) AS n_rel
           |  FROM embeddings GROUP BY 1
           |), j AS (
           |  SELECT a.query_id, a.q_label, lc.n_rel, a.hits, a.first_rel, a.dcg_i,
           |    CAST(CASE WHEN lc.n_rel <= 0 THEN 0
           |         ELSE (CASE least(lc.n_rel, 10) $idcgCase END) END AS BIGINT) AS idcg_i
           |  FROM agg a JOIN lc USING (q_label)
           |)
           |SELECT query_id, q_label, n_rel, hits, first_rel, dcg_i, idcg_i,
           |  CASE WHEN n_rel <= 0 THEN 0.0
           |       ELSE round(CAST(hits AS DOUBLE) / CAST(least(n_rel, 10) AS DOUBLE), 6) END AS recall,
           |  CASE WHEN first_rel = 0 THEN 0.0
           |       ELSE round(1.0 / CAST(first_rel AS DOUBLE), 6) END AS mrr,
           |  CASE WHEN idcg_i <= 0 THEN 0.0
           |       ELSE round(CAST(dcg_i AS DOUBLE) / CAST(idcg_i AS DOUBLE), 6) END AS ndcg
           |FROM j ORDER BY query_id""".stripMargin
      }),
    // 146: contrastive training triplets — per anchor its nearest
    // same-label positive and 3 hardest different-label negatives
    // with the pos−neg margin, the export an embedding fine-tune
    // consumes. One corpus scan (single window pass over both sides,
    // anchor-bounded frame materialized once); broadcast-probe shape.
    "contrastive_triplets" -> QueryKey((s, d) => {
      val e = embs(s, d)
      Knn.contrastiveTriplets(e, e.where(col("vec_id") < 10), nNeg = 3)
    },
      // 146: one cosine replay ranked on both label sides, then the
      // pos × neg join and the same rounded margin
      s"""WITH q AS (SELECT vec_id AS anchor_id, CAST(label AS BIGINT) AS a_label,
         |             CAST(embedding AS DOUBLE[]) AS q_emb
         |           FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.anchor_id, e.vec_id,
         |    CAST(e.label AS BIGINT) = q.a_label AS is_pos,
         |    round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.q_emb")}, 6) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.anchor_id
         |), ranked AS (
         |  SELECT anchor_id, vec_id, is_pos, cos,
         |    row_number() OVER (PARTITION BY anchor_id, is_pos
         |      ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored
         |), pos AS (
         |  SELECT anchor_id, vec_id AS pos_id, cos AS pos_cos
         |  FROM ranked WHERE is_pos AND rk = 1
         |), neg AS (
         |  SELECT anchor_id, CAST(rk AS BIGINT) AS neg_rk, vec_id AS neg_id,
         |    cos AS neg_cos
         |  FROM ranked WHERE NOT is_pos AND rk <= 3
         |)
         |SELECT p.anchor_id, p.pos_id, p.pos_cos, n.neg_rk, n.neg_id, n.neg_cos,
         |  round(p.pos_cos - n.neg_cos, 6) AS margin
         |FROM pos p JOIN neg n USING (anchor_id)
         |ORDER BY anchor_id, neg_rk""".stripMargin))
}
