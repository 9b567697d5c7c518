package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: the query set is small (k query vectors) and is
  * BROADCAST — the corpus scan stays narrow and shuffles only the
  * per-query top-k candidates (a tiny window input). The LSH variant
  * buckets both sides on random-hyperplane sign bits so, at corpus ×
  * large-query-set scale, the join is bucket-keyed instead of a full
  * cartesian.
  *
  * All math is double-precision via array HOFs (`zip_with` products are
  * exact for float32 inputs, so cross-engine results are stable after
  * round(,6)).
  */
object Knn {

  /** Cosine over array<float> — native codegen'd expression computing
    * dot(a, b) / (‖a‖·‖b‖) with sequential (index-order) double sums;
    * NativeExprSpec asserts bit-equality with the HOF reference form
    * (`ReferenceForms.cosineHof` in the test sources). */
  def cosine(a: Column, b: Column): Column = graft.expressions.native.cosineF(a, b)

  // ------------------------------------------------- 29: brute-force topk
  /** Exact cosine top-k: every (query, corpus) pair via broadcast
    * nested-loop join; rank per query. Baseline and verifier. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = corpus
      .select(col("vec_id"), col("embedding"))
      .crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }

  // --------------------------------------------- 30: LSH-bucketed variant
  /** Sign-bit signature of `emb` under `nPlanes` random hyperplanes
    * (plane component for (plane p, dim i): xxhash64 -> uniform in
    * [-0.5, 0.5)) — native codegen'd expression; the HOF reference form
    * is `ReferenceForms.lshSignatureHof` in the test sources. */
  def lshSignature(emb: Column, nPlanes: Int): Column =
    graft.expressions.native.lshSign(emb, nPlanes)

  /** [[lshSignature]] with sha-256-derived plane weights (cached
    * per-JVM plane matrix, so per row it's a plain dot product) —
    * engine-reproducible: the knn_lsh DuckDB oracle replays signature,
    * banding, candidates, and re-rank exactly. Used by the banded
    * operators below. */
  def lshSignatureSha(emb: Column, nPlanes: Int): Column =
    graft.expressions.native.lshSignSha(emb, nPlanes)

  /** Occupancy-targeted LSH band width: 2^bandBits buckets per band
    * sized so a bucket holds ~targetBucketRows vectors. At n=2k this
    * gives the recall-friendly 4-bit bands; at n=10⁹ it gives 20-bit
    * bands (≈10⁶ buckets, ~1k rows each → ~5·10⁸ candidate pairs per
    * band instead of the n²/16 a fixed 4-bit band would produce). The
    * honest LSH tradeoff — wider bands trade recall at low cosine for
    * bounded bucket occupancy — is the caller's dial; this picks the
    * occupancy-safe default from the corpus size. */
  def autoBandBits(corpusSize: Long, targetBucketRows: Long = 1024): Int = {
    val ratio = math.max(corpusSize, 1).toDouble / targetBucketRows
    math.min(24, math.max(4, math.ceil(math.log(ratio) / math.log(2)).toInt))
  }

  /** Corpus-size-derived IVF cell count: nCells = max(16, ⌈√n⌉) — the
    * SURVEY §5 rule that bounds same-cell pair work to n²/nCells ≈
    * n^1.5 (the classic IVF tradeoff) instead of quadratic-at-fixed-
    * cells. Deterministic given n, and both engines compute it
    * identically (IEEE-correctly-rounded sqrt + ceil on both JVM and
    * DuckDB), so the oracle replays any corpus size. Centroid
    * broadcast stays tiny at any realistic n: 10⁹ vectors → ~32k
    * cells × d·8 bytes ≈ 16 MB at d=64. */
  def autoCells(corpusSize: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(corpusSize, 1L).toDouble)).toInt)

  /** Embedding-cosine near-dup pairs via sign-LSH: self-join the
    * corpus on LSH sign-bands (shuffle keyed on (band, bucket) — never
    * all-pairs), verify exact cosine on candidates. Approximate in
    * recall (a pair may land in no common band), exact in precision
    * (every returned pair truly clears the threshold).
    * `bandBits <= 0` → sized via [[autoBandBits]] from `corpusSize`
    * when supplied, else from a `corpus.count()` — an EXTRA full scan
    * per call, real money at 100 TB; callers that know their corpus
    * size (or table stats) should pass it. */
  def embeddingPairs(corpus: DataFrame, threshold: Double,
      nBands: Int = 4, bandBits: Int = 0, corpusSize: Long = -1L): DataFrame = {
    val bb = if (bandBits > 0) bandBits
      else autoBandBits(if (corpusSize > 0) corpusSize else corpus.count())
    val nPlanes = nBands * bb
    val banded = Dedup.bitBands(corpus.select(col("vec_id"), col("embedding"),
        lshSignatureSha(col("embedding"), nPlanes).as("sig")),
      Seq("vec_id", "embedding"), "sig", nBands, bb, ("band", "bucket"))
    val a = banded.select(col("band"), col("bucket"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
      .where(col("cos") >= threshold) // verify BEFORE the pair-dedup
      .dropDuplicates("vec_a", "vec_b")
  }

  /** ANN top-k via random-hyperplane LSH: candidates are corpus rows
    * whose signature matches the query's in at least one band of
    * `bandBits` bits; exact cosine re-ranks candidates only.
    * `bandBits <= 0` → sized via [[autoBandBits]] from `corpusSize`
    * when supplied, else from a `corpus.count()` — an EXTRA full scan
    * per call; callers that know their corpus size should pass it. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBands: Int = 4, bandBits: Int = 0, corpusSize: Long = -1L): DataFrame = {
    val bb = if (bandBits > 0) bandBits
      else autoBandBits(if (corpusSize > 0) corpusSize else corpus.count())
    val nPlanes = nBands * bb
    def banded(df: DataFrame, idCol: String, embOut: String): DataFrame =
      Dedup.bitBands(df.select(col("vec_id").as(idCol), col("embedding").as(embOut),
          lshSignatureSha(col("embedding"), nPlanes).as("sig")),
        Seq(idCol, embOut), "sig", nBands, bb, ("band", "bucket"))
    val c = banded(corpus, "vec_id", "emb")
    val q = broadcast(banded(queries, "query_id", "q_emb"))
    val candidates = c.join(q, Seq("band", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("emb"), col("q_emb")), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }

  // -------------------------------------------- IVF (inverted-file) ANN
  // The second scale path: coarse-quantize the corpus into cells, probe
  // only the query's nearest cells. Unlike sign-LSH the whole pipeline
  // is deterministic linear algebra (no hashing), so the DuckDB oracle
  // replays it end-to-end — candidate generation included — which makes
  // knn_ivf / dedup_embed fully hash-checkable.

  /** Deterministic coarse centroids: the first `nCells` corpus vectors
    * ranked by vec_id (TakeOrdered top-k — no assumption that ids are
    * dense or zero-based; a `vec_id < nCells` filter would silently
    * yield fewer or zero centroids on sparse id spaces). A production
    * deployment would train k-means centroids; assignment, cell join,
    * and probing below are identical either way, and the deterministic
    * pick is what the oracle can reproduce. */
  def ivfCentroids(corpus: DataFrame, nCells: Int): DataFrame =
    corpus.select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
      .orderBy(col("cell_id")).limit(nCells)

  /** Nearest-centroid assignment (ties → lowest cell id) as a PURE
    * NARROW MAP (r19-opt): the centroids collapse to ONE broadcast
    * array row and each vector's argmin is a single codegen'd native
    * call ([[graft.expressions.Kernels.ivfArgmin]]) — no n-row argmax
    * exchange carrying every embedding (the former crossJoin + groupBy
    * max(struct(round(cosine, 6), -cell_id)) form; the kernel
    * replicates its rounded-grid compare and asc-id tie-break
    * bit-for-bit, NativeExprSpec pins it on corpus + tie fixtures).
    *
    * History: a FIRST r19 attempt folded the argmin in higher-order
    * functions and was reverted — HOF lambdas evaluate INTERPRETED, so
    * the n·nCells cosine kernel lost whole-stage codegen (assignment
    * checkpoint 1 → 9.6 CPU-s at sf0.1). The native expression gets
    * both: no exchange AND codegen'd kernels. The explode is a
    * generator barrier, so consumers' pushed-down isnotnull(cell_id)
    * can't re-evaluate the fold (and empty centroid sets explode to
    * zero rows, matching the former crossJoin-with-empty). */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val centArr = centroids.agg(
      collect_list(struct(col("cell_id"), col("centroid"))).as("cents"))
    vecs.select(col(idCol), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col(idCol), col("embedding"),
        explode(graft.expressions.native.ivfArgmin(
          col("embedding"), col("cents"))).as("cell_id"))
  }

  /** Embedding near-dup pairs, IVF flavor: vectors sharing a cell are
    * candidates; exact cosine verifies. One shuffle keyed on cell_id;
    * cell occupancy ~ n/nCells (choose nCells ≈ √n at scale → n^1.5
    * pair work, the classic IVF tradeoff, instead of n²). Precision
    * exact; recall = pairs whose members quantize to the same cell.
    * `nCells <= 0` → sized via [[autoCells]] from `corpusSize` when
    * supplied, else from a `corpus.count()` — an EXTRA scan per call;
    * callers that know their corpus size should pass it. */
  def ivfPairs(corpus: DataFrame, threshold: Double, nCells: Int = 0,
      corpusSize: Long = -1L): DataFrame = {
    val nc = if (nCells > 0) nCells
      else autoCells(if (corpusSize > 0) corpusSize else corpus.count())
    // materialized ONCE: the assignment feeds BOTH self-join sides —
    // un-truncated, the centroid crossJoin + argmax re-ran per side
    // (r18-opt)
    val assigned = graft.Materialize.once(
      ivfAssign(corpus, ivfCentroids(corpus, nc)))
    val a = assigned.select(col("cell_id"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = assigned.select(col("cell_id"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("cell_id"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF ANN top-k: probe the query's `nProbe` nearest cells, exact
    * cosine re-rank of the probed candidates only. Corpus side shuffles
    * once on cell_id; the (few) query probes broadcast.
    * `nCells <= 0` → sized via [[autoCells]] from `corpusSize` when
    * supplied, else from a `corpus.count()` (an extra scan). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 0, nProbe: Int = 4, corpusSize: Long = -1L): DataFrame = {
    val nc = if (nCells > 0) nCells
      else autoCells(if (corpusSize > 0) corpusSize else corpus.count())
    // materialized ONCE: the centroid table feeds the corpus
    // assignment AND the query probe crossJoin — un-truncated, the
    // TakeOrdered centroid pick re-scanned the corpus per consumer
    // (r18-opt)
    val cents = graft.Materialize.once(ivfCentroids(corpus, nc))
    val assigned = ivfAssign(corpus, cents)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cell_id"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_emb"), col("cell_id"),
        round(cosine(col("q_emb"), col("centroid")), 6).as("pcos"))
      .withColumn("prk", row_number().over(wProbe))
      .where(col("prk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }

  // ------------------------------------- IVF semantic-decon probe (#126b)
  /** Semantic-decontamination scores, IVF flavor — the corpus-scale
    * benchmark path the broadcast `decon_embed` key documents: when
    * the benchmark set is itself too large to broadcast-crossJoin,
    * index the BENCHMARK into IVF cells and have every corpus vector
    * probe only its `nProbe` nearest cells. `max_cos` is the probed
    * maximum — exact over probed candidates, a lower bound on the
    * true maximum (a contaminating benchmark vector in an unprobed
    * cell is missed; recall, like every IVF path, is the nProbe
    * dial). Corpus vectors whose probed cells hold no benchmark
    * vector report max_cos = −1 (nothing anywhere near them).
    *
    * Scale shape: probe selection is MAP-SIDE ONLY — the centroids
    * collapse to ONE broadcast array row and each corpus vector picks
    * its top-nProbe cells inside a single projection (per-cell cosine
    * on the exact 1e-6 integer grid, long-negated for the ascending
    * struct sort — no −0.0 ordering hazard), so there is no window,
    * no explode-then-rank, and no shuffle before the cell join. The
    * cell join keys n·nProbe probe rows against the benchmark
    * assignment (AQE broadcasts it while the benchmark is small;
    * shuffles on cell_id once it isn't), candidate pairs are
    * n·nProbe·(|bench|/nCells) instead of the crossJoin's n·|bench|
    * (HotKeyStressSpec bounds the ratio), and the final max combines
    * map-side to one row per corpus vector. Every step is
    * deterministic linear algebra, so the DuckDB oracle replays
    * centroid pick, probes, and scores end-to-end.
    *
    * `nCells <= 0` → [[autoCells]] from `benchSize` when supplied,
    * else from a `bench.count()` (an extra scan — callers that know
    * their benchmark size should pass it). */
  def deconEmbedIvf(corpus: DataFrame, bench: DataFrame, threshold: Double,
      nCells: Int = 0, nProbe: Int = 4, benchSize: Long = -1L): DataFrame = {
    val nc = if (nCells > 0) nCells
      else autoCells(if (benchSize > 0) benchSize else bench.count())
    val cents = ivfCentroids(bench, nc)
    val assigned = ivfAssign(bench, cents)
    val centArr = cents.agg(sort_array(
      collect_list(struct(col("cell_id"), col("centroid")))).as("cents"))
    // floor(round6·1e6 + 0.5) is a monotone bijection from the rounded
    // cosine grid to longs: ordering by (−qcos, cell_id) ascending ==
    // ordering by rounded cosine DESC, cell_id ASC — the exact order
    // the oracle's row_number replays — with no float negation
    val probes = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        explode(slice(array_sort(transform(col("cents"), c =>
          struct((-floor(round(cosine(col("embedding"), c.getField("centroid")), 6)
              * 1e6 + 0.5).cast("long")).as("nq"),
            c.getField("cell_id").as("cell_id")))), 1, nProbe)).as("pr"))
      .select(col("vec_id"), col("embedding"), col("pr.cell_id").as("cell_id"))
    val b = assigned.select(col("cell_id"), col("embedding").as("b_emb"))
    // LEFT join: a probe row with no benchmark occupant still yields a
    // row, so every corpus vector reaches the aggregate (max_cos = −1)
    probes.join(b, Seq("cell_id"), "left")
      .select(col("vec_id"),
        when(col("b_emb").isNotNull,
          round(cosine(col("embedding"), col("b_emb")), 6))
          .otherwise(lit(-1.0)).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_cos"))
      .select(col("vec_id"), col("max_cos"),
        (col("max_cos") >= threshold).as("contaminated"))
  }

  // ----------------------------------------------- MMR diversity re-rank
  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98) — the diversity pass a retrieval serving tier runs so
    * the k results aren't k near-copies: greedily select
    * argmax(λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)).
    *
    * Exact integer arithmetic at λ = 0.7: relevance and pairwise
    * similarity land on the 1e-6 grid as BIGINTs, the MMR objective
    * is mmr10 = 7·rel_i − 3·maxSim_i (scaled ×10 — no division,
    * no float accumulation), ties break to the lowest candidate id;
    * the k selection steps are a FIXED unrolled loop, so an
    * independent engine replays the whole greedy trajectory (the
    * knn_mmr oracle does).
    *
    * Scale shape: the candidate pool is the ANN stage's per-query
    * top-`pool` (swap [[cosineTopK]] for [[ivfTopK]]/[[graft.operators.Pq.ivfPqTopK]]
    * at corpus scale — same contract), so everything after the ANN
    * stage is bounded by |queries|·pool² pair rows and k tiny
    * argmax passes — independent of corpus size. Candidates and the
    * pair-sim table are materialized once (every greedy step reads
    * both). Output (query_id, rk, vec_id, mmr10_i). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      pool: Int = 10): DataFrame = {
    require(k >= 1 && pool >= k, s"need 1 <= k <= pool, got k=$k pool=$pool")
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val cands = graft.Materialize.once(
      cosineTopK(corpus, queries, pool).join(emb, "vec_id")
        .select(col("query_id"), col("vec_id"),
          round(round(col("cos"), 6) * lit(1000000.0)).cast("long").as("rel_i"),
          col("embedding")))
    val pairs = graft.Materialize.once(
      cands.select(col("query_id"), col("vec_id").as("ca"), col("embedding").as("ea"))
        .join(cands.select(col("query_id"), col("vec_id").as("cb"),
          col("embedding").as("eb")), Seq("query_id"))
        .where(col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
          round(round(cosine(col("ea"), col("eb")), 6) * lit(1000000.0))
            .cast("long").as("sim_i")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("rel_i").desc, col("vec_id"))
    // each step's pick (ONE row per query) is materialized: step t's
    // plan otherwise references selected_{t-1} twice (directly in the
    // union and inside the pick's anti-join), doubling plan size per
    // step — O(2^k) re-execution of earlier steps' windows/joins when
    // the final frame runs. Harmless at k=5, catastrophic at k=50;
    // with per-step materialization the greedy trajectory is linear
    // in k and every step reads only the materialized cands/pairs/
    // picks (KnnSpec pins the flat plan and the k=50 bound).
    var selected = graft.Materialize.once(cands
      .withColumn("rn", row_number().over(w1)).where(col("rn") === 1)
      .select(col("query_id"), col("vec_id"),
        (col("rel_i") * 7).as("mmr10_i"), lit(1).as("rk")))
    var t = 2
    while (t <= k) {
      val sel = selected.select(col("query_id"), col("vec_id"))
      val maxSim = pairs
        .join(sel.withColumnRenamed("vec_id", "cb"), Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca"))
        .agg(max(col("sim_i")).as("max_sim_i"))
      val wt = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr10_i").desc, col("vec_id"))
      val pick = cands.join(sel, Seq("query_id", "vec_id"), "left_anti")
        .join(maxSim, cands("query_id") === maxSim("query_id") &&
          col("vec_id") === col("ca"), "left")
        .select(cands("query_id"), col("vec_id"),
          (col("rel_i") * 7 - coalesce(col("max_sim_i"), lit(0L)) * 3)
            .as("mmr10_i"))
        .withColumn("rn", row_number().over(wt)).where(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), col("mmr10_i"), lit(t).as("rk"))
      val next = graft.Materialize.once(selected.unionByName(pick))
      graft.Materialize.free(selected)
      selected = next
      t += 1
    }
    selected.orderBy(col("query_id"), col("rk"))
  }

  // ------------------------------------------------------------- k-means
  /** Cosine of a FLOAT vector against a DOUBLE (trained) centroid —
    * native codegen'd kernel (n·k evaluations per assignment pass;
    * the HOF form paid interpreted lambdas per element — measured
    * 5.4s → dedup_semantic's assignment dominated its wall once the
    * cell count rode the √n dial). The HOF reference formulation is
    * `ReferenceForms.cosineDHof` in the test sources (identical
    * sequential double arithmetic, so trained-centroid scores replay
    * across engines); NativeExprSpec asserts bit-equality. */
  private def cosineD(a: Column, b: Column): Column =
    graft.expressions.native.cosineFD(a, b)

  /** Nearest-centroid assignment against (possibly trained, double-
    * array) centroids — the [[ivfAssign]] narrow-map shape (r19-opt:
    * no n-row argmax exchange) with the cosineFD kernel, also
    * returning the winner's rounded cosine
    * ([[graft.expressions.Kernels.kmArgmin]]). */
  private def kmAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(
      collect_list(struct(col("cell_id"), col("centroid"))).as("cents"))
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        explode(graft.expressions.native.kmArgmin(
          col("embedding"), col("cents"))).as("pr"))
      .select(col("vec_id"), col("embedding"),
        col("pr.cell_id").as("cell_id"), col("pr.cos").as("cos"))
  }

  /** Deterministic Lloyd k-means over the embedding column — the
    * trained-centroid upgrade of the IVF coarse quantizer (and the
    * clustering step semantic dedup / corpus curation pipelines run).
    *
    * Engine-replayable by construction (the embed_kmeans oracle
    * re-runs every iteration):
    *  - init: the first k vectors by vec_id, widened to double;
    *  - assignment: argmax of round(cos, 6), ties to the lowest cell
    *    (max of struct(cos, -cell_id) — cross-engine-stable exactly
    *    like [[ivfAssign]]);
    *  - update: per-dimension EXACT mean — components quantize to a
    *    1e-6 grid as longs, long sums are order-independent, and the
    *    mean is the single division s/(n·1e6) — so the trained
    *    centroids are bit-identical on any engine or partitioning;
    *  - cells that lose all members drop out (standard Lloyd death).
    *
    * Scale shape per iteration: one broadcast-assignment pass (n rows
    * shuffled once by the partial argmax) + one (cell, dim) partial
    * aggregation (k·d rows out). k centroids ≈ k·d·8 bytes broadcast —
    * at 10⁹ vectors / k=√n≈32k / d=64 that is ~16 MB, still
    * broadcastable, same as the IVF sizing note.
    *
    * Output: (vec_id, embedding, cell_id, cos) against the FINAL
    * trained centroids. */
  def kmeansAssignments(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0 and iters >= 0, got $k/$iters")
    // seed = the k lowest-vec_id vectors by RANK (TakeOrdered), not a
    // `vec_id < k` filter: sparse / non-zero-based id spaces would
    // silently train with fewer (possibly zero) centroids otherwise.
    // On dense 0-based ids (the oracle's testdata) the two coincide.
    var cents = corpus
      .select(col("vec_id").as("cell_id"),
        transform(col("embedding"), x => x.cast("double")).as("centroid"))
      .orderBy(col("cell_id")).limit(k)
    var r = 0
    while (r < iters) {
      // materialize EACH round's centroid table (k·d-row — KBs): round
      // r's plan otherwise nests rounds 1..r−1, so executing the final
      // assignment re-runs every earlier broadcast-assign + aggregate
      // pass over the corpus — O(iters²) corpus passes and unbounded
      // codegen depth (the clusters()/pagerankInt checkpoint-cadence
      // precedent; KnnSpec pins the final plan shape constant in iters).
      val next = graft.Materialize.once(kmAssign(corpus, cents)
        .select(col("cell_id"), posexplode(col("embedding")))
        .select(col("cell_id"), col("pos"),
          floor(col("col").cast("double") * lit(1000000.0) + lit(0.5))
            .cast("long").as("qc"))
        .groupBy(col("cell_id"), col("pos"))
        .agg(sum(col("qc")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cell_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => x.getField("s").cast("double") /
            (x.getField("n").cast("double") * lit(1000000.0))).as("centroid")))
      graft.Materialize.free(cents) // no-op on the un-materialized init
      cents = next
      r += 1
    }
    kmAssign(corpus, cents)
  }

  /** Embedding-space outlier detection for corpus curation — the
    * noise/mislabel pruning complement of [[semanticKeep]] (which
    * drops near-COPIES) and [[diversify]] (which drops the
    * prototypical CORE): flag vectors anomalously FAR from their own
    * cluster's centroid (assignment cosine more than `zThresh` cluster
    * standard deviations below the cluster mean) — OCR garbage, wrong-
    * modality rows and encoder failures land in exactly that tail.
    *
    * Engine-replayable by construction: assignments come from the same
    * deterministic [[kmeansAssignments]] trainer the embed_kmeans
    * oracle replays; the per-cell mean/std are computed from the
    * ROUNDED cosine quantized onto the 1e-6 grid as longs (integer
    * sums are order-free — the text_entropy/drift-PSI discipline), and
    * both engines evaluate the identical mean/variance/threshold
    * expression on those exact integers, so the boundary comparison
    * can never diverge.
    *
    * Scale: one (cell) integer partial aggregation over the
    * materialized assignment (k rows out) broadcast back onto it — no
    * second corpus shuffle. Cells with one member (std 0) flag
    * nothing. Output: (vec_id, cell_id, cos, z, is_outlier). */
  def outliers(corpus: DataFrame, k: Int, iters: Int,
      zThresh: Double = 2.0): DataFrame = {
    require(zThresh > 0, s"need zThresh > 0, got $zThresh")
    val assigned = graft.Materialize.once(
      kmeansAssignments(corpus, k, iters)
        .select(col("vec_id"), col("cell_id"), col("cos"),
          floor(col("cos") * lit(1000000.0) + lit(0.5))
            .cast("long").as("qcos")))
    // s2 sums squares of 1e6-grid values (≤1e12 each): decimal(38,0)
    // keeps the sum exact past the ~9·10⁶-members-per-cell point where
    // a long would overflow (DuckDB's sum(BIGINT) is already 128-bit)
    val stats = assigned.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_cell"),
        sum(col("qcos")).as("s1"),
        sum((col("qcos") * col("qcos")).cast("decimal(38,0)")).as("s2"))
    val mean = col("s1").cast("double") / col("n_cell").cast("double")
    val varq = col("s2").cast("double") / col("n_cell").cast("double") -
      mean * mean
    val std = sqrt(greatest(varq, lit(0.0)))
    assigned.join(broadcast(stats), Seq("cell_id"))
      .select(col("vec_id"), col("cell_id"), col("cos"),
        when(std > 0.0,
            round((col("qcos").cast("double") - mean) / std, 6))
          .otherwise(lit(0.0)).as("z"),
        (std > 0.0 &&
          col("qcos").cast("double") < mean - lit(zThresh) * std)
          .as("is_outlier"))
  }

  /** Semantic dedup (SemDeDup-shaped): k-means-cluster the corpus,
    * then inside each cell drop every vector that has a lower-id
    * neighbor with cosine ≥ threshold. Greedy-by-id (not transitive
    * closure — a dropped vector still suppresses its own neighbors),
    * which keeps the operator a single same-cell pair join + anti
    * join: deterministic and fully oracle-replayable. Pair work is
    * bounded by cell occupancy (k ≈ √n at scale), as in [[ivfPairs]]. */
  def semanticKeep(corpus: DataFrame, k: Int, iters: Int, threshold: Double): DataFrame = {
    // materialize the assignment ONCE: it feeds three consumers (both
    // pair-join sides + the anti-join base) and each alias would re-run
    // the whole trained-assignment subtree (12 parquet scans measured
    // in the un-checkpointed plan — the graph_triangles recompute
    // class). n rows of (id, embedding, cell) — corpus-sized; at
    // 100 TB set spark.graft.materialize=reliable (Materialize).
    val assigned = graft.Materialize.once(kmeansAssignments(corpus, k, iters))
    val a = assigned.select(col("cell_id"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = assigned.select(col("cell_id"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val dropped = a.join(b, Seq("cell_id"))
      .where(col("vec_a") < col("vec_b"))
      .where(round(cosine(col("emb_a"), col("emb_b")), 6) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell_id"))
  }

  /** D4-style prototypicality pruning (Tirumala et al., 2023,
    * "D4: Improving LLM Pretraining via Document De-Duplication and
    * Diversification"): after SemDeDup-style near-dup removal, the
    * remaining redundancy is each semantic cluster's PROTOTYPICAL
    * core — many documents saying the average thing. Train k-means
    * cells (the shared deterministic integer-grid trainer, so the
    * oracle replays every centroid), rank each cell's members by
    * cosine-to-own-centroid DESC (most prototypical first, ties to
    * the lowest vec_id), and drop each cell's top quarter
    * (`n_cell div 4`); survivors keep the corpus's semantic spread.
    * Scale shape: the ranking windows partition by cell — ~√n rows
    * per cell under autoCells, so no hot partition — and everything
    * upstream is the kmeansAssignments contract (per-iter one
    * broadcast-assign pass + one k·d aggregation). */
  def diversify(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val a = kmeansAssignments(corpus, k, iters)
    val byProto = Window.partitionBy(col("cell_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val cell = Window.partitionBy(col("cell_id"))
    a.withColumn("rk", row_number().over(byProto))
      .withColumn("n_cell", count(lit(1)).over(cell))
      .where(col("rk") > expr("n_cell div 4"))
      .select(col("vec_id"), col("cell_id"), col("cos"))
  }

  // --------------------------------------------------------- quantization
  /** Symmetric per-vector int8 quantization: q_i = round(x_i · 127 /
    * max|x|), scale = max|x| / 127 — the standard 4× embedding
    * compression before ANN index build or shipping vectors to a
    * serving tier. A narrow map (no shuffle); dequantization error is
    * bounded by scale/2 per component.
    *
    * Engine-stable arithmetic: floats widen exactly to doubles, the
    * per-component expression is one multiply-divide-add-floor chain
    * evaluated in the same order everywhere, and max is
    * order-independent — so an independent engine reproduces every
    * quantized value bit-for-bit (the embed_quantize oracle does).
    * All-zero vectors quantize to zeros (scale 0). */
  def quantizeInt8(embs: DataFrame): DataFrame = {
    val staged = embs
      .withColumn("__xd", transform(col("embedding"), x => x.cast("double")))
      .withColumn("__mx", array_max(transform(col("__xd"), x => abs(x))))
    staged
      .withColumn("q",
        when(col("__mx") === 0d, transform(col("__xd"), _ => lit(0)))
          .otherwise(transform(col("__xd"),
            x => floor(x * lit(127.0) / col("__mx") + lit(0.5)).cast("int"))))
      .withColumn("scale", round(col("__mx") / lit(127.0), 6))
      .drop("__xd", "__mx")
  }

  // ------------------------------------------- 103: hard-negative mining
  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-cosine-similar corpus vectors whose label
    * DIFFERS from the query's — the "hard" negatives a dual-encoder
    * trains against (random negatives are too easy; same-label hits
    * are false negatives and are excluded by construction).
    *
    * Same scale shape as [[cosineTopK]]: the query set (with labels)
    * is broadcast, the corpus scan stays narrow, and only per-query
    * top-k candidates reach the rank window. At corpus × large-query
    * scale swap the scorer for [[ivfTopK]]'s cell-probe join and apply
    * the label filter on the candidates — same contract. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").cast("long").as("q_label")))
    val scored = corpus
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("neg_label"))
      .crossJoin(q)
      .where(col("neg_label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("neg_label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }

  // ------------------------------- 142: retrieval quality evaluation
  /** floor(1e6 / log2(rank+1)) for rank 1..10 — the nDCG discount
    * table on the 1e-6 integer grid. INTERPOLATED into the
    * retrieval_eval oracle SQL, so both engines share the literals
    * and no cross-engine log() is ever evaluated. */
  private[graft] val DCG_GAINS_MI: Seq[Long] = Seq(1000000L, 630929L,
    500000L, 430676L, 386852L, 356207L, 333333L, 315464L, 301029L, 289064L)

  /** Prefix sums of [[DCG_GAINS_MI]] — ideal-DCG for 1..10 relevant
    * candidates in the top-10. */
  private[graft] val IDCG_PREFIX_MI: Seq[Long] =
    DCG_GAINS_MI.scanLeft(0L)(_ + _).tail

  /** Labeled retrieval-quality evaluation — the metrics loop a
    * retrieval/RAG stack runs after every index or embedding change:
    * each query's cosine top-k is scored against binary relevance
    * (a candidate is relevant iff it shares the query's `label` —
    * the qrels a labeled corpus gives for free), yielding per-query
    * recall@k, MRR and nDCG@k.
    *
    * PRECONDITION: queries are drawn from the corpus (resubstitution
    * eval, the `vec_id < 10` probe convention) — n_rel is derived as
    * per-label corpus count minus the query itself.
    *
    * Metric definitions (deliberate, oracle-matched choices):
    *   - `recall` is hits / min(n_rel, k) — R-CAPPED recall@k (a.k.a.
    *     capped recall / R-precision-style denominator), NOT the
    *     textbook hits / n_rel: a query with n_rel > k can still
    *     score 1.0 when its whole top-k is relevant. Consumers
    *     comparing against un-capped recall@k must divide hits by
    *     n_rel themselves (both integers are in the output).
    *   - queries whose `label` is NULL are DROPPED from the output
    *     (no qrels exist for them, so no metric is defined — the
    *     inner join on q_label is the drop): the result can have
    *     fewer rows than queries. Callers asserting one row per
    *     query must pre-filter NULL-label probes. NULL-label
    *     CANDIDATES, by contrast, stay and score as irrelevant.
    *
    * Engine-replayable by construction: hits / first-relevant-rank /
    * n_rel are exact integers; the DCG discounts enter as the LITERAL
    * [[DCG_GAINS_MI]] gain table so DCG and ideal-DCG accumulate as
    * order-free BIGINT sums; the three ratio metrics are single
    * rounded divisions of those exact integers.
    *
    * Scale: the ranking is [[cosineTopK]]'s broadcast-probe shape
    * (swap in [[ivfTopK]] at corpus scale — same output contract);
    * relevance needs one extra |labels|-row broadcast aggregate, and
    * everything after the top-k window is (queries × k)-sized.
    * Output: one row per query. */
  def retrievalEval(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k <= DCG_GAINS_MI.length,
      s"k=$k exceeds the literal gain table (${DCG_GAINS_MI.length})")
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").cast("long").as("q_label")))
    val scored = corpus
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      .crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val top = scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("q_label"), col("rk"),
        // NULL-label candidates score as irrelevant (the oracle's CASE
        // 0-codes them); without the coalesce a NULL would propagate
        // through the sums and null the query's whole metric row
        coalesce((col("label") === col("q_label")).cast("long"), lit(0L))
          .as("rel"),
        element_at(typedLit(DCG_GAINS_MI), col("rk")).as("g"))
    val perQ = top.groupBy(col("query_id"), col("q_label"))
      .agg(sum(col("rel")).as("hits"),
        sum(col("rel") * col("g")).as("dcg_i"),
        coalesce(min(when(col("rel") === 1L, col("rk"))), lit(0))
          .cast("long").as("first_rel"))
    // |labels|-row corpus aggregate (map-side partial, broadcast out)
    val labCnt = corpus.groupBy(col("label").cast("long").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    perQ.join(broadcast(labCnt), "q_label")
      .withColumn("n_rel", col("n_label") - lit(1L))
      .withColumn("idcg_i", when(col("n_rel") <= 0L, lit(0L))
        .otherwise(element_at(typedLit(IDCG_PREFIX_MI),
          least(col("n_rel"), lit(k.toLong)).cast("int"))))
      .select(col("query_id"), col("q_label"), col("n_rel"), col("hits"),
        col("first_rel"), col("dcg_i"), col("idcg_i"),
        when(col("n_rel") <= 0L, lit(0.0)).otherwise(
          round(col("hits").cast("double") /
            least(col("n_rel"), lit(k.toLong)).cast("double"), 6)).as("recall"),
        when(col("first_rel") === 0L, lit(0.0)).otherwise(
          round(lit(1.0) / col("first_rel").cast("double"), 6)).as("mrr"),
        when(col("idcg_i") <= 0L, lit(0.0)).otherwise(
          round(col("dcg_i").cast("double") /
            col("idcg_i").cast("double"), 6)).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** [[retrievalEval]]'s metric battery over ANY ranking with
    * (query_id, rk, vec_id) columns, graded against PSEUDO-QRELS =
    * the exact dense top-k ([[cosineTopK]]): per-query R-capped
    * recall@k, MRR and nDCG@k of the given ranking, where a candidate
    * is relevant iff it appears in the query's exact top-k. This is
    * the audit the SPARSE and HYBRID serving paths need — their
    * rankings have no label qrels (documents are unlabeled), and the
    * question a hybrid deployment actually asks is "how much of the
    * dense-exact ranking does the fused ranking recover, and how
    * early" ([[rankingRecall]] answers the first half only; this adds
    * the order-sensitive MRR/nDCG half over the same pseudo-qrels).
    *
    * Same exact-integer discipline as [[retrievalEval]]: hits /
    * first_rel / n_rel are integers, DCG/IDCG accumulate the literal
    * [[DCG_GAINS_MI]] gains, each metric is one rounded division.
    * Queries with an empty exact top-k yield no row (no qrels — the
    * retrievalEval NULL-label drop convention); queries the RANKING
    * misses entirely still get a zeroed row (n_rel from the exact
    * side, metrics 0). Scale: one broadcast-probe exact ranking +
    * (queries × k)-sized math. Output: one row per query. */
  def rankingEval(corpus: DataFrame, queries: DataFrame, k: Int,
      ranking: DataFrame): DataFrame = {
    require(k <= DCG_GAINS_MI.length,
      s"k=$k exceeds the literal gain table (${DCG_GAINS_MI.length})")
    val exact = graft.Materialize.once(cosineTopK(corpus, queries, k)
      .select(col("query_id"), col("rk").as("erk"), col("vec_id")))
    val top = ranking.where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("int").as("rk"), col("vec_id"))
      .join(exact, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rk"),
        when(col("erk").isNotNull, 1L).otherwise(0L).as("rel"),
        element_at(typedLit(DCG_GAINS_MI), col("rk")).as("g"))
    val perQ = top.groupBy(col("query_id"))
      .agg(sum(col("rel")).as("hits"),
        sum(col("rel") * col("g")).as("dcg_i"),
        coalesce(min(when(col("rel") === 1L, col("rk"))), lit(0))
          .cast("long").as("first_rel"))
    val nRel = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    nRel.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("first_rel"), lit(0L)).as("first_rel"),
        coalesce(col("dcg_i"), lit(0L)).as("dcg_i"),
        element_at(typedLit(IDCG_PREFIX_MI),
          least(col("n_rel"), lit(k.toLong)).cast("int")).as("idcg_i"))
      .select(col("query_id"), col("n_rel"), col("hits"), col("first_rel"),
        col("dcg_i"), col("idcg_i"),
        round(col("hits").cast("double") /
          least(col("n_rel"), lit(k.toLong)).cast("double"), 6).as("recall"),
        when(col("first_rel") === 0L, lit(0.0)).otherwise(
          round(lit(1.0) / col("first_rel").cast("double"), 6)).as("mrr"),
        when(col("idcg_i") <= 0L, lit(0.0)).otherwise(
          round(col("dcg_i").cast("double") /
            col("idcg_i").cast("double"), 6)).as("ndcg"))
      .orderBy(col("query_id"))
  }

  // ------------------------------- 148: ANN recall audit
  /** ANN index-quality audit — recall@k of the IVF ranking against
    * the exact brute-force ranking, per query and cutoff: the number
    * an operator tunes nProbe/nCells with before trusting an
    * approximate index at corpus scale (the FAISS recall-curve
    * methodology). hits are exact integers (|approx@k ∩ exact@k|),
    * recall one rounded division — engine-replayable because BOTH
    * rankings already replay exactly (knn_ivf / knn_cosine oracles).
    *
    * Scale: two broadcast-probe rankings (each one corpus scan — the
    * audit runs both sides by construction, the dedup_recall
    * convention) and everything after the top-k windows is
    * (queries × kmax)-sized. Output: (query_id, k, hits, recall) per
    * query × cutoff. */
  def annRecall(corpus: DataFrame, queries: DataFrame, ks: Seq[Int],
      nProbe: Int, corpusSize: Long): DataFrame =
    rankingRecall(corpus, queries, ks,
      ivfTopK(corpus, queries, ks.max, nProbe = nProbe,
        corpusSize = corpusSize))

  /** [[annRecall]]'s core over ANY approximate ranking with
    * (query_id, rk, vec_id) columns — the IVF-PQ audit passes
    * [[Pq.ivfPqTopK]]'s output here (quantization loss shows up as
    * the recall gap between the two audits). `approxRanking`'s rk
    * must go at least to ks.max. */
  def rankingRecall(corpus: DataFrame, queries: DataFrame, ks: Seq[Int],
      approxRanking: DataFrame): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"bad cutoffs $ks")
    val kmax = ks.max
    // both rankings are (queries × kmax)-sized: materialize them so
    // the audit's final plan reads two tiny ExistingRDDs instead of
    // fanning the exact + IVF scan pipelines out under the join (the
    // PlanSpec ≤6-scan budget)
    val exact = graft.Materialize.once(cosineTopK(corpus, queries, kmax)
      .select(col("query_id"), col("rk").as("erk"), col("vec_id")))
    val approx = graft.Materialize.once(approxRanking
      .select(col("query_id"), col("rk").as("ark"), col("vec_id")))
    import corpus.sparkSession.implicits._
    val ksDf = broadcast(ks.map(_.toLong).toDF("k"))
    val hits = approx.join(exact, Seq("query_id", "vec_id"))
      .crossJoin(ksDf)
      .where(col("ark") <= col("k") && col("erk") <= col("k"))
      .groupBy(col("query_id"), col("k"))
      .agg(count(lit(1)).as("hits"))
    queries.select(col("vec_id").as("query_id")).crossJoin(ksDf)
      .join(hits, Seq("query_id", "k"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("k").cast("double"), 6).as("recall"))
      .orderBy(col("query_id"), col("k"))
  }

  // --------------------- 148d: truncated-dimension (MRL) recall audit
  /** Recall of TRUNCATED-dimension search vs full-dimension exact —
    * the audit a Matryoshka-representation (MRL) deployment runs
    * before serving prefix-dim vectors: rank by cosine over the first
    * `dims` components only, measure overlap with the full-dim
    * ranking at each cutoff. Unlike the IVF/PQ/LSH audits this one
    * prices a REPRESENTATION choice, not an index structure: at scale
    * a 4× dim cut is 4× less scan/shuffle/cache bytes for EVERY dense
    * operator upstream of re-rank, and this number says what ranking
    * quality that buys. Same [[rankingRecall]] core and output shape
    * as the other audits (truth side is test-scale brute force by
    * construction — the audit is the measurement tool). */
  def truncRecall(corpus: DataFrame, queries: DataFrame, ks: Seq[Int],
      dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    def trunc(df: DataFrame): DataFrame =
      df.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
    rankingRecall(corpus, queries, ks,
      cosineTopK(trunc(corpus), trunc(queries), ks.max))
  }

  // ------------------------------- 146: contrastive triplet mining
  /** Contrastive training-triplet export — the data product an
    * embedding-model fine-tune consumes: per anchor, its most-similar
    * SAME-label vector as the positive and its `nNeg` most-similar
    * DIFFERENT-label vectors as hard negatives (the
    * [[hardNegatives]] pick), with the per-pair margin
    * (pos_cos − neg_cos) the training loss will see. Anchors whose
    * label has no other member yield no triplet (no positive exists).
    *
    * One corpus scan: both rankings come from a single window pass
    * partitioned by (anchor, same-label side); the rank-filtered
    * frame is anchor-bounded and is materialized once, so the
    * pos × neg join never re-executes the scan. Same broadcast-probe
    * scale shape as [[cosineTopK]] ([[ivfTopK]] is the corpus-scale
    * swap-in for the scorer).
    *
    * Output: (anchor_id, pos_id, pos_cos, neg_rk, neg_id, neg_cos,
    * margin), `nNeg` rows per anchor. */
  def contrastiveTriplets(corpus: DataFrame, anchors: DataFrame,
      nNeg: Int): DataFrame = {
    val q = broadcast(anchors.select(col("vec_id").as("anchor_id"),
      col("embedding").as("q_emb"), col("label").cast("long").as("a_label")))
    val scored = corpus
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      .crossJoin(q)
      .where(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        (col("label") === col("a_label")).as("is_pos"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
    val w = Window.partitionBy(col("anchor_id"), col("is_pos"))
      .orderBy(col("cos").desc, col("vec_id"))
    val ranked = graft.Materialize.once(
      scored.withColumn("rk", row_number().over(w))
        .where((col("is_pos") && col("rk") === 1) ||
          (!col("is_pos") && col("rk") <= nNeg)))
    val pos = ranked.where(col("is_pos"))
      .select(col("anchor_id"), col("vec_id").as("pos_id"),
        col("cos").as("pos_cos"))
    val neg = ranked.where(!col("is_pos"))
      .select(col("anchor_id"), col("rk").cast("long").as("neg_rk"),
        col("vec_id").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, "anchor_id")
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("neg_rk"), col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
      .orderBy(col("anchor_id"), col("neg_rk"))
  }

  // ------------------------------- 104: nearest-centroid classification
  /** Rocchio / nearest-class-centroid auto-labeling: per-label
    * centroids from the labeled corpus, every vector re-assigned to
    * its most-cosine-similar class centroid — the cheap domain/topic
    * classifier corpus-curation pipelines run to audit labels and to
    * label new data (resubstitution form: a vector's own contribution
    * stays in its class centroid, the standard Rocchio evaluation).
    *
    * Engine-replayable like [[kmeansAssignments]]: centroids are
    * per-dimension EXACT means on the 1e-6 long grid (order-
    * independent sums), assignment is argmax of round(cos, 6) with
    * ties to the lowest label. Scale: one (label, dim) partial
    * aggregation (≤ labels·d rows out of the map side) + one
    * broadcast-centroid argmax pass — both corpus-linear, no
    * corpus-corpus join; centroids are labels·d·8 bytes (KBs).
    *
    * Output: (vec_id, label, pred_label, cos, agree). */
  def classifyByCentroid(corpus: DataFrame): DataFrame = {
    val cents = corpus
      .select(col("label").cast("long").as("cell_id"), posexplode(col("embedding")))
      .select(col("cell_id"), col("pos"),
        floor(col("col").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("qc"))
      .groupBy(col("cell_id"), col("pos"))
      .agg(sum(col("qc")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cell_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
        x => x.getField("s").cast("double") /
          (x.getField("n").cast("double") * lit(1000000.0))).as("centroid"))
    corpus
      .select(col("vec_id"), col("label").cast("long").as("label"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        struct(round(cosineD(col("embedding"), col("centroid")), 6).as("cos"),
          (-col("cell_id")).as("neg")).as("sc"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("sc")).as("best"))
      .select(col("vec_id"), col("label"),
        (-col("best.neg")).as("pred_label"), col("best.cos").as("cos"),
        (col("label") === -col("best.neg")).as("agree"))
  }

  /** #100's ranked same-cell top-3 neighbor set (vec_id, rk, nb_id,
    * cos), no output ordering — shared by graph_knn and the
    * graph_clusters mutual-edge symmetrization.
    *
    * nCells is THE scale dial (same-cell pair work = n²/nCells, so at
    * a fixed cell count the join is quadratic in corpus size — SURVEY
    * §5's nCells ≈ √n rule): the shipped queries derive it from the
    * corpus size via [[Knn.autoCells]] (max(16, ⌈√n⌉)) and the DuckDB
    * oracle replays the same formula from count(*), so the cell
    * assignment stays exact at every SF. ScaleCheck measured the fix:
    * graph_clusters 4.3× wall at 10× data with fixed 16 cells vs
    * ~2.8× at √n (SCALECHECK.md). `nCells <= 0` → auto. */
  private[graft] def knnTop3(s: SparkSession, d: String,
      nCells: Int = 0): DataFrame = {
    val nc = if (nCells > 0) nCells else Knn.autoCells(Tables.rowCount(s, d, "embeddings"))
    val assigned = graft.Materialize.once(
      Knn.ivfAssign(Tables.embeddings(s, d), Knn.ivfCentroids(Tables.embeddings(s, d), nc)))
    val nb = assigned.select(col("cell_id"), col("vec_id").as("nb_id"),
      col("embedding").as("nb_emb"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nb_id"))
    assigned.join(nb, "cell_id")
      .where(col("vec_id") =!= col("nb_id"))
      .select(col("vec_id"), col("nb_id"),
        round(Knn.cosine(col("embedding"), col("nb_emb")), 6).as("cos"))
      .withColumn("rk", row_number().over(wr)).where(col("rk") <= 3)
      .select(col("vec_id"), col("rk"), col("nb_id"), col("cos"))
  }

  /** #102's full pipeline (mutual-kNN edges → min-label components)
    * with the cell-count dial exposed for scale rehearsal. */
  private[graft] def semanticClusters(s: SparkSession, d: String,
      nCells: Int = 0): DataFrame = {
    // materialized ONCE: the kNN edge list feeds BOTH intersect
    // branches (itself and its mirror) — un-truncated, the whole IVF
    // build + probe re-ran per branch (r18-opt)
    val rr = graft.Materialize.once(knnTop3(s, d, nCells)
      .select(col("vec_id").as("doc_a"), col("nb_id").as("doc_b")))
    val mutual = rr.intersect(
        rr.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .where(col("doc_a") < col("doc_b"))
    val labels = Dedup.clusters(mutual)
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels.select(col("doc_id").as("vec_id"), col("cluster_id")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .orderBy(col("vec_id"))
  }
}
