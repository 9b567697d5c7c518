package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF-PQ: product-quantized ANN on top of the deterministic IVF
  * coarse quantizer — the index layout a 100 TB vector corpus
  * actually ships (FAISS-style IVFADC; Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * The embedding is split into `m` subvector blocks; each block gets
  * its own `kCodes`-entry codebook trained with the deterministic
  * integer-grid Lloyd machinery ([[Knn.kmeansAssignments]]'s rule:
  * first-k-by-id init, argmin of round(dist²,6) with ties to the
  * lowest code, exact 1e-6-grid centroid means), so the whole
  * training loop — and therefore the codes, the ADC scores and the
  * final ranking — replays bit-for-bit on an independent engine
  * (the knn_ivfpq DuckDB oracle re-runs every iteration).
  *
  * Index = coarse cell + m int8 codes per vector: n·(m + ~2) bytes
  * instead of n·d·4 raw floats (32× at d=64, m=8). Queries probe
  * `nProbe` coarse cells, score candidates by ASYMMETRIC distance
  * (exact query subvectors against code centroids — one m·kCodes
  * lookup table per query, broadcast), shortlist `rerank·k` by ADC,
  * then exact-cosine re-rank the shortlist only.
  *
  * Scale shape: training is per-iteration one broadcast-codebook
  * assignment pass (m·kCodes·(d/m) doubles ≈ KBs broadcast; the
  * argmin combines map-side so n·m rows shuffle once) + one
  * (block, code, pos) partial aggregation (m·kCodes·(d/m) rows out).
  * Serving shuffles the code table once on vec_id; ADC tables and
  * probes broadcast. Nothing is ever corpus × corpus.
  *
  * Determinism notes: dist² is the sequential dot product of the
  * difference vector with itself (sequential, index-order fold);
  * ADC partials are 1e-6-grid BIGINTs so the per-candidate sum is
  * order-free; every rank breaks ties by id.
  */
object Pq {

  private def dotSeq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** round(Σ(a_i−b_i)², 6) with the cross-engine-stable term order:
    * difference vector first, then the sequential self-dot — native
    * codegen'd kernel (the n·m·kCodes assignment evaluations paid
    * interpreted lambdas per element in the HOF form).
    * `ReferenceForms.dist2Hof` in the test sources is the reference;
    * NativeExprSpec pins bit parity. */
  private def dist2(a: Column, b: Column): Column =
    round(graft.expressions.native.dist2D(a, b), 6)

  /** (id, block, sub) — vector split into `m` equal blocks of
    * d/m doubles. Requires m | d, enforced per row inside the slice
    * width expression (`size div m` alone would FLOOR and silently
    * drop the trailing d mod m dimensions from training, codes and
    * ADC scoring — a recall bug invisible to every downstream check). */
  private[graft] def blocks(vecs: DataFrame, m: Int, idCol: String = "vec_id"): DataFrame = {
    // the check lives in the width expression (not a droppable side
    // column) so column pruning can never eliminate it; `div` not `/`
    // because `/` would widen to double
    val s = when(expr(s"size(v) % $m") === 0, expr(s"size(v) div $m"))
      .otherwise(raise_error(concat(
        lit(s"Pq.blocks: m=$m must divide the embedding dimension, got d="),
        expr("size(v)").cast("string"))).cast("int"))
      .cast("int")
    vecs
      .select(col(idCol), transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("block"), col("v"))
      .select(col(idCol), col("block"),
        slice(col("v"), col("block") * s + 1, s).as("sub"))
  }

  /** The (block, cell_id, c) codebook grouped to ONE row per block —
    * the broadcast side of the narrow-map code assignment. The argmin
    * kernel's full (dist², cell_id) tie-break makes the result
    * independent of collect_list's build order. */
  private def cellsByBlock(cents: DataFrame): DataFrame =
    cents.groupBy(col("block"))
      .agg(collect_list(struct(col("cell_id"), col("c"))).as("cells"))

  /** Nearest-code assignment of subvector blocks against (block,
    * cell_id, c) codebooks as a NARROW MAP (r19-opt): broadcast-join
    * the per-block codebook ARRAYS (m rows) and evaluate the argmin as
    * one codegen'd native call per (vec_id, block) row
    * ([[graft.expressions.Kernels.pqArgmin]] — replicates the former
    * min(struct(round(dist², 6), cell_id)) grid compare and tie-break
    * bit-for-bit; PqSpec/NativeExprSpec pin it). No n·m-row argmin
    * exchange. History: a FIRST r19 attempt folded the argmin in HOF
    * lambdas and was reverted — HOFs evaluate interpreted and the
    * m·kCodes dist² kernel lost codegen; the native expression keeps
    * codegen AND drops the exchange. */
  private def assignCodes(blk: DataFrame, cents: DataFrame): DataFrame =
    blk.join(broadcast(cellsByBlock(cents)), "block")
      .select(col("vec_id"), col("block"), col("sub"),
        graft.expressions.native.pqArgmin(col("sub"), col("cells")).as("code"))

  /** [[assignCodes]] for consumers that only need the CODES (the
    * subvector never rides anything now — the assignment is a narrow
    * map either way; kept as the intent-naming face). */
  private def assignCodesOnly(blk: DataFrame, cents: DataFrame): DataFrame =
    assignCodes(blk, cents).select(col("vec_id"), col("block"), col("code"))

  /** Train per-block codebooks: (block, cell_id, c). Init = the
    * subvectors of the `kCodes` lowest-vec_id vectors (rank-based,
    * like [[Knn.ivfCentroids]]); `iters` Lloyd rounds with exact
    * integer-grid means; dead codes drop (standard Lloyd death). */
  private[graft] def trainCodebooks(corpus: DataFrame, m: Int, kCodes: Int,
      iters: Int): DataFrame =
    trainCodebooksOn(graft.Materialize.once(blocks(corpus, m)),
      corpus, m, kCodes, iters)

  /** [[trainCodebooks]] over an ALREADY-MATERIALIZED blocks frame —
    * callers that also encode the corpus (ivfPqTopK, publishIvfPqLake)
    * share ONE blocks checkpoint between training and the final code
    * assignment instead of materializing the corpus-sized frame twice
    * (r19-opt). The returned codebook frame is ALWAYS materialized
    * (the iters=0 init included), so callers never re-wrap it in
    * [[graft.Materialize.once]] — the r18 form double-checkpointed the
    * trained books. */
  private def trainCodebooksOn(blk: DataFrame, corpus: DataFrame,
      m: Int, kCodes: Int, iters: Int): DataFrame = {
    require(m >= 1 && kCodes >= 1 && iters >= 0,
      s"need m/kCodes >= 1 and iters >= 0, got $m/$kCodes/$iters")
    var cents = blocks(corpus.orderBy(col("vec_id")).limit(kCodes), m)
      .select(col("block"), col("vec_id").as("cell_id"), col("sub").as("c"))
    if (iters == 0) cents = graft.Materialize.once(cents)
    var r = 0
    while (r < iters) {
      // per-round materialization (m·kCodes·(d/m)-row — KBs): without
      // it round r's plan nests rounds 1..r−1 and the final pass
      // re-executes every earlier assignment over the materialized
      // blocks — O(iters²) corpus passes (same fix as
      // [[Knn.kmeansAssignments]]; PqSpec pins plan shape in iters)
      val next = graft.Materialize.once(assignCodes(blk, cents)
        .select(col("block"), col("code").as("cell_id"), posexplode(col("sub")))
        .select(col("block"), col("cell_id"), col("pos"),
          floor(col("col") * lit(1000000.0) + lit(0.5)).cast("long").as("qc"))
        .groupBy(col("block"), col("cell_id"), col("pos"))
        .agg(sum(col("qc")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("block"), col("cell_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => x.getField("s").cast("double") /
            (x.getField("n").cast("double") * lit(1000000.0))).as("c")))
      graft.Materialize.free(cents) // no-op on the un-materialized init
      cents = next
      r += 1
    }
    cents
  }

  /** IVF-PQ ANN top-k: coarse-probe `nProbe` cells, ADC-shortlist
    * `rerank`·k candidates from the int8 code index, exact-cosine
    * re-rank the shortlist. Output (query_id, rk, vec_id, cos, adc)
    * — `adc` kept so the approximation quality is visible (and
    * auditable against [[Knn.cosineTopK]], see PqSpec's recall
    * audit). `nCells <= 0` → [[Knn.autoCells]] from `corpusSize`
    * or a count. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, kCodes: Int = 16, iters: Int = 2,
      nProbe: Int = 4, rerank: Int = 4,
      nCells: Int = 0, corpusSize: Long = -1L): DataFrame = {
    val nc = if (nCells > 0) nCells
      else Knn.autoCells(if (corpusSize > 0) corpusSize else corpus.count())
    // materialize the multi-consumer subtrees ONCE (coarse centroids
    // feed assignment + probes; the assignment feeds candidates + the
    // exact re-rank, which reuses its embedding column instead of a
    // fresh corpus scan; ONE blocks checkpoint shared by training and
    // the final encode — r19-opt) — the PlanSpec ≤6-parquet-scan budget
    val coarse = graft.Materialize.once(Knn.ivfCentroids(corpus, nc))
    val assigned = graft.Materialize.once(Knn.ivfAssign(corpus, coarse))
    val blk = graft.Materialize.once(blocks(corpus, m))
    val books = trainCodebooksOn(blk, corpus, m, kCodes, iters)
    val codes = assignCodesOnly(blk, books)
    probe(coarse, assigned, books, codes, queries, k, m, nProbe, rerank)
  }

  /** Query-side IVF-PQ serving over ALREADY-BUILT index tables —
    * shared verbatim by the in-session [[ivfPqTopK]] and the
    * published-lake [[ivfPqTopKIndexed]], so "train once, probe many"
    * is oracle-provably the same ranking as train-per-query. */
  private[graft] def probe(coarse: DataFrame, vectors: DataFrame,
      books: DataFrame, codes: DataFrame, queries: DataFrame, k: Int, m: Int,
      nProbe: Int, rerank: Int): DataFrame = {
    // query-side: coarse probes (the knn_ivf pattern) ...
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cell_id"))
    // queries·nProbe rows, consumed THREE times (candidate join, ADC
    // re-rank's qemb, and the shortlist's query embeddings): without
    // the materialization each consumer re-executes the crossJoin and
    // re-scans the coarse table (3 scans of a published index table
    // per probe — the PlanSpec ≤6-scan budget caught it)
    val probes = graft.Materialize.once(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(coarse))
      .select(col("query_id"), col("q_emb"), col("cell_id"),
        round(Knn.cosine(col("q_emb"), col("centroid")), 6).as("pcos"))
      .withColumn("prk", row_number().over(wProbe))
      .where(col("prk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell_id")))
    // ... and the per-query ADC lookup table: dot(query block, code
    // centroid) on the 1e-6 BIGINT grid so candidate sums are
    // order-free (queries · m · kCodes rows — broadcast)
    val adcTable = blocks(queries.select(col("vec_id").as("query_id"),
        col("embedding")), m, idCol = "query_id")
      .join(books, "block")
      .select(col("query_id"), col("block"), col("cell_id").as("code"),
        round(round(dotSeq(col("sub"), col("c")), 6) * lit(1000000.0))
          .cast("long").as("pdot_i"))
    val cand = vectors.join(broadcast(probes), Seq("cell_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val scored = cand.join(codes, "vec_id")
      .join(broadcast(adcTable), Seq("query_id", "block", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot_i")).as("adc_i"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_i").desc, col("vec_id"))
    val short = scored.withColumn("srk", row_number().over(wShort))
      .where(col("srk") <= k * rerank)
      .select(col("query_id"), col("vec_id"), col("adc_i"))
    val emb = vectors.select(col("vec_id"), col("embedding"))
    val qemb = broadcast(probes.select(col("query_id"), col("q_emb")).distinct())
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    short.join(emb, "vec_id").join(qemb, "query_id")
      .select(col("query_id"), col("vec_id"),
        round(Knn.cosine(col("embedding"), col("q_emb")), 6).as("cos"),
        round(col("adc_i").cast("double") / lit(1000000.0), 6).as("adc"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }

  // -------------------------------------------------- published index
  /** Publish the trained IVF-PQ index through the versioned lake —
    * the production split [[ivfPqTopK]] folds into one call: coarse
    * centroids, per-block PQ codebooks, the int8 code table and the
    * cell-partitioned vector table train/assign ONCE here and commit
    * as ONE atomic group version; probes ([[ivfPqTopKIndexed]]) then
    * read the published tables and pay only query-side work. Tables:
    *   coarse  (cell_id, centroid)         — broadcast at probe time
    *   books   (block, cell_id, c)         — the PQ codebooks
    *   codes   (vec_id, block, code)       — n·m rows, the index body
    *   vectors (vec_id, embedding, cell_id) — partitioned BY cell_id,
    *     so a probe's candidate join prunes to its nProbe cells
    *     (dynamic partition pruning against the broadcast probe list)
    *   meta    (m, k_codes, iters, n_cells) — probe-parameter guard
    * One pointer = one consistent snapshot: codes can never pair with
    * another version's codebooks (ADC against foreign codebooks is
    * silent garbage). Returns the published version. */
  def publishIvfPqLake(corpus: DataFrame, dir: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 2,
      nCells: Int = 0, corpusSize: Long = -1L): Int = graft.Materialize.scoped {
    val sp = corpus.sparkSession
    import sp.implicits._
    val nc = if (nCells > 0) nCells
      else Knn.autoCells(if (corpusSize > 0) corpusSize else corpus.count())
    val coarse = graft.Materialize.once(Knn.ivfCentroids(corpus, nc))
    val assigned = graft.Materialize.once(Knn.ivfAssign(corpus, coarse))
    val blk = graft.Materialize.once(blocks(corpus, m))
    val books = trainCodebooksOn(blk, corpus, m, kCodes, iters)
    val codes = assignCodesOnly(blk, books)
    graft.sources.StormSinks.writeVersionedGroup(sp, dir, Seq(
      "coarse" -> coarse,
      "books" -> books,
      "codes" -> codes,
      "vectors" -> assigned.select(col("vec_id"), col("embedding"), col("cell_id")),
      "meta" -> Seq((m, kCodes, iters, nc))
        .toDF("m", "k_codes", "iters", "n_cells")),
      partitionCols = Map("vectors" -> Seq("cell_id")))
  }

  /** Incremental ADD for a [[publishIvfPqLake]] index — what FAISS
    * `add()` does to a trained IVFADC index: encode `newVectors`
    * under the FROZEN published coarse centroids and PQ codebooks
    * (one pointer resolution = one consistent snapshot), and commit
    * the new codes + cell-assigned vectors as O(batch) delta segments
    * under the same pointer ([[graft.sources.StormSinks
    * .appendDeltaGroup]]) — new vectors no longer force a full
    * retrain/republish. Readers union the segments at one pointer
    * resolution, so probe-after-append is IDENTICAL to a full
    * re-encode of the grown corpus under the same frozen codebooks
    * (PqSpec pins the equality). The codebooks themselves retrain
    * only on the maintenance/republish cadence — the standard FAISS
    * add() drift contract: ADC recall decays as the data distribution
    * drifts from the trained codebooks, and the knn_recall_pq audit
    * is the number that says when to retrain (the #123d discipline:
    * O(batch) deltas between cadenced O(state) folds).
    *
    * `maxSegments` bounds the segment-count read amplification via
    * the auto compaction cadence ([[graft.sources.StormSinks
    * .maintainGroupSegments]]); 0 disables. Appended segments are
    * disjoint new vec_ids by writer contract, so the fold is a plain
    * union. Delta segments inherit the published layout (the sink
    * reproduces the base segment's cell_id partitioning), so indexed
    * probes keep directory pruning over deltas too, and compaction
    * carries the layout through the fold. Returns the committed
    * version. */
  def appendToIvfPqLake(spark: org.apache.spark.sql.SparkSession,
      dir: String, newVectors: DataFrame,
      maxSegments: Int = 64): Int = graft.Materialize.scoped {
    import graft.sources.StormSinks
    val ver = StormSinks.currentVersionName(spark, dir)
    val m = StormSinks.readGroupTableAt(spark, dir, ver, "meta")
      .head().getAs[Int]("m")
    val coarse = StormSinks.readGroupTableAt(spark, dir, ver, "coarse")
    val books = StormSinks.readGroupTableAt(spark, dir, ver, "books")
    val assigned = Knn.ivfAssign(newVectors, coarse)
    // single consumer — no materialization needed for the batch blocks
    val codes = assignCodesOnly(blocks(newVectors, m), books)
    val v = StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("codes" -> codes,
        "vectors" -> assigned
          .select(col("vec_id"), col("embedding"), col("cell_id"))))
    if (maxSegments > 0) StormSinks.maintainGroupSegments(spark, dir, maxSegments)
    v
  }

  /** Serving probe over a [[publishIvfPqLake]] index: resolves the
    * pointer ONCE (all five tables from the same immutable snapshot),
    * validates the caller's probe parameters against the published
    * meta where they must match the training (m — the ADC lookup
    * splits queries into the TRAINED block count; a mismatch scores
    * garbage silently), and runs the identical query-side plan as
    * [[ivfPqTopK]] — oracle-provably the same ranking. Per-probe cost:
    * query-sized broadcasts + one scan of codes and the probed
    * vector partitions; the corpus-sized training never re-runs. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nProbe: Int = 4, rerank: Int = 4): DataFrame =
    ivfPqTopKIndexedAt(spark, dir,
      graft.sources.StormSinks.currentVersionName(spark, dir),
      queries, k, nProbe, rerank)

  /** [[ivfPqTopKIndexed]] pinned to an explicit version — the form a
    * streaming serving face uses so queries and index tables resolve
    * from ONE snapshot (a republish between two resolutions would
    * otherwise pair one version's queries with another's codebooks). */
  def ivfPqTopKIndexedAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      ver: String, queries: DataFrame, k: Int,
      nProbe: Int = 4, rerank: Int = 4): DataFrame = {
    import graft.sources.StormSinks
    val meta = StormSinks.readGroupTableAt(spark, dir, ver, "meta").head()
    val m = meta.getAs[Int]("m")
    val coarse = StormSinks.readGroupTableAt(spark, dir, ver, "coarse")
    val books = StormSinks.readGroupTableAt(spark, dir, ver, "books")
    val codes = StormSinks.readGroupTableAt(spark, dir, ver, "codes")
    // partition-column type inference reads cell_id back as INT;
    // restore the trained LONG so ranking structs compare identically
    val vectors = StormSinks.readGroupTableAt(spark, dir, ver, "vectors")
      .withColumn("cell_id", col("cell_id").cast("long"))
    probe(coarse, vectors, books, codes, queries, k, m, nProbe, rerank)
  }
}
