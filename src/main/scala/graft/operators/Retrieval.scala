package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** The append-capable published layout of the BM25 sparse index —
  * the last published index family to gain a continuous-ingest face
  * (minhash #95c, Jaccard #123c, clusters #123d and IVF-PQ all have
  * one; #95b's single-table layout serves but cannot absorb new docs
  * without a full corpus-sized rebuild).
  *
  * The split that makes append possible: tf/dl are PER-DOC (new docs
  * bring their own), while df / n_docs / avgdl are CORPUS-GLOBAL —
  * appending docs honestly would change every published weight. So
  * the append freezes the global statistics (exactly how a
  * Lucene/Elasticsearch segment scores against its snapshot
  * statistics, and the sparse twin of [[Pq.appendToIvfPqLake]]'s
  * frozen codebooks): new docs' KNOWN-vocabulary tokens score under
  * the published df/n_docs/avgdl, out-of-vocabulary tokens contribute
  * nothing (no frozen idf exists for them — the frozen-vocabulary
  * contract, what FAISS add() does with its frozen coarse space),
  * and the statistics retrain on the republish cadence. The
  * `retrieval_indexed_append` oracle replays publish + frozen-stats
  * append + probe in one hash, so the contract is correctness-gated,
  * not just documented.
  *
  * Tables (ONE atomic versioned group — weights can never pair with
  * another version's statistics):
  *   weights (doc_id, token, w_i) — the serving table (#95b's shape)
  *   dl      (doc_id, dl)         — per-doc lengths (append-side audit)
  *   df      (token, df)          — the frozen document frequencies
  *   stats   (n_docs, avgdl)      — the frozen corpus statistics
  */
object Retrieval {

  /** Train-once publish: build the full integer-grid BM25 index and
    * commit all five tables as one version (meta carries the
    * streaming face's last_batch replay gate, -1 = none committed).
    * Returns the version. */
  def publishBm25Lake(doc: DataFrame, dir: String): Int =
    graft.Materialize.scoped {
      val sp = doc.sparkSession
      import sp.implicits._
      val (tf, dl0) = bm25TfDl(doc)
      val dl = graft.Materialize.once(dl0)
      val dfreq = graft.Materialize.once(
        tf.groupBy(col("token")).agg(count(lit(1)).as("df")))
      val stats = graft.Materialize.once(
        doc.agg(count(lit(1)).as("n_docs"))
          .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
          .select(col("n_docs"),
            (col("sum_dl").cast("double") / col("n_docs").cast("double"))
              .as("avgdl")))
      graft.sources.StormSinks.writeVersionedGroup(sp, dir, Seq(
        "weights" -> bm25WeightsFrom(tf, dl, dfreq, stats),
        "dl" -> dl, "df" -> dfreq, "stats" -> stats,
        "meta" -> Seq(-1L).toDF("last_batch")))
    }

  /** Frozen-stats append: score `newDocs` under the PUBLISHED
    * statistics (one pointer resolution = one snapshot) and commit
    * their weights + dl as O(batch) delta segments under the same
    * pointer ([[graft.sources.StormSinks.appendDeltaGroup]]); df and
    * stats carry forward untouched. Probe-after-append is IDENTICAL
    * to a full rebuild of the grown corpus under the same frozen
    * statistics (RetrievalLakeSpec pins it); ranking quality decays
    * as the true df/avgdl drift from the frozen snapshot — the
    * republish-cadence signal, measurable with [[Knn.rankingEval]]
    * against the exact rebuild. `maxSegments` bounds read
    * amplification via the compaction cadence (#16i); 0 disables.
    * Appended doc_ids must be disjoint from published ones (writer
    * contract, same as every delta table here). Returns the version. */
  def appendToBm25Lake(spark: SparkSession, dir: String,
      newDocs: DataFrame, maxSegments: Int = 64): Int =
    appendBm25Delta(spark, dir, newDocs, replaces = Nil, maxSegments)

  /** The commit core shared by the batch append and the streaming
    * ingest: the stream passes its last_batch meta as a `replaces`
    * table so weights delta + replay gate land in ONE pointer swap —
    * a two-commit design would have a crash state from which a
    * replayed batch double-appends its weights (duplicate doc rows
    * inflate every score silently). */
  private def appendBm25Delta(spark: SparkSession, dir: String,
      newDocs: DataFrame, replaces: Seq[(String, DataFrame)],
      maxSegments: Int): Int =
    graft.Materialize.scoped {
      import graft.sources.StormSinks
      val ver = StormSinks.currentVersionName(spark, dir)
      val dfreq = StormSinks.readGroupTableAt(spark, dir, ver, "df")
      val stats = StormSinks.readGroupTableAt(spark, dir, ver, "stats")
      val (tf, dl0) = bm25TfDl(newDocs)
      val dl = graft.Materialize.once(dl0)
      val v = StormSinks.appendDeltaGroup(spark, dir, appends = Seq(
        "weights" -> bm25WeightsFrom(tf, dl, dfreq, stats),
        "dl" -> dl), replaces = replaces)
      if (maxSegments > 0)
        StormSinks.maintainGroupSegments(spark, dir, maxSegments)
      v
    }

  /** Streaming ingest for a [[publishBm25Lake]] index — the 24/7 face
    * of the frozen-stats append (the 95d lake/stream discipline
    * applied to the sparse index): each micro-batch of documents
    * encodes under the published statistics and commits weights + dl
    * deltas AND the batch_seq replay gate in one pointer swap, so the
    * served index always equals a batch [[appendToBm25Lake]] over
    * everything ingested so far (RetrievalLakeSpec pins it). Crash
    * contract: replay at-or-below the committed last_batch skips
    * entirely (the delta already landed — the one-commit atomicity
    * above); a crash BEFORE the commit replays byte-identically
    * against the old snapshot. The standard freshness guards reject
    * both corruption directions (used gate + fresh checkpoint, and a
    * lost/wiped index dir under a kept checkpoint). Statistics drift
    * is the operator's republish-cadence signal, as in the batch
    * face. */
  def startBm25Ingest(spark: SparkSession, inDir: String, dir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 16,
      autoCompactSegments: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.StormSinks
    val committed = StormSinks.readGroupTableAt(spark, dir,
      StormSinks.currentVersionName(spark, dir), "meta").head().getLong(0)
    graft.streaming.StreamOps.requireCheckpointMatchesState(spark, checkpointDir,
      "bm25", "graft.Retrieval.startBm25Ingest", dir, committed >= 0,
      "republish the index to start over", lostAs = Some("republished"))
    val source = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    graft.streaming.StreamOps.startForeachBatch(source, checkpointDir, "bm25") {
      (batch, batchId) =>
        val s2 = batch.sparkSession
        import s2.implicits._
        val lastBatch = StormSinks.readGroupTableAt(s2, dir,
          StormSinks.currentVersionName(s2, dir), "meta").head().getLong(0)
        if (batchId > lastBatch) {
          appendBm25Delta(s2, dir, batch.select(col("doc_id"), col("text")),
            replaces = Seq("meta" -> Seq(batchId).toDF("last_batch")),
            maxSegments = autoCompactSegments)
          ()
        }
    }
  }

  /** The serving table at the current version (all segments, one
    * pointer resolution) — feed it to [[sparseTopK]]
    * or any sparse scorer. */
  def readBm25Weights(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StormSinks.readGroupTableAt(spark, dir,
      graft.sources.StormSinks.currentVersionName(spark, dir), "weights")

  /** Full BM25 inverted index on the exact 1e-6 integer grid:
    * (doc_id, token, w_i). The corpus-sized tf aggregate feeds
    * dl/df/score; one Materialize inside keeps it single-execution.
    * This is the table [[graft.sources.StormSinks.writeVersionedTable]]
    * persists for the serving tier (retrieval_indexed). */
  private[graft] def bm25WeightsOf(doc: DataFrame): DataFrame = {
    val (tf, dl) = bm25TfDl(doc)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = doc.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    bm25WeightsFrom(tf, dl, dfreq, stats)
  }

  /** (tf, dl) of a corpus: the per-document term statistics — the
    * only parts of the BM25 index that are PER-DOC (and therefore
    * appendable); df/n_docs/avgdl are corpus-global. */
  private[graft] def bm25TfDl(doc: DataFrame): (DataFrame, DataFrame) = {
    val toks = doc.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
    val tf = graft.Materialize.once(
      toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
    (tf, tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
  }

  /** The BM25 scoring formula over EXPLICIT statistics frames — ONE
    * definition shared by the train-in-session [[bm25WeightsOf]] and
    * the frozen-stats append ([[Retrieval.appendToBm25Lake]]), so
    * "score new docs under the published statistics" is provably the
    * same arithmetic as publish-time scoring. The df join is INNER:
    * tokens absent from `dfreq` (out-of-vocabulary under a frozen
    * index) contribute no weight — the frozen-vocabulary contract. */
  private[graft] def bm25WeightsFrom(tf: DataFrame, dl: DataFrame,
      dfreq: DataFrame, stats: DataFrame): DataFrame = {
    val tfD = col("tf").cast("double")
    val dfD = col("df").cast("double")
    val idf = log((col("n_docs").cast("double") - dfD + 0.5) / (dfD + 0.5) + 1.0)
    val denom = tfD + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl").cast("double") / col("avgdl"))
    tf.join(dl, "doc_id").join(dfreq, "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"),
        round(round(idf * (tfD * 2.2) / denom, 6) * 1e6).cast("long").as("w_i"))
  }

  /** The sparse-retrieval serving probe over a BM25 weight index
    * ([[bm25WeightsOf]] or its lake re-read): 10 deterministic query
    * vectors (docs ≤ 10's top-3 terms, from the index itself) retrieve
    * top-3 docs by order-free BIGINT dot product; the index never
    * reshuffles (query side broadcast). */
  private[graft] def sparseTopK(weights: DataFrame, k: Int = 3): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("w_i").desc, col("token"))
    val qterms = weights.where(col("doc_id") <= 10)
      .withColumn("qrk", row_number().over(wq)).where(col("qrk") <= 3)
      .select(col("doc_id").as("query_id"), col("token"), col("w_i").as("qw_i"))
    val hits = weights.join(broadcast(qterms), "token")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("qw_i") * col("w_i")).as("score_i"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score_i").desc, col("doc_id"))
    hits.withColumn("rk", row_number().over(wr)).where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("score_i"))
      .orderBy(col("query_id"), col("rk"))
  }
}
