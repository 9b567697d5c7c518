package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.Text
import graft.operators.Sampling
import graft.sources.StormSinks

/** Streaming corpus prep: the training-data pipeline as documents
  * arrive, instead of as a nightly batch.
  *
  * Quality gate, hash sampling, and chunking are all stateless narrow
  * maps, so the SAME transform runs in batch and in Structured
  * Streaming — `prepare` takes either a static or a streaming
  * DataFrame, and CorpusStreamSpec asserts the outputs are
  * row-identical. Determinism is what makes this safe on an
  * at-least-once source: a redelivered document re-hashes to the same
  * sample decision and re-chunks to the same windows, so the
  * idempotent file sink collapses replays.
  *
  * Near-dup cluster dedup is deliberately NOT here: connected
  * components is a global fixpoint over the whole corpus and has no
  * incremental single-pass form — at scale it runs as a periodic batch
  * compaction over the chunk lake (Dedup.clusters), not in-stream.
  * In-stream exact dedup on the content fingerprint is the streaming
  * analogue (see StormStream.startDedupedEnrichment for the pattern).
  *
  * A new face is one per-batch body plus one skeleton call:
  * [[StreamOps.startForeachBatch]] with the face's checkpoint
  * subdirectory name (a body the composed [[startCorpusIngest]] also
  * runs is a named private `*BatchBody`), or [[StreamOps
  * .startParquetSink]] for a stream-native transform. A face whose
  * state or output is keyed to batch ids first passes
  * [[StreamOps.requireCheckpointMatchesState]].
  */
object CorpusStream {

  /** documents-table schema (streaming sources must declare one). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The batch=stream corpus-prep transform: quality >= 0.5, stratified
    * language sample, 64/16 context-window chunks. */
  def prepare(docs: DataFrame): DataFrame = {
    val gated = docs
      .withColumn("quality", Text.qualityScore(col("text")))
      .where(col("quality") >= 0.5)
    val sampled = Sampling.stratifiedSample(gated, col("doc_id"), col("lang"),
      rates = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3), defaultRate = 0.1)
    Text.chunk(sampled.select(col("doc_id"), col("lang"), col("text")),
        col("text"), chunkSize = 64, overlap = 16)
      .drop("text")
  }

  def readDocuments(spark: SparkSession, inDir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)

  /** Size-targeted repartition for BATCH-SIZED micro-batch outputs —
    * replaces the old `coalesce(1)`, which pinned every post-shuffle
    * write stage to ONE task: bounded at maxFilesPerTrigger = 16, but
    * a deployment raising the trigger size silently serialized its
    * output. File count now scales with the batch
    * (`ceil(rows / spark.graft.stream.rowsPerFile)`, default 4M rows
    * ≈ a few hundred MB of documents, capped at 1024 tasks), so small
    * test batches still write one file while a large trigger fans
    * out. The count is an extra bounded action over the batch-sized
    * frame (its expensive inputs are Materialize.once'd by the
    * callers). Genuinely STATE-BOUNDED outputs (the trends stream's
    * k-slot summary, the drift gate's feature×bucket terms) keep
    * coalesce(1) — their row count is independent of trigger size. */
  private def sizedBatchOutput(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rowsPerFile = df.sparkSession.conf
      .getOption("spark.graft.stream.rowsPerFile").map(_.toLong)
      .getOrElse(4000000L)
    require(rowsPerFile > 0, s"spark.graft.stream.rowsPerFile must be > 0")
    // materialize before sizing: count() would otherwise execute the
    // full output plan once for the size and AGAIN for the write
    // (every caller sits inside Materialize.scoped, so the frame is
    // freed with the batch)
    val m = graft.Materialize.once(df)
    val n = m.count()
    m.repartition(math.max(1L, math.min(1024L,
      (n + rowsPerFile - 1) / rowsPerFile)).toInt)
  }

  /** Start the chunk sink: [[prepare]] is a narrow map, so it runs as a
    * plain parquet file sink. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamOps.startParquetSink(prepare(readDocuments(spark, inDir)), outDir,
      checkpointDir, "chunks")

  /** [[start]]'s transform as a foreachBatch body for the composed
    * [[startCorpusIngest]] face (same `prepare`, same append-parquet
    * rows; only the file layout differs from the streaming sink).
    * Returns the written frame. */
  private def prepBatchBody(batch: DataFrame, outDir: String,
      mat: DataFrame => DataFrame = identity): DataFrame = {
    val out = mat(prepare(batch))
    out.write.mode("append").parquet(outDir)
    out
  }

  /** Decontaminating variant: drop documents overlapping the STATIC
    * benchmark before prep. The doc-level anti-join needs a per-doc
    * aggregation over exploded shingles — stateful (unbounded) as a
    * pure stream op — so it runs through `foreachBatch`: each
    * micro-batch is a static DataFrame, [[graft.operators
    * .Decontaminate.clean]]'s broadcast probe applies as-is, and the
    * checkpoint replays only uncommitted batches on restart. The
    * benchmark set is per-session static (an eval suite), broadcast
    * once per batch — no state grows with the stream. */
  def startClean(spark: SparkSession, inDir: String,
      benchmark: org.apache.spark.sql.DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamOps.startForeachBatch(readDocuments(spark, inDir), checkpointDir, "clean") {
      (batch, _) => cleanBatchBody(batch, benchmark, outDir)
    }

  /** [[startClean]]'s per-batch body — ONE definition shared with the
    * composed [[startCorpusIngest]] face, so composition is
    * parity-by-construction. `mat` is the funnel hook (the
    * startPretrainPrep discipline: when a funnel counts the output,
    * the count must ride the SAME frame the write flowed through).
    * Returns the written frame. */
  private def cleanBatchBody(batch: DataFrame,
      benchmark: org.apache.spark.sql.DataFrame, outDir: String,
      mat: DataFrame => DataFrame = identity): DataFrame = {
    val out = mat(prepare(
      graft.operators.Decontaminate.clean(batch, benchmark, k = 8)))
    out.write.mode("append").parquet(outDir)
    out
  }

  /** Streaming watermark gate: the 24/7 face of the `text_watermark`
    * batch operator (#154) — per micro-batch, every document's
    * greenlist z-test verdict lands beside the ingest so
    * model-generated text is visible (and filterable downstream via
    * `.where(!watermarked)`) at the next trigger, not the nightly
    * audit. Stateless per batch: the report is a narrow deterministic
    * map ([[graft.operators.Watermark.report]] — the SAME body the
    * batch key runs), so a replayed batch re-emits byte-identical
    * rows and [[latestWatermark]] collapses them (the standard
    * at-least-once append / idempotent-reader split). No state grows
    * with the stream. */
  def startWatermarkGate(spark: SparkSession, inDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery =
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "watermark") {
      (batch, batchId) => wmBatchBody(batch, batchId, outDir)
    }

  /** [[startWatermarkGate]]'s per-batch body — ONE definition shared
    * with the composed [[startCorpusIngest]] face. Returns the
    * written frame. */
  private def wmBatchBody(batch: DataFrame, batchId: Long,
      outDir: String, mat: DataFrame => DataFrame = identity): DataFrame = {
    val out = mat(graft.operators.Watermark
      .report(batch.select(col("doc_id"), col("text")))
      .withColumn("batch_seq", lit(batchId)))
    out.write.mode("append").parquet(outDir)
    out
  }

  /** Current per-document watermark verdicts from the gate's append
    * sink: replay duplicates and re-crawled docs collapse to the
    * NEWEST row per doc_id (max batch_seq — the latestCleanLines
    * discipline). Empty on cold start. */
  def latestWatermark(spark: SparkSession, outDir: String): DataFrame =
    newestPerDoc(spark, outDir, Seq("batch_seq"), StructType(Seq(
      StructField("doc_id", LongType), StructField("n_scored", LongType),
      StructField("n_green", LongType), StructField("green_ratio", DoubleType),
      StructField("z", DoubleType), StructField("watermarked", BooleanType))))

  /** The newest row per doc_id of an append sink: replay duplicates and
    * re-emitted docs collapse to the row with the greatest `order` key
    * (a bare dropDuplicates would keep an arbitrary one). `schema`
    * lists doc_id then the value columns; a cold start (nothing
    * written yet) returns it empty. Order keys missing from older
    * files read as 0. */
  private def newestPerDoc(spark: SparkSession, outDir: String,
      order: Seq[String], schema: StructType): DataFrame = {
    // mergeSchema: a plain read takes the schema of an arbitrary first
    // file, so one legacy file lacking an order key would hide that
    // key for every row
    val t = try spark.read.option("mergeSchema", "true").parquet(outDir) catch {
      case _: org.apache.spark.sql.AnalysisException =>
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val keyed = order.foldLeft(t) { (d, k) =>
      d.withColumn(k,
        if (d.columns.contains(k)) coalesce(col(k), lit(0L)) else lit(0L))
    }
    val vals = schema.fieldNames.toSeq.tail
    keyed.groupBy(col("doc_id"))
      .agg(max(struct((order ++ vals).map(col): _*)).as("m"))
      .select(col("doc_id") +: vals.map(v => col(s"m.$v").as(v)): _*)
  }

  /** Incremental-ingest dedup variant: drop documents that exactly or
    * nearly duplicate the EXISTING corpus before prep — the streaming
    * form of the `dedup_incremental` batch query. The corpus minhash
    * index and fingerprint set are built ONCE per session
    * (materialized static frames — the persistent index a lake
    * deployment stores); each micro-batch probes them through the
    * asymmetric band join ([[graft.operators.Dedup
    * .minhashPairsAgainstIndex]]) and a fingerprint anti-join, so no
    * corpus-corpus work ever happens and no state grows with the
    * stream. At-least-once safe: the probes are deterministic, so a
    * replayed batch filters identically and the idempotent sink
    * collapses it. */
  def startIncrementalDedup(spark: SparkSession, inDir: String,
      corpus: DataFrame, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    import graft.operators.Dedup
    val index = Dedup.minhashIndex(corpus.select(col("doc_id"), col("text")))
    val fps = graft.Materialize.once(
      corpus.select(Text.fingerprint(col("text")).as("fp")).distinct())
    // the session-lifetime corpus index + fps are built OUTSIDE the
    // batch scope; the batch-side signature index is freed per batch
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "incdedup") { (batch, _) =>
      val batchIdx = Dedup.minhashIndex(batch.select(col("doc_id"), col("text")))
      val near = Dedup
        .minhashPairsBetweenIndexes(index, batchIdx, threshold = 0.2)
        .select(col("doc_new").as("doc_id")).distinct()
      val kept = batch
        .withColumn("fp", Text.fingerprint(col("text")))
        .join(fps, Seq("fp"), "left_anti")
        .join(near, Seq("doc_id"), "left_anti")
        .drop("fp")
      prepare(kept).write.mode("append").parquet(outDir)
    }
  }

  /** Publish everything [[startIncrementalDedupFromLake]] probes: the
    * split minhash lake ([[graft.operators.Dedup.publishMinhashLake]]:
    * compact band table + verify sets) plus the exact-dup fingerprint
    * set, all through the versioned-pointer protocol. Run by the
    * corpus-side batch job (e.g. after each nightly compaction); the
    * streaming ingest only ever READS these tables. */
  def publishDedupLake(corpus: DataFrame, dir: String, k: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): Unit = {
    // fps joins the bands/sets group version — one atomic pointer for
    // all three tables (a probe must never classify a batch against
    // band rows of one corpus snapshot and fingerprints of another).
    // The bloom bitmap (one 128 KiB row, Dedup.bloomIndex) rides the
    // same version: the probe uses it to route definitely-fresh docs
    // around the fingerprint anti-join entirely — no false negatives,
    // so the split-and-union is provably the same classification.
    graft.operators.Dedup.publishMinhashLake(
      corpus.select(col("doc_id"), col("text")), dir, k, bands, rowsPerBand,
      extraTables = Seq(
        "fps" -> corpus.select(Text.fingerprint(col("text")).as("fp")).distinct(),
        "bloom" -> graft.operators.Dedup.bloomIndex(
          corpus.select(col("doc_id"), col("text")))))
    ()
  }

  /** [[startIncrementalDedup]] probing a [[publishDedupLake]] lake
    * instead of an in-session corpus frame — the deployment shape:
    * the publisher owns the corpus-sized jobs, the stream reads only
    * the compact band table, the fingerprint set, and (for candidate
    * doc_ids alone) the verify sets. The group `_current` pointer
    * resolves ONCE per micro-batch — bands, sets and fps always come
    * from the same corpus snapshot — and per BATCH, so a corpus-index
    * republish takes effect on the next batch without restarting the
    * stream; each batch's own signature index is freed once its write
    * lands (no state grows with the stream). */
  def startIncrementalDedupFromLake(spark: SparkSession, inDir: String,
      lakeDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery =
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "incdedup-lake") {
      (batch, _) => dedupLakeBatchBody(batch, lakeDir, outDir)
    }

  /** [[startIncrementalDedupFromLake]]'s per-batch body — shared with
    * [[startCorpusIngest]] (parity-by-construction). The `_current`
    * pointer resolves once per call, so a corpus-index republish takes
    * effect on the next batch. Returns the written frame. */
  private def dedupLakeBatchBody(batch: DataFrame, lakeDir: String,
      outDir: String, mat: DataFrame => DataFrame = identity): DataFrame = {
    import graft.operators.Dedup
    val s2 = batch.sparkSession
    val ver = StormSinks.currentVersionName(s2, lakeDir)
    val batchIdx = Dedup.minhashIndex(batch.select(col("doc_id"), col("text")))
    val near = Dedup
      .minhashPairsLakeVsIndexAt(lakeDir, ver, batchIdx, threshold = 0.2)
      .select(col("doc_new").as("doc_id")).distinct()
    val fps = StormSinks.readGroupTableAt(s2, lakeDir, ver, "fps")
    // Bloom fast path (lakes published since the bitmap rode the
    // group): docs whose probe reads false are DEFINITELY not in fps
    // (no false negatives), so only the maybe-set pays the anti-join —
    // on a mostly-fresh ingest the corpus-sized fps table joins
    // against ~0 rows. Legacy lakes without the bitmap take the plain
    // anti-join; classification is identical either way.
    val hasBloom = StormSinks.groupTablesAt(s2, lakeDir, ver).contains("bloom")
    val fpd = batch.withColumn("fp", Text.fingerprint(col("text")))
    val exactFresh =
      if (!hasBloom) fpd.join(fps, Seq("fp"), "left_anti")
      else {
        val probed = fpd
          .crossJoin(broadcast(StormSinks.readGroupTableAt(s2, lakeDir, ver, "bloom")))
          .withColumn("maybe", graft.expressions.native.bloomContains(
            col("bitmap"), graft.operators.Dedup.bloomPositions(col("text"))))
          .drop("bitmap")
        probed.where(col("maybe")).join(fps, Seq("fp"), "left_anti")
          .unionByName(probed.where(!col("maybe")))
          .drop("maybe")
      }
    val kept = exactFresh
      .join(near, Seq("doc_id"), "left_anti")
      .drop("fp")
    val out = mat(prepare(kept))
    out.write.mode("append").parquet(outDir)
    out
  }

  /** Publish the cluster-maintenance lake: the corpus documents and
    * their near-dup cluster labels (the [[graft.operators.Dedup.clusters]]
    * output over [[graft.operators.Dedup.jaccardPairs]]), committed
    * TOGETHER as one [[graft.sources.StormSinks.writeVersionedGroup]]
    * version — docs and labels are an invariant pair (every label row
    * describes a doc of the SAME snapshot), so they share one pointer:
    * no reader or crash-replay can ever observe new docs with stale
    * labels or vice versa. The publisher owns the one full batch CC;
    * the stream only maintains. */
  def publishClusterLake(corpus: DataFrame, dir: String,
      k: Int = 3, threshold: Double = 0.5): Unit = graft.Materialize.scoped {
    val docs = corpus.select(col("doc_id"), col("text"))
    graft.sources.StormSinks.writeVersionedGroup(corpus.sparkSession, dir, Seq(
      "docs" -> docs,
      "labels" -> fullLabels(docs, k, threshold),
      "meta" -> clusterMeta(corpus.sparkSession, k, threshold)))
    ()
  }

  /** FULL-COVERAGE labels of `docs`: the CC labels over the Jaccard
    * pairs, plus an explicit self-label row for every unpaired doc —
    * one label row per corpus doc, always. This is the invariant the
    * delta-segment label commits depend on
    * ([[graft.operators.Dedup.incrementalClustersDelta]]'s contract:
    * a remapped corpus doc must be findable through its label row, so
    * coverage is what keeps the per-batch changed-set computation free
    * of corpus-keyed shuffles). One corpus-sized left join, paid at
    * PUBLISH time — the publisher owns corpus-sized jobs. */
  private def fullLabels(docs: DataFrame, k: Int, threshold: Double): DataFrame = {
    import graft.operators.Dedup
    val paired = Dedup.clusters(Dedup.jaccardPairs(docs, k, threshold))
    docs.select(col("doc_id")).join(paired, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** One-row (k, threshold) record committed with every cluster-lake
    * version: the labels are only meaningful UNDER the similarity that
    * produced them, so the parameters travel with the group snapshot
    * and every maintainer ([[startIncrementalClusters]],
    * [[startIncrementalClustersIndexed]], [[graft.sources.LakeDeletion
    * .deleteFromClusterLake]]) validates its own k/threshold against
    * them before touching the labels — a mismatch raises instead of
    * silently merging/repairing under a DIFFERENT similarity (the
    * corruption no later read can detect). */
  private def clusterMeta(spark: SparkSession, k: Int, threshold: Double): DataFrame = {
    import spark.implicits._
    Seq((k, threshold)).toDF("k", "threshold")
  }

  /** Raise if version `verName` of the cluster-lake group at `dir`
    * carries a `meta` table whose (k, threshold) differ from the
    * caller's. A lake published before meta existed has no table —
    * caller-trusted, as before; the next maintainer republish writes
    * one. Segment-aware (meta may live in a delta segment). */
  private[graft] def validateClusterMeta(spark: SparkSession, dir: String,
      verName: String, k: Int, threshold: Double, caller: String): Unit = {
    if (StormSinks.groupTablesAt(spark, dir, verName).contains("meta")) {
      val r = StormSinks.readGroupTableAt(spark, dir, verName, "meta").head()
      val (pk, pt) = (r.getAs[Int]("k"), r.getAs[Double]("threshold"))
      if (pk != k || pt != threshold)
        throw new IllegalArgumentException(
          s"$caller: cluster lake version $dir/$verName was published with k=$pk, " +
            s"threshold=$pt but the caller passed k=$k, threshold=$threshold - " +
            "maintaining or repairing under a different similarity silently " +
            "corrupts the labels. Pass the published parameters (or republish " +
            "the lake under the new ones).")
    }
  }

  /** Read one table ("docs" / "labels") of a [[publishClusterLake]]
    * lake at its current version. Segment-aware: `labels` is an
    * UPSERT-delta table under the streaming maintainers, so it reads
    * through the latest-wins collapse; `docs` segments are disjoint
    * appends and read as a plain union. */
  def readClusterLake(spark: SparkSession, dir: String, name: String): DataFrame = {
    val ver = StormSinks.currentVersionName(spark, dir)
    if (name == "labels")
      StormSinks.readGroupTableKeyedAt(spark, dir, ver, name, Seq("doc_id"))
    else StormSinks.readGroupTableAt(spark, dir, ver, name)
  }

  /** Maintenance-cadence compaction for a cluster lake/state group:
    * folds the streaming delta segments into one whole-table version
    * with the labels' latest-wins collapse APPLIED (a plain
    * [[graft.sources.StormSinks.compactGroupSegments]] without the
    * keyed map would bake stale duplicate label rows into one segment,
    * where the keyed reader's single-segment fast path would serve
    * them raw — always compact labels keyed), then vacuums superseded
    * versions and unreferenced segments. The indexed layout usually
    * compacts through [[republishClusterIndex]] instead (its
    * whole-group rewrite already collapses labels). */
  def compactClusterLake(spark: SparkSession, dir: String,
      keepVersions: Int = 1): Unit = {
    graft.sources.StormSinks.compactGroupSegments(spark, dir,
      keyed = Map("labels" -> Seq("doc_id")))
    graft.sources.StormSinks.vacuumVersions(spark, dir, keepVersions)
    graft.sources.StormSinks.vacuumSegments(spark, dir)
    ()
  }

  /** Streaming incremental cluster maintenance — the continuous-ingest
    * face of [[graft.operators.Dedup.incrementalClusters]]: each
    * micro-batch of documents merges into the published cluster lake
    * (batch-touching pairs only, quotient-graph CC, label remap — the
    * algebra the dedup_cluster_inc oracle proves equal to a full
    * recompute), then COMMITS an O(batch) delta under the group
    * pointer ([[graft.sources.StormSinks.appendDeltaGroup]]): a docs
    * segment holding only the batch's genuinely-new documents, and a
    * labels segment holding only the CHANGED label rows
    * ([[graft.operators.Dedup.incrementalClustersDelta]] — batch docs
    * plus corpus docs whose cluster the merge moved). Neither the
    * corpus docs table nor the labels table is ever rewritten in
    * stream; readers resolve labels through the latest-wins collapse
    * ([[readClusterLake]]) and the maintenance cadence compacts
    * through [[compactClusterLake]] (labels MUST compact keyed). Corpus CC
    * never re-runs; per-batch CC cost is quotient-sized. The
    * corpus-linear piece per batch is the posting/df scan inside the
    * pair probe (see jaccardPairsTouching's lake note).
    *
    * Crash-safe and checkpoint-idempotent, two independent layers:
    * (1) the delta segments and manifest land BEFORE the single
    * pointer swap — a crash anywhere earlier leaves the previous
    * consistent snapshot, so a replay (and every concurrent reader)
    * always sees docs and labels from the SAME version, never merged
    * docs with stale labels, and the replayed commit overwrites the
    * orphan segments (DeltaGroupSpec pins the window); (2) the delta
    * operator is itself replay-safe — a re-delivered batch whose docs
    * already landed appends an EMPTY docs delta (anti-joined) and
    * re-derives byte-identical label rows (min-labels compose), which
    * the latest-wins collapse absorbs as a no-op. CorpusStreamSpec
    * pins two-wave stream == one full batch CC, and
    * replay-of-committed-batch == unchanged labels. */
  def startIncrementalClusters(spark: SparkSession, inDir: String,
      lakeDir: String, checkpointDir: String,
      k: Int = 3, threshold: Double = 0.5,
      maxFilesPerTrigger: Int = 16,
      autoCompactSegments: Int = 64): StreamingQuery =
    // the scope frees EVERY frame this batch materializes — not
    // just `updated` but the ones incrementalClusters /
    // jaccardPairsTouching build internally (batch, sets, the
    // quotient CC's labels) — once the group commit lands; without
    // it each micro-batch stranded those in the block manager for
    // the stream's lifetime (CorpusStreamSpec pins zero growth).
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "incclusters") { (batch, _) =>
      val s2 = batch.sparkSession
      // resolve the pointer ONCE: all tables come from the same
      // immutable snapshot
      val verName = StormSinks.currentVersionName(s2, lakeDir)
      // merging under a different similarity than the published
      // labels' would corrupt them undetectably — validate first
      validateClusterMeta(s2, lakeDir, verName, k, threshold,
        "graft.CorpusStream.startIncrementalClusters")
      val corpus = StormSinks.readGroupTableAt(s2, lakeDir, verName, "docs")
      val labels = StormSinks.readGroupTableKeyedAt(
        s2, lakeDir, verName, "labels", Seq("doc_id"))
      val b = graft.Materialize.once(
        batch.select(col("doc_id"), col("text")).dropDuplicates("doc_id"))
      // genuinely-new docs only: re-ingested ids are found with a
      // corpus SCAN (broadcast semi) and anti-joined out, so docs
      // segments stay disjoint with no corpus shuffle. bNew (not
      // b) also feeds the MERGE: a committed doc_id's text is
      // authoritative — re-delivering an id with CHANGED text must
      // not relabel the lake from text the docs table doesn't
      // hold (content updates go through deletion + re-ingest,
      // LakeDeletion.deleteFromClusterLake). A replayed committed
      // batch therefore merges nothing, trivially idempotent.
      val dupIds = corpus.select(col("doc_id"))
        .join(broadcast(b.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      val bNew = graft.Materialize.once(
        b.join(broadcast(dupIds), Seq("doc_id"), "left_anti"))
      // a replayed committed batch has bNew empty (and therefore
      // an empty delta) — skip the commit entirely rather than
      // growing the version history with empty segments
      if (!bNew.isEmpty) {
        val delta = graft.Materialize.once(
          graft.operators.Dedup.incrementalClustersDelta(
            corpus, labels, bNew, k, threshold))
        StormSinks.appendDeltaGroup(s2, lakeDir,
          appends = Seq("docs" -> bNew, "labels" -> delta))
        // auto-cadence: bound segment growth (labels MUST compact
        // keyed — compactClusterLake's invariant); 0 = operator-
        // scheduled compaction only
        if (autoCompactSegments > 0)
          StormSinks.maintainGroupSegments(s2, lakeDir,
            autoCompactSegments, keyed = Map("labels" -> Seq("doc_id")))
        ()
      }
    }

  /** The fully lake-indexed deployment of cluster maintenance — the
    * [[startIncrementalClusters]] shape with the per-ingest
    * corpus-rank ALSO moved to a publisher: state lives in a
    * (docs, labels, fresh) group at `stateDir` — `fresh` = docs
    * ingested since the Jaccard prefix index at `indexDir` was last
    * published — and the publisher owns both corpus-sized jobs
    * ([[publishClusterLakeIndexed]] initially,
    * [[republishClusterIndex]] on the maintenance cadence). Each
    * micro-batch then pays only batch-and-fresh-sized ranking plus
    * columnar index scans ([[graft.operators.Dedup
    * .incrementalClustersLake]]), and republishes the state group
    * atomically. Crash interleavings are covered at every layer: the
    * state group is one pointer (docs/labels/fresh always one
    * snapshot), a replayed batch re-merges to identical labels
    * (operator-level anti-joins), and an index republish that lands
    * BEFORE its fresh-reset only makes fresh redundantly shadow the
    * index — probes and labeling stay correct (fresh wins), just
    * momentarily less cheap. */
  def publishClusterLakeIndexed(corpus: DataFrame, stateDir: String,
      indexDir: String, k: Int = 3, threshold: Double = 0.5): Unit =
    graft.Materialize.scoped {
      import graft.operators.Dedup
      val docs = corpus.select(col("doc_id"), col("text"))
      Dedup.publishJaccardLake(docs, indexDir, k, threshold)
      graft.sources.StormSinks.writeVersionedGroup(corpus.sparkSession, stateDir, Seq(
        "docs" -> docs,
        "labels" -> fullLabels(docs, k, threshold),
        "fresh" -> docs.where(lit(false)),
        "meta" -> clusterMeta(corpus.sparkSession, k, threshold)))
      ()
    }

  /** Maintenance-cadence republish: rebuild the Jaccard prefix index
    * from the CURRENT state docs (re-freezing the df order), then
    * reset `fresh` to empty in a new state version. A crash between
    * the two publishes leaves fresh redundantly covering
    * newly-indexed docs — correct, self-healing on the next
    * successful run. */
  def republishClusterIndex(spark: SparkSession, stateDir: String,
      indexDir: String, k: Int = 3, threshold: Double = 0.5): Unit =
    graft.Materialize.scoped {
      val verName = StormSinks.currentVersionName(spark, stateDir)
      validateClusterMeta(spark, stateDir, verName, k, threshold,
        "graft.CorpusStream.republishClusterIndex")
      val docs = StormSinks.readGroupTableAt(spark, stateDir, verName, "docs")
      graft.operators.Dedup.publishJaccardLake(docs, indexDir, k, threshold)
      // whole-group rewrite = the state's segment COMPACTION, riding
      // the maintenance cadence the index rebuild already owns
      StormSinks.writeVersionedGroup(spark, stateDir, Seq(
        "docs" -> docs,
        "labels" -> StormSinks.readGroupTableKeyedAt(
          spark, stateDir, verName, "labels", Seq("doc_id")),
        "fresh" -> docs.where(lit(false)),
        "meta" -> clusterMeta(spark, k, threshold)))
      ()
    }

  /** Streaming cluster maintenance over [[publishClusterLakeIndexed]]
    * state: per micro-batch, merge through the LAKE probe (fresh +
    * batch ranking only — no corpus-sized work at all) and republish
    * (docs, labels, fresh ∪ batch) as one atomic state version. */
  def startIncrementalClustersIndexed(spark: SparkSession, inDir: String,
      stateDir: String, indexDir: String, checkpointDir: String,
      k: Int = 3, threshold: Double = 0.5,
      maxFilesPerTrigger: Int = 16,
      autoCompactSegments: Int = 64): StreamingQuery =
    // same zero-residue contract as startIncrementalClusters: the
    // scope frees the lake probe's internal freshSets/freshPrefix
    // and the quotient CC's frames along with `updated`
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "incclusters-idx") { (batch, _) =>
      val s2 = batch.sparkSession
      val sVerName = StormSinks.currentVersionName(s2, stateDir)
      val iVer = StormSinks.currentVersionName(s2, indexDir)
      validateClusterMeta(s2, stateDir, sVerName, k, threshold,
        "graft.CorpusStream.startIncrementalClustersIndexed")
      val docs0 = StormSinks.readGroupTableAt(s2, stateDir, sVerName, "docs")
      val labels0 = StormSinks.readGroupTableKeyedAt(
        s2, stateDir, sVerName, "labels", Seq("doc_id"))
      val fresh0 = StormSinks.readGroupTableAt(s2, stateDir, sVerName, "fresh")
      val b = graft.Materialize.once(
        batch.select(col("doc_id"), col("text")).dropDuplicates("doc_id"))
      // genuinely-new docs only (corpus scan + broadcast, no
      // shuffle); the SAME delta extends `fresh` — a doc already
      // in docs is either indexed or already in fresh, so the
      // probe covers it. bNew (not b) also feeds the merge:
      // committed ids are text-authoritative (see
      // startIncrementalClusters), so replays merge nothing.
      val dupIds = docs0.select(col("doc_id"))
        .join(broadcast(b.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      val bNew = graft.Materialize.once(
        b.join(broadcast(dupIds), Seq("doc_id"), "left_anti"))
      // replayed committed batch -> empty bNew -> skip the commit
      if (!bNew.isEmpty) {
        val delta = graft.Materialize.once(
          graft.operators.Dedup.incrementalClustersLakeAtDelta(
            indexDir, iVer, labels0, fresh0, bNew, k, threshold))
        StormSinks.appendDeltaGroup(s2, stateDir,
          appends = Seq("docs" -> bNew, "labels" -> delta, "fresh" -> bNew))
        // auto-cadence on the STATE group only (segments fold,
        // fresh's content is untouched); the corpus-sized index
        // rebuild + fresh reset stays operator-scheduled
        // (republishClusterIndex) — it's a different cost class
        if (autoCompactSegments > 0)
          StormSinks.maintainGroupSegments(s2, stateDir,
            autoCompactSegments, keyed = Map("labels" -> Seq("doc_id")))
        ()
      }
    }

  /** Publish the retrieval-serving lake: the full BM25 inverted index
    * (the corpus-sized tf aggregate runs HERE, once) and the dense
    * embedding index, committed as ONE
    * [[graft.sources.StormSinks.writeVersionedGroup]] version — the
    * hybrid probe fuses sparse and dense ranks of the SAME corpus
    * snapshot, so the pair shares a pointer (per-table pointers could
    * fuse a new BM25 version against an old dense one mid-republish).
    * The serving stream reads only these. */
  def publishRetrievalLake(corpus: DataFrame, embeddings: DataFrame,
      dir: String): Unit = {
    graft.sources.StormSinks.writeVersionedGroup(corpus.sparkSession, dir, Seq(
      "bm25" -> graft.operators.Retrieval.bm25WeightsOf(
        corpus.select(col("doc_id"), col("text"))),
      "dense" -> embeddings.select(col("vec_id"), col("embedding"))))
    ()
  }

  /** Read one table ("bm25" / "dense") of a [[publishRetrievalLake]]
    * lake at its current version. */
  def readRetrievalLake(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.StormSinks.readVersionedGroupTable(spark, dir, name)

  /** The batch=stream hybrid probe: sparse BM25 scores from the query
    * text against the inverted index (qtf · w_i on the exact integer
    * grid, order-free BIGINT sums), dense cosine ranks with the query
    * embedding LOOKED UP from the dense index by id (query-by-example
    * — a serving tier reads only its indexes), fused by Reciprocal
    * Rank Fusion (Σ 1e9 div (60 + rank), exact BIGINT — the
    * hybrid_rerank convention). Queries are tiny and broadcast; the
    * indexes never reshuffle for a probe. Deterministic given
    * (indexes, queries), so stream micro-batches and a one-shot batch
    * run are row-identical — CorpusStreamSpec pins it. */
  def hybridProbe(weights: DataFrame, dense: DataFrame,
      queries: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val depth = 20
    val qt = queries
      .select(col("doc_id").as("query_id"), explode(Text.tokens(col("text"))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("query_id"), col("token")).agg(count(lit(1)).as("qtf"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("score_i").desc, col("doc_id"))
    val sparse = weights.join(broadcast(qt), "token")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("qtf") * col("w_i")).as("score_i"))
      .withColumn("rk_s", row_number().over(ws)).where(col("rk_s") <= depth)
      .select(col("query_id"), col("doc_id"), col("rk_s"))
    val qe = dense
      .join(broadcast(queries.select(col("doc_id").as("vec_id"))), "vec_id")
    val dRank = graft.operators.Knn.cosineTopK(dense, qe, k = depth)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rk").as("rk_d"))
    val fusedScore =
      coalesce(expr("1000000000 div (60 + rk_d)"), lit(0L)) +
        coalesce(expr("1000000000 div (60 + rk_s)"), lit(0L))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_i").desc, col("doc_id"))
    dRank.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), fusedScore.as("rrf_i"))
      .withColumn("rk", row_number().over(wf)).where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_i"))
  }

  /** Streaming retrieval serving — the serving complement of
    * [[startIncrementalDedupFromLake]]: each micro-batch of QUERY
    * documents probes the published BM25 + dense indexes through
    * [[hybridProbe]] and appends (batch_seq-stamped) top-k results.
    * The group `_current` pointer resolves ONCE per batch (sparse and
    * dense ranks always fuse over the same corpus snapshot) and PER
    * BATCH, so an index republish takes effect on the next
    * micro-batch without restarting the stream; restarts are
    * checkpoint-idempotent (committed batches never re-probe). */
  def startRetrievalServing(spark: SparkSession, inDir: String,
      lakeDir: String, outDir: String, checkpointDir: String, k: Int = 3,
      maxFilesPerTrigger: Int = 16): StreamingQuery =
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "serving") { (batch, batchId) =>
      val s2 = batch.sparkSession
      val ver = StormSinks.currentVersionName(s2, lakeDir)
      val weights = StormSinks.readGroupTableAt(s2, lakeDir, ver, "bm25")
      val dense = StormSinks.readGroupTableAt(s2, lakeDir, ver, "dense")
      hybridProbe(weights, dense, batch.select(col("doc_id"), col("text")), k)
        .withColumn("batch_seq", lit(batchId))
        .write.mode("append").parquet(outDir)
    }

  /** Streaming dense-ANN serving over a published
    * [[graft.operators.Pq.publishIvfPqLake]] index — the vector
    * counterpart of [[startRetrievalServing]]: each micro-batch of
    * query documents probes the published IVF-PQ tables
    * (query-by-example — the query embeddings are looked up IN the
    * published vector table by id, a serving tier reads only its
    * index) and appends batch_seq-stamped top-k rankings. The group
    * pointer resolves ONCE per batch ([[graft.operators.Pq
    * .ivfPqTopKIndexedAt]]), so queries, codebooks, codes and vectors
    * always come from one snapshot and an index republish takes
    * effect on the next micro-batch; restarts are
    * checkpoint-idempotent. Per-batch cost is query-side only — the
    * corpus-sized training ran at publish time. */
  def startAnnServing(spark: SparkSession, inDir: String,
      lakeDir: String, outDir: String, checkpointDir: String, k: Int = 5,
      maxFilesPerTrigger: Int = 16): StreamingQuery =
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "annserving") { (batch, batchId) =>
      val s2 = batch.sparkSession
      val ver = StormSinks.currentVersionName(s2, lakeDir)
      val queries = StormSinks.readGroupTableAt(s2, lakeDir, ver, "vectors")
        .join(broadcast(batch.select(col("doc_id").as("vec_id"))
          .dropDuplicates("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      graft.operators.Pq.ivfPqTopKIndexedAt(s2, lakeDir, ver, queries, k)
        .withColumn("batch_seq", lit(batchId))
        .write.mode("append").parquet(outDir)
    }

  /** Running heavy-hitter token trends over the document stream — the
    * streaming face of the native Misra–Gries aggregate
    * ([[graft.expressions.SpaceSavingAgg]]): each micro-batch reduces
    * to its own k-slot summary IN the executors (map-side partial
    * merge, one k-entry row reaches the driver — that one tiny row is
    * the whole point of a bounded summary), and the driver folds it
    * into the running summary with the same mergeable-summaries rule,
    * so total state is k slots FOREVER — no token-cardinality state
    * store, no growth with the stream. The MG guarantees (lower bound
    * within n/(k+1), presence above threshold) hold for the merged
    * summary over the full stream prefix, any batch boundaries.
    *
    * Exactly-once across restarts without a driver-state checkpoint:
    * every batch appends a (batch_seq = foreachBatch batchId) snapshot
    * of the merged summary to `outDir`; on start the summary reloads
    * from the highest snapshot, and a replayed batchId ≤ that
    * watermark is skipped (the snapshot already contains it) — so an
    * at-least-once source can never double-merge a batch.
    * TrendsSpec pins guarantees, capacity, restart merge, and the
    * no-double-merge replay case. */
  def startTokenTrends(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, capacity: Int = 32,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val running = scala.collection.mutable.HashMap.empty[String, Long]
    var lastSeq = -1L
    // ONLY a genuinely-absent snapshot dir means "fresh stream". A
    // transient read failure must propagate: swallowing it would reset
    // the summary to empty while the checkpoint still marks prior
    // batches committed — the pre-restart counts would be lost
    // silently and every later snapshot would falsely claim the
    // full-prefix guarantees.
    // "fresh stream" means NO COMMITTED SNAPSHOT DATA — not merely an
    // absent dir: a crash during the very first snapshot write can
    // leave outDir existing with only _temporary/_SUCCESS inside, and
    // reading that throws forever (a restart crash-loop). Conversely a
    // readable-but-empty snapshot has a null max. Only a committed
    // part file makes recovery mandatory; real read failures beyond
    // that still propagate (never silently reset the summary).
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasSnapshot = fs.exists(outPath) &&
      fs.listStatus(outPath).exists(_.getPath.getName.startsWith("part-"))
    // Replay skipping keys on foreachBatch batchId monotonicity vs the
    // snapshot's batch_seq — which is only sound while batchIds come
    // from the SAME checkpoint lineage the snapshots were written
    // under. A lost/recreated checkpointDir restarts batchIds at 0, and
    // the first lastSeq+1 batches of genuinely NEW data would be
    // silently skipped (batchId > lastSeq false). A crash during the
    // very first batch still leaves offsets/0, so the guard can't fire
    // spuriously.
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "trends",
      "graft.CorpusStream.startTokenTrends", outDir, hasSnapshot,
      "move the snapshot directory aside to start a new stream")
    if (hasSnapshot) {
      val prev = spark.read.parquet(outDir)
      val maxRow = prev.agg(max(col("batch_seq"))).head()
      if (!maxRow.isNullAt(0)) {
        val maxB = maxRow.getLong(0)
        prev.where(col("batch_seq") === maxB).collect().foreach { r =>
          running(r.getAs[String]("token")) = r.getAs[Long]("est") }
        lastSeq = maxB
      }
    }
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "trends") { (batch, batchId) =>
      if (batchId > lastSeq) {
        val m = batch.select(explode(Text.tokens(col("text"))).as("token"))
          .where(col("token") =!= "")
          .agg(graft.expressions.native.heavyHitters(col("token"), capacity).as("mg"))
          .head().getMap[String, Long](0)
        // the SAME merge rule as the aggregate's partial states —
        // one implementation, shared (the prefix guarantee depends
        // on both paths merging identically)
        graft.expressions.SpaceSavingAgg.mergeCapped(running, m, capacity)
        lastSeq = batchId
        val s2 = batch.sparkSession
        import s2.implicits._
        running.toSeq.sortBy(_._1).toDF("token", "est")
          .withColumn("batch_seq", lit(batchId))
          // k-slot summary: ≤ capacity rows regardless of trigger
          // size, so one output file is the right shape
          .coalesce(1).write.mode("append").parquet(outDir)
      }
    }
  }

  // ---------------------------------------------- streaming dataset card
  /** Streaming dataset card — corpus_stats' serving face: a
    * continuously-maintained per (source, lang) profile of everything
    * ingested so far — doc count, whitespace-token count, char mass,
    * MEAN QUALITY (the [[Text.qualityScore]] blend, summed on the
    * 1e-6 integer grid so the merge is order-free), and the DEDUP
    * RATE (ingests whose normalized-text fingerprint had been seen
    * before — by an earlier batch, or earlier in the same batch under
    * the keep-first lowest-doc_id convention) — the card a release
    * actually ships next to its corpus. Exact medians stay on the
    * batch corpus_stats report (not single-pass mergeable).
    *
    * State = the bounded (source, lang) counter table PLUS the
    * seen-fps registry the dup verdicts need. The registry is
    * corpus-sized, so it rides the delta-segment protocol: counters
    * and meta REPLACE (bounded), fps APPENDS its batch-sized fresh
    * delta, one atomic commit — per-trigger state I/O stays O(batch),
    * and the standard auto-cadence bounds segment growth. Counters
    * and registry commit under ONE pointer, so a crash can never
    * count a doc without remembering its fingerprint (or vice versa).
    * Replay gate + crash interleavings are [[startDriftGate]]'s:
    * counts are additive, a pre-commit replay re-adds from the OLD
    * snapshot (never double-counts), a post-commit replay skips on
    * last_batch. CorpusStreamSpec pins cumulative card == one batch
    * aggregation over all input, quality and dup columns included. */
  def startCorpusCard(spark: SparkSession, inDir: String,
      stateDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    // restarted batch ids either SKIP never-counted files
    // (batch <= last_batch) or double-count already-counted ones,
    // depending on file grouping
    val (_, committed) = readCardState(spark, stateDir)
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "card",
      "graft.CorpusStream.startCorpusCard", stateDir, committed >= 0,
      "republish empty state to start over")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "card") { (batch, batchId) =>
      cardBatchBody(batch, batchId, stateDir)
    }
  }

  /** [[startCorpusCard]]'s per-batch body — shared with
    * [[startCorpusIngest]] (parity-by-construction): fold the batch's
    * per-(source, lang) counters and fresh fingerprints into the card
    * state group, gated on `batchId > last_batch`. */
  private def cardBatchBody(batch: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val s2 = batch.sparkSession
    val (prev, lastBatch) = readCardState(s2, stateDir)
    if (batchId > lastBatch) {
      // quality rides as a 1e-6-grid LONG sum (order-free,
      // mergeable); dedup as the count of ingests whose
      // normalized-text fingerprint was already seen — by an
      // earlier batch (the fps registry) or earlier IN this
      // batch (first = lowest doc_id, the keep-first
      // convention). Both are additive per (source, lang), so
      // the card stays a pure counter merge.
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val seen =
        try StormSinks.readVersionedGroupTable(s2, stateDir, "fps")
        catch { case _: java.io.FileNotFoundException =>
          // cold start, or a legacy counters-only card state:
          // nothing seen yet; the commit below starts the registry
          import s2.implicits._
          Seq.empty[String].toDF("fp")
        }
      val flagged = graft.Materialize.once(batch
        .select(col("source"), col("lang"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          Text.tokenCount(col("text")).cast("long").as("n_toks"),
          floor(Text.qualityScore(col("text")) * lit(1000000.0) + lit(0.5))
            .cast("long").as("q6"),
          sha2(Text.normalize(col("text")), 256).as("fp"))
        .withColumn("rn", row_number().over(wFp))
        .join(seen.select(col("fp"), lit(true).as("__seen")),
          Seq("fp"), "left")
        .withColumn("is_dup", col("__seen").isNotNull || col("rn") > 1))
      val b = flagged.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("q6")).as("sum_q6"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_docs"))
      val counts = prev.unionByName(b)
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("sum_q6")).as("sum_q6"),
          sum(col("dup_docs")).as("dup_docs"))
      val freshFps = flagged
        .where(col("rn") === 1 && col("__seen").isNull)
        .select(col("fp")).distinct()
      import s2.implicits._
      val meta = Seq(batchId).toDF("last_batch")
      // first commit publishes the base; later commits are
      // O(batch) deltas: fps appends its fresh fingerprints,
      // the bounded counts/meta replace
      if (lastBatch < 0)
        StormSinks.writeVersionedGroup(s2, stateDir, Seq(
          "counts" -> counts, "fps" -> freshFps, "meta" -> meta))
      else
        StormSinks.appendDeltaGroup(s2, stateDir,
          appends = Seq("fps" -> freshFps),
          replaces = Seq("counts" -> counts, "meta" -> meta))
      // the counters are BOUNDED but versions/segments are not:
      // vacuum inline (keep=2 covers in-flight readers of the
      // previous pointer) + the standard segment auto-cadence
      StormSinks.vacuumVersions(s2, stateDir, keep = 2)
      StormSinks.maintainGroupSegments(s2, stateDir, maxSegments = 64)
      ()
    }
  }

  private def readCardState(spark: SparkSession,
      stateDir: String): (DataFrame, Long) = {
    import spark.implicits._
    val empty = Seq.empty[(String, String, Long, Long, Long, Long, Long)]
      .toDF("source", "lang", "n_docs", "n_tokens", "n_chars",
        "sum_q6", "dup_docs")
    // ONLY a missing pointer is a cold start; a pointer whose version
    // is missing a table is CORRUPT state and must propagate —
    // swallowing it would silently reset the cumulative card to this
    // batch's counts (the trends-stream load-bearing distinction)
    val ver =
      try StormSinks.currentVersionName(spark, stateDir)
      catch { case _: java.io.FileNotFoundException => return (empty, -1L) }
    val c0 = StormSinks.readGroupTableAt(spark, stateDir, ver, "counts")
    // a counters-only card published before the quality/dedup columns
    // existed reads them as zero (its docs pre-date the fps registry,
    // so their dup verdicts are unknowable — zero is the honest floor)
    val c = Seq("sum_q6", "dup_docs").foldLeft(c0) { (d, n) =>
      if (d.columns.contains(n)) d else d.withColumn(n, lit(0L))
    }
    (c, StormSinks.readGroupTableAt(spark, stateDir, ver, "meta")
      .head().getLong(0))
  }

  /** The current dataset card: per (source, lang) counters plus the
    * derived mean chars (6-dp rounded). Empty on cold start. */
  def readCorpusCard(spark: SparkSession, stateDir: String): DataFrame = {
    val (counts, _) = readCardState(spark, stateDir)
    counts.select(col("source"), col("lang"), col("n_docs"),
      col("n_tokens"), col("n_chars"),
      round(col("n_chars").cast("double") / col("n_docs").cast("double"), 6)
        .as("mean_chars"),
      // mean per-doc quality off the 1e-6 integer grid, and the
      // fraction of ingests whose content had been seen before — the
      // two columns a release's data card actually quotes
      round(col("sum_q6").cast("double") /
        (col("n_docs").cast("double") * 1000000.0), 6).as("mean_quality"),
      col("dup_docs"),
      round(col("dup_docs").cast("double") / col("n_docs").cast("double"), 6)
        .as("dup_rate"))
  }

  // ---------------------------------------------- streaming domain mixer
  /** Streaming DoReMi mixer — sample_doremi's serving face: a
    * continuously-maintained per-domain (source) counter table — doc
    * count plus the exact 1e-6-grid score sum — updated each
    * micro-batch, with mixture weights recomputed from the committed
    * counters by the SAME linearized multiplicative-weights core the
    * batch operator runs ([[Sampling.doremiWeights]]), so
    * [[readDomainWeights]] always equals a batch DoReMi run over
    * everything ingested so far (CorpusStreamSpec pins the parity).
    * The score is the self-contained per-doc [[Text.qualityScore]] on
    * the 1e-6 grid (the streaming stand-in for the batch key's
    * corpus-trained lmscore — the protocol and update are
    * score-agnostic; any per-doc 1e-6-grid score works).
    *
    * State = the BOUNDED |domains|-row counter table + meta under one
    * pointer: whole-table REPLACE commits (nothing here is
    * corpus-sized, so the delta-segment path isn't needed), inline
    * vacuum bounds version count. Replay/crash contract is the card's:
    * counters are additive, a pre-commit replay re-adds from the OLD
    * snapshot (never double-counts), a post-commit replay skips on
    * last_batch, and a used state dir with a fresh checkpoint is
    * rejected (restarted batch ids would skip or double-count). */
  def startDomainMixer(spark: SparkSession, inDir: String,
      stateDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    // the INVERSE corruption — state dir lost/wiped but checkpoint
    // kept — is rejected too: the counters would stay empty while
    // readDomainWeights served them downstream as the FULL mixture (a
    // permanent silent undercount, worse than the skip/double-count
    // case because nothing ever looks wrong)
    val (_, committed) = readMixerState(spark, stateDir)
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "mixer",
      "graft.CorpusStream.startDomainMixer", stateDir, committed >= 0,
      "republish empty state to start over", lostAs = Some("wiped"))
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "mixer") { (batch, batchId) =>
      val s2 = batch.sparkSession
      val (prev, lastBatch) = readMixerState(s2, stateDir)
      if (batchId > lastBatch) {
        val b = batch
          .select(col("source"),
            floor(Text.qualityScore(col("text")) * lit(1000000.0) + lit(0.5))
              .cast("long").as("q6"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("q6")).as("sum_q6"))
        val counts = prev.unionByName(b).groupBy(col("source"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_q6")).as("sum_q6"))
        import s2.implicits._
        val meta = Seq(batchId).toDF("last_batch")
        StormSinks.writeVersionedGroup(s2, stateDir,
          Seq("counts" -> counts, "meta" -> meta))
        StormSinks.vacuumVersions(s2, stateDir, keep = 2)
        ()
      }
    }
  }

  private def readMixerState(spark: SparkSession,
      stateDir: String): (DataFrame, Long) = {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Long)]
      .toDF("source", "n_docs", "sum_q6")
    val ver =
      try StormSinks.currentVersionName(spark, stateDir)
      catch { case _: java.io.FileNotFoundException => return (empty, -1L) }
    (StormSinks.readGroupTableAt(spark, stateDir, ver, "counts"),
      StormSinks.readGroupTableAt(spark, stateDir, ver, "meta")
        .head().getLong(0))
  }

  /** Current mixture weights off the committed counters: per source,
    * docs seen, excess (µ) and weight (µ) — equal by construction to
    * a batch [[Sampling.doremiWeights]] run over everything ingested
    * so far. Empty on cold start. */
  def readDomainWeights(spark: SparkSession, stateDir: String): DataFrame = {
    val (counts, _) = readMixerState(spark, stateDir)
    Sampling.doremiWeights(
        counts.select(col("source").as("__g"), col("n_docs").as("__n"),
          col("sum_q6").as("__s")),
        rounds = 3, etaDen = 2L)
      .select(col("__g").as("source"), col("__n").as("n_docs"),
        col("__excess").as("excess_mi"), col("__w").as("w_mi"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------ streaming drift gate
  /** Publish the drift REFERENCE profile: the (feature, bucket, ref_n)
    * counts of the training corpus the gate compares every ingest
    * against. Bucket-cardinality-sized (one aggregation over the
    * corpus, tiny output) and versioned like every other lake. */
  def publishDriftRef(ref: DataFrame, dir: String): Unit =
    graft.Materialize.scoped {
      graft.sources.StormSinks.writeVersionedGroup(ref.sparkSession, dir,
        Seq("ref" -> graft.operators.Drift.bucketCounts(ref, "ref_n")))
      ()
    }

  /** Streaming drift gate: per micro-batch, fold the batch's feature
    * counts into the CUMULATIVE ingest counts (counts are additive —
    * the one PSI input that streams exactly), then emit the full PSI
    * term table of (published reference) vs (everything ingested so
    * far), stamped with `batch_seq`. The last committed batch's terms
    * therefore equal the BATCH corpus_drift computation on the same
    * (reference, total ingest) pair — same [[graft.operators.Drift]]
    * expressions, same counts (CorpusStreamSpec pins equality) — so a
    * monitor alerting on Σterm_i/1e6 sees exactly what a nightly
    * batch job would.
    *
    * State = the cumulative counts, committed as a versioned group
    * (counts + last_batch meta) AFTER the term write: a replayed
    * batch (crash before the state commit) re-adds from the OLD
    * snapshot — cumulative counts never double-count — and re-emits
    * the same terms, which [[latestDriftTerms]] collapses (the
    * standard at-least-once output / exactly-once state split the
    * other lake-backed streams use). A batch at-or-below the
    * committed last_batch is a pure replay and skips entirely.
    * Everything after the per-batch count aggregation is
    * bucket-cardinality-sized — the gate's cost at any corpus scale
    * is one narrow map + one tiny aggregation per batch. */
  def startDriftGate(spark: SparkSession, inDir: String, refDir: String,
      stateDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    // restarted batch ids would make the last_batch gate silently skip
    // the first last_batch + 1 batches of new input
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "driftgate",
      "graft.CorpusStream.startDriftGate", stateDir,
      readDriftState(spark, stateDir)._2 >= 0,
      "move the state directory aside to start over")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "driftgate") { (batch, batchId) =>
      driftBatchBody(batch, batchId, refDir, stateDir, outDir)
    }
  }

  /** [[startDriftGate]]'s per-batch body — shared with
    * [[startCorpusIngest]] (parity-by-construction). Folds the batch
    * into the cumulative bucket counts, emits the PSI term table for
    * this batch, and commits state, gated on `batchId > last_batch`
    * (the at-least-once replay gate). */
  private def driftBatchBody(batch: DataFrame, batchId: Long,
      refDir: String, stateDir: String, outDir: String): Unit = {
    val s2 = batch.sparkSession
    val refC = StormSinks.readVersionedGroupTable(s2, refDir, "ref")
    val (prev, lastBatch) = readDriftState(s2, stateDir)
    if (batchId > lastBatch) {
      val counts = graft.Materialize.once(
        prev.unionByName(graft.operators.Drift.bucketCounts(batch, "cur_n"))
          .groupBy(col("feature"), col("bucket"))
          .agg(sum(col("cur_n")).as("cur_n")))
      // full outer: buckets seen only in the reference (cur_n=0)
      // and only in the ingest (ref_n=0) both carry PSI terms,
      // exactly like the batch computation's union of buckets
      val joined = refC.join(counts, Seq("feature", "bucket"), "full_outer")
        .select(col("feature"), col("bucket"),
          coalesce(col("ref_n"), lit(0L)).as("ref_n"),
          coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      graft.operators.Drift.psiTerms(joined)
        .withColumn("batch_seq", lit(batchId))
        // feature×bucket grid: bounded by the histogram shape,
        // not the trigger size — one file is the right shape
        .coalesce(1).write.mode("append").parquet(outDir)
      import s2.implicits._
      StormSinks.writeVersionedGroup(s2, stateDir, Seq(
        "counts" -> counts,
        "meta" -> Seq(batchId).toDF("last_batch")))
      // bounded state, unbounded version count: vacuum inline
      StormSinks.vacuumVersions(s2, stateDir, keep = 2)
      ()
    }
  }

  /** Cumulative-count state at the current version; (-1, empty) on a
    * cold start (no state published yet). */
  private def readDriftState(spark: SparkSession, stateDir: String): (DataFrame, Long) =
    (try Some(StormSinks.currentVersionName(spark, stateDir))
    catch { case _: java.io.FileNotFoundException => None }) match {
      case Some(v) =>
        (StormSinks.readGroupTableAt(spark, stateDir, v, "counts"),
          StormSinks.readGroupTableAt(spark, stateDir, v, "meta").head().getLong(0))
      case None =>
        (spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("feature", StringType),
            StructField("bucket", StringType), StructField("cur_n", LongType)))),
          -1L)
    }

  /** The gate's CURRENT drift verdict: the last committed batch's PSI
    * term table, deduped against at-least-once replays of the term
    * write. Equals the batch corpus_drift terms on (published ref,
    * everything ingested). */
  def latestDriftTerms(spark: SparkSession, outDir: String): DataFrame = {
    // the gate's cold/no-op states (outDir not written yet, or the
    // term table exists but is empty so max(batch_seq) is NULL) are an
    // EMPTY verdict, not a crash — mirror readDriftState's cold-start
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("feature", StringType),
        StructField("bucket", StringType), StructField("ref_n", LongType),
        StructField("cur_n", LongType), StructField("term_i", LongType))))
    val t = try spark.read.parquet(outDir) catch {
      case _: org.apache.spark.sql.AnalysisException => return empty
    }
    val mxRow = t.agg(max(col("batch_seq"))).head()
    if (mxRow.isNullAt(0)) return empty
    t.where(col("batch_seq") === mxRow.getLong(0))
      .dropDuplicates("feature", "bucket")
      .select(col("feature"), col("bucket"), col("ref_n"), col("cur_n"),
        col("term_i"))
  }

  // ------------------------------------------- streaming classify gate
  /** Train the linear quality probe on `corpus` and publish the 5
    * weights as a versioned lake group — corpus_classify's serving
    * split: the training job pays the 8 corpus aggregations once;
    * every scorer reads one 5-double row. Returns the weights. */
  def publishClassifier(corpus: DataFrame, dir: String,
      steps: Int = 8, lr: Double = 8.0): Array[Double] =
    graft.Materialize.scoped {
      val spark = corpus.sparkSession
      import spark.implicits._
      val feats = graft.Materialize.once(
        graft.operators.Classify.features(corpus))
      val w = graft.operators.Classify.trainWeights(feats, steps, lr)
      graft.sources.StormSinks.writeVersionedGroup(spark, dir, Seq(
        "weights" -> Seq((w(0), w(1), w(2), w(3), w(4)))
          .toDF("w0", "w1", "w2", "w3", "w4")))
      w
    }

  /** Streaming quality-classify gate: score each micro-batch under
    * the CURRENT published weights ([[publishClassifier]]) — the
    * `_current` pointer re-resolves per batch, so a weight republish
    * takes effect on the next trigger without restarting the stream
    * (the startDriftGate discipline). Emits (doc_id, score, pred,
    * label, batch_seq, model_ver) appends. Scoring is deterministic
    * under a given weight VERSION, but a replay can land after a
    * republish (crash between the output append and the checkpoint
    * commit, weights republished before restart): the replayed batch
    * re-resolves `_current` and appends rows under the NEW version
    * with the SAME batch_seq — which is why the monotonic lake
    * version rides along in `model_ver`, so [[latestClassifyScores]]
    * can collapse duplicates to one CONSISTENT version per batch
    * instead of mixing two weight versions row-by-row. */
  def startClassifyGate(spark: SparkSession, inDir: String,
      modelDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    // scores exist but the checkpoint is fresh -> batch ids restart at
    // 0, and a re-crawled doc's fresh score would lose the (model_ver,
    // batch_seq) collapse to its stale higher-batch_seq row forever.
    // The model_ver-major collapse makes one fresh-checkpoint restart
    // SAFE: when the currently-published model version exceeds every
    // existing score's model_ver, each fresh score wins the collapse
    // regardless of restarted batch ids. That is the designed recovery
    // — checkpoint lost, user republishes (bumping the lake version),
    // restarts — so the scores count as in use only without it.
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasScores = fs.exists(outPath) &&
      fs.listStatus(outPath).exists(_.getPath.getName.startsWith("part-"))
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "classify",
      "graft.CorpusStream.startClassifyGate", outDir,
      hasScores && {
        val curVer: Option[Long] =
          try Some(StormSinks.versionNumber(StormSinks.currentVersionName(spark, modelDir)))
          catch { case scala.util.control.NonFatal(_) => None }
        val scores = spark.read.parquet(outDir)
        val maxScoreVer: Long =
          if (scores.columns.contains("model_ver")) {
            val r = scores.agg(max(col("model_ver"))).head()
            if (r.isNullAt(0)) 0L else r.getLong(0)
          } else 0L
        !curVer.exists(_ > maxScoreVer)
      },
      "republish the model (the bumped model_ver then wins the collapse " +
        "for every fresh score) and restart, or move the score directory aside")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "classify") { (batch, batchId) =>
      val s2 = batch.sparkSession
      val ver = StormSinks.currentVersionName(s2, modelDir)
      val wRow = StormSinks.readGroupTableAt(s2, modelDir, ver, "weights").head()
      val w = Array.tabulate(5)(wRow.getDouble)
      val modelVer = StormSinks.versionNumber(ver).toLong
      sizedBatchOutput(graft.operators.Classify.scoreWith(batch, w)
        .withColumn("batch_seq", lit(batchId))
        .withColumn("model_ver", lit(modelVer)))
        .write.mode("append").parquet(outDir)
    }
  }

  /** The gate's scores, one row per doc: duplicates collapse to the
    * LATEST (batch_seq, model_ver) — a doc re-scored in a later batch
    * (or a replayed batch re-scored under republished weights) reports
    * its newest consistent score; the version-before-score tie-break
    * keeps a replayed-after-republish batch from mixing two weight
    * versions row-by-row. Empty on cold start. */
  def latestClassifyScores(spark: SparkSession, outDir: String): DataFrame =
    // model_ver-major: lake versions are monotonic in publish time, so
    // the newest weights win across a checkpoint reset that restarts
    // batch ids at 0 PROVIDED the reset came with a weight republish
    // (batch_seq-major would let a stale old-run row shadow the
    // re-score forever); within one version the later batch wins. A
    // reset WITHOUT a republish (same model_ver, batch ids back at 0)
    // is NOT recoverable by this collapse — startClassifyGate's
    // freshness guard rejects that lineage-less restart at start, so
    // rows here always come from one checkpoint lineage per model_ver.
    // Outputs written before model_ver existed read as version 0.
    newestPerDoc(spark, outDir, Seq("model_ver", "batch_seq"), StructType(Seq(
      StructField("doc_id", LongType), StructField("score", DoubleType),
      StructField("pred", BooleanType), StructField("label", BooleanType))))

  // --------------------------------------------- streaming line cleaning
  /** Publish the seen-line registry: sha-256 fingerprints of every
    * rule-surviving normalized line of `corpus` — the cross-STREAM
    * state [[startLineClean]]'s duplicate-line removal anti-joins
    * against (text_lines' keep-first, made incremental: the corpus
    * owns every line it has already published, so a streamed page
    * keeps only lines the whole deployment has never seen). Versioned
    * group (fps + last_batch meta) like every other lake state. */
  def publishLineIndex(corpus: DataFrame, dir: String, minWords: Int = 3,
      requireTerminalPunct: Boolean = false): Unit =
    graft.Materialize.scoped {
      val spark = corpus.sparkSession
      import spark.implicits._
      val fps = graft.operators.Lines
        .ruleLines(corpus, minWords, requireTerminalPunct)
        .select(sha2(col("lnorm"), 256).as("fp")).distinct()
      graft.sources.StormSinks.writeVersionedGroup(spark, dir, Seq(
        "fps" -> fps,
        "meta" -> Seq((-1L, minWords.toLong, requireTerminalPunct))
          .toDF("last_batch", "min_words", "require_punct")))
      ()
    }

  /** Raise if the registry's persisted parameters differ from the
    * caller's — the clusterMeta discipline for the line/pretrain
    * registries: probing under different RULES than the published
    * fingerprints were built with silently diverges the dedup (lines
    * the publisher never fingerprinted read as fresh forever). Metas
    * written before the params existed (no such column) are
    * caller-trusted, as before; the stream's next commit writes them. */
  private def validateRegistryParams(spark: SparkSession, stateDir: String,
      expected: Seq[(String, Any)], caller: String): Unit = {
    val meta = graft.sources.StormSinks
      .readVersionedGroupTable(spark, stateDir, "meta")
    val row = meta.head()
    expected.foreach { case (name, want) =>
      if (meta.columns.contains(name)) {
        val got = row.getAs[Any](name)
        if (got != want)
          throw new IllegalArgumentException(
            s"$caller: registry at $stateDir was published with $name=$got " +
              s"but the caller passed $name=$want - probing under different " +
              "rules than the published fingerprints silently diverges the " +
              "dedup. Pass the published parameters (or republish the " +
              "registry under the new ones).")
      }
    }
  }

  /** Maintenance-cadence compaction for a registry state group
    * (fps + meta): fold the stream's delta segments into one
    * whole-table version, then reclaim superseded versions and
    * unreferenced segment dirs. Readers (and the stream itself) are
    * unaffected at any point — every step is pointer-atomic. One
    * function for every registry group: [[startLineClean]]'s,
    * [[startParagraphDedup]]'s and [[startPretrainPrep]]'s. */
  def compactRegistry(spark: SparkSession, dir: String,
      keepVersions: Int = 1): Unit = {
    graft.sources.StormSinks.compactGroupSegments(spark, dir)
    graft.sources.StormSinks.vacuumVersions(spark, dir, keepVersions)
    graft.sources.StormSinks.vacuumSegments(spark, dir)
    ()
  }

  /** Streaming C4 line cleaning with cross-stream duplicate-line
    * removal: per micro-batch, rule-filter the batch's lines, drop
    * every line whose fingerprint is already in the published
    * registry, keep-first WITHIN the batch (the same election batch
    * [[graft.operators.Lines.cleanLines]] runs), emit the cleaned
    * documents, then commit (registry ∪ batch fingerprints,
    * last_batch) as ONE versioned group AFTER the output write. Crash
    * interleavings: a crash BEFORE the state commit replays the batch
    * against the OLD registry — deterministic, so the duplicate
    * output rows are byte-identical and [[latestCleanLines]] collapses
    * them; a crash AFTER the state commit replays a batch at-or-below
    * the committed last_batch, which SKIPS — that gate is
    * load-bearing, not hygiene, because re-cleaning against a registry
    * that already holds the batch's lines would wrongly drop them all.
    * The registry is keyed to THIS stream's batch ids, so a fresh
    * checkpoint against a used registry is rejected at start (the
    * lineage guard): reprocessing would silently
    * swallow every replayed document otherwise.
    *
    * Scale: per-batch state I/O is O(batch) — the commit APPENDS the
    * batch's fresh fingerprints as a delta segment under the group
    * pointer ([[graft.sources.StormSinks.appendDeltaGroup]]; deltas
    * are anti-joined against the registry, so segments stay disjoint
    * and the union-read needs no dedup) and replaces only the one-row
    * last_batch meta; the registry itself is never rewritten. The
    * maintenance cadence folds segments ([[compactRegistry]]) and
    * vacuums. The anti-join is a plain shuffle join (the registry
    * grows unboundedly with the stream, so no broadcast hint — the
    * freshBroadcastMax lesson applied from the start). */
  def startLineClean(spark: SparkSession, inDir: String, stateDir: String,
      outDir: String, checkpointDir: String, minWords: Int = 3,
      requireTerminalPunct: Boolean = false,
      maxFilesPerTrigger: Int = 16,
      autoCompactSegments: Int = 64): StreamingQuery = {
    val committed = graft.sources.StormSinks
      .readVersionedGroupTable(spark, stateDir, "meta").head().getLong(0)
    validateRegistryParams(spark, stateDir,
      Seq("min_words" -> minWords.toLong,
        "require_punct" -> requireTerminalPunct),
      "graft.CorpusStream.startLineClean")
    // restarted batch ids: the replay gate would swallow every
    // replayed batch (its documents silently never emitted)
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "lineclean",
      "graft.CorpusStream.startLineClean", stateDir, committed >= 0,
      "republish the registry (publishLineIndex) to start a new stream")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "lineclean") { (batch, batchId) =>
      val s2 = batch.sparkSession
      // one resolution = one consistent (fps, meta) snapshot
      val verName = StormSinks.currentVersionName(s2, stateDir)
      val lastBatch = StormSinks
        .readGroupTableAt(s2, stateDir, verName, "meta").head().getLong(0)
      if (batchId > lastBatch) {
        val seen = StormSinks.readGroupTableAt(s2, stateDir, verName, "fps")
        val lines = graft.Materialize.once(graft.operators.Lines
          .ruleLines(batch, minWords, requireTerminalPunct)
          .withColumn("fp", sha2(col("lnorm"), 256)))
        // fresh lines feed the output AND the delta segment —
        // materialize once so the registry anti-join runs once
        val fresh = graft.Materialize.once(
          lines.join(seen, Seq("fp"), "left_anti"))
        sizedBatchOutput(graft.operators.Lines.assembleKeepFirst(fresh)
          .withColumn("batch_seq", lit(batchId)))
          .write.mode("append").parquet(outDir)
        import s2.implicits._
        // O(batch) commit: fps gains the batch's FRESH fingerprints
        // (disjoint from every committed segment by the anti-join),
        // meta is replaced — the registry is never rewritten
        StormSinks.appendDeltaGroup(s2, stateDir,
          appends = Seq("fps" -> fresh.select(col("fp")).distinct()),
          replaces = Seq("meta" ->
            Seq((batchId, minWords.toLong, requireTerminalPunct))
              .toDF("last_batch", "min_words", "require_punct")))
        // auto-cadence: bound the registry's segment growth
        if (autoCompactSegments > 0)
          StormSinks.maintainGroupSegments(s2, stateDir, autoCompactSegments)
      }
    }
  }

  // ----------------------------------------- streaming paragraph dedup
  /** Publish the seen-paragraph registry: sha-256 fingerprints of
    * every normalized paragraph of `corpus` — the cross-stream state
    * [[startParagraphDedup]] anti-joins against (dedup_paragraph's
    * keep-first, made incremental). Versioned fps + last_batch group,
    * the publishLineIndex shape. */
  def publishParagraphIndex(corpus: DataFrame, dir: String): Unit =
    graft.Materialize.scoped {
      val spark = corpus.sparkSession
      import spark.implicits._
      val fps = graft.operators.Lines.paragraphs(corpus)
        .select(col("fp")).distinct()
      graft.sources.StormSinks.writeVersionedGroup(spark, dir, Seq(
        "fps" -> fps, "meta" -> Seq(-1L).toDF("last_batch")))
      ()
    }

  /** Streaming paragraph-level exact dedup (Falcon/RefinedWeb made
    * incremental): per micro-batch, split + fingerprint the batch's
    * paragraphs, drop fingerprints already in the published registry,
    * keep-first WITHIN the batch, reassemble with the full-batch
    * paragraph totals (a registry-dropped paragraph still counts in
    * n_removed), emit, then commit (registry ∪ batch fps, last_batch)
    * as ONE versioned group AFTER the output write. Crash
    * interleavings and the freshness guard are exactly
    * [[startLineClean]]'s: pre-commit crash replays byte-identically
    * (collapsed by [[latestParagraphDedup]]); post-commit replay skips
    * via the batch_seq gate — load-bearing, because re-splitting
    * against a registry that already holds the batch's paragraphs
    * would wrongly drop every one; a fresh checkpoint against a used
    * registry is rejected at start.
    *
    * Scale: anti-join is a plain shuffle join (the registry grows with
    * the stream — no broadcast hint); the state commit APPENDS the
    * batch's fresh fingerprints as a delta segment and replaces only
    * the one-row meta ([[graft.sources.StormSinks.appendDeltaGroup]]
    * — O(batch) state I/O per trigger; segments stay disjoint via the
    * anti-join), compacted on the maintenance cadence
    * ([[compactRegistry]]); everything else is batch-sized. */
  def startParagraphDedup(spark: SparkSession, inDir: String,
      stateDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16,
      autoCompactSegments: Int = 64): StreamingQuery = {
    val committed = graft.sources.StormSinks
      .readVersionedGroupTable(spark, stateDir, "meta").head().getLong(0)
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "pardedup",
      "graft.CorpusStream.startParagraphDedup", stateDir, committed >= 0,
      "republish the registry (publishParagraphIndex) to start a new stream")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "pardedup") { (batch, batchId) =>
      val s2 = batch.sparkSession
      // one resolution = one consistent (fps, meta) snapshot
      val verName = StormSinks.currentVersionName(s2, stateDir)
      val lastBatch = StormSinks
        .readGroupTableAt(s2, stateDir, verName, "meta").head().getLong(0)
      if (batchId > lastBatch) {
        val seen = StormSinks.readGroupTableAt(s2, stateDir, verName, "fps")
        val pars = graft.Materialize.once(
          graft.operators.Lines.paragraphs(batch))
        // fresh paragraphs feed the output AND the delta segment
        val fresh = graft.Materialize.once(
          pars.join(seen, Seq("fp"), "left_anti"))
        sizedBatchOutput(graft.operators.Lines
          .assembleParagraphsKeepFirst(fresh, pars)
          .withColumn("batch_seq", lit(batchId)))
          .write.mode("append").parquet(outDir)
        import s2.implicits._
        // O(batch) commit: fps gains only the batch's fresh
        // fingerprints; the registry is never rewritten
        StormSinks.appendDeltaGroup(s2, stateDir,
          appends = Seq("fps" -> fresh.select(col("fp")).distinct()),
          replaces = Seq("meta" -> Seq(batchId).toDF("last_batch")))
        // auto-cadence: bound the registry's segment growth
        if (autoCompactSegments > 0)
          StormSinks.maintainGroupSegments(s2, stateDir, autoCompactSegments)
      }
    }
  }

  // ------------------------------------- streaming pretrain-prep gate
  /** Publish the composed pretrain-prep state: ONE versioned group
    * holding BOTH registries the fused gate probes — `line_fps` =
    * sha-256 fingerprints of every rule-surviving normalized line of
    * the corpus's html-stripped/normalized text, and `par_fps` =
    * fingerprints of every paragraph of the corpus's LINE-CLEANED
    * text (the batch composition's stage order: paragraphs dedup
    * against cleaned paragraphs, exactly what
    * [[graft.operators.Pretrain.prepText]] keys on). One group = one
    * pointer = the two registries can never be observed half-
    * committed, which is what lets the fused stream keep ONE
    * batch_seq replay gate across both stages. */
  def publishPretrainIndex(corpus: DataFrame, dir: String,
      minWords: Int = 3): Unit = graft.Materialize.scoped {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fixed = graft.Materialize.once(normalizePages(corpus))
    val lineFps = graft.operators.Lines
      .ruleLines(fixed, minWords, requireTerminalPunct = false)
      .select(sha2(col("lnorm"), 256).as("fp")).distinct()
    val cleaned = graft.operators.Lines.cleanLines(fixed, minWords)
      .select(col("doc_id"), col("clean_text").as("text"))
    val parFps = graft.operators.Lines.paragraphs(cleaned)
      .select(col("fp")).distinct()
    graft.sources.StormSinks.writeVersionedGroup(spark, dir, Seq(
      "line_fps" -> lineFps, "par_fps" -> parFps,
      "meta" -> Seq((-1L, minWords.toLong))
        .toDF("last_batch", "min_words")))
    ()
  }

  /** The stateless head of the pretrain-prep stream: html strip →
    * fixText → blocklist page filter, over (doc_id, text[, ...]).
    * Narrow maps only — identical in batch and stream. */
  private def normalizePages(docs: DataFrame): DataFrame =
    graft.operators.Lines.dropBadwordPages(
      docs.select(col("doc_id"),
        Text.fixText(graft.functions.Html.extractText(col("text"))).as("text")))

  /** Streaming pretrain prep — stages 1–4 of the composed pipeline
    * ([[graft.operators.Pretrain.prepText]], plus the html strip in
    * front) as a continuous-ingest gate: per micro-batch, strip +
    * normalize + blocklist-filter the pages (stateless), drop every
    * line the deployment has already published, keep-first within the
    * batch, reassemble, then dedup the RESULTING paragraphs against
    * the published cleaned-paragraph registry (keep-first within
    * batch), emit (doc_id, clean_text, n_pars, n_removed, batch_seq),
    * and commit BOTH registries' batch-sized deltas + the one-row
    * meta as ONE [[graft.sources.StormSinks.appendDeltaGroup]] version.
    *
    * Crash interleavings collapse to startLineClean's, because the
    * two registries share one pointer and one batch_seq gate: a crash
    * before the commit replays byte-identically against the OLD
    * snapshot (the reader collapses duplicate output rows); a crash
    * after skips via the gate. A two-dir design would have a third
    * state — lines committed, paragraphs not — from which the batch's
    * output could NOT be deterministically reproduced; the single
    * group removes that state by construction.
    *
    * Scale: per-trigger state I/O is O(batch) (two fresh-fps delta
    * segments + one meta row); the registry anti-joins are plain
    * shuffle joins; everything else is batch-sized. Downstream stages
    * (near-dup CC, classifier gate, decon, sampling) stay batch jobs
    * over the emitted lake — they are corpus-global fixpoints with no
    * single-pass incremental form (the [[CorpusStream]] object doc's
    * CC note), which is exactly the lake/stream split 95d/120 use. */
  def startPretrainPrep(spark: SparkSession, inDir: String,
      stateDir: String, outDir: String, checkpointDir: String,
      minWords: Int = 3, maxFilesPerTrigger: Int = 16,
      autoCompactSegments: Int = 64, funnelDir: String = null): StreamingQuery = {
    val committed = graft.sources.StormSinks
      .readVersionedGroupTable(spark, stateDir, "meta").head().getLong(0)
    validateRegistryParams(spark, stateDir,
      Seq("min_words" -> minWords.toLong),
      "graft.CorpusStream.startPretrainPrep")
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "pretrain",
      "graft.CorpusStream.startPretrainPrep", stateDir, committed >= 0,
      "republish the registries (publishPretrainIndex) to start a new stream")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "pretrain") { (batch, batchId) =>
      val s2 = batch.sparkSession
      // one resolution = one consistent (line_fps, par_fps, meta)
      val verName = StormSinks.currentVersionName(s2, stateDir)
      val lastBatch = StormSinks
        .readGroupTableAt(s2, stateDir, verName, "meta").head().getLong(0)
      if (batchId > lastBatch) {
        val seenL = StormSinks.readGroupTableAt(s2, stateDir, verName, "line_fps")
        val seenP = StormSinks.readGroupTableAt(s2, stateDir, verName, "par_fps")
        // with the funnel on, the intermediate stage frames gain a
        // second consumer (their count) — materialize them so the
        // counts ride the SAME frames the output flows through
        // (the batch yieldReport discipline: a funnel that
        // recomputes its stages can drift from what it audits)
        def mat(df: org.apache.spark.sql.DataFrame) =
          if (funnelDir != null) graft.Materialize.once(df) else df
        val pages = mat(normalizePages(batch))
        val lines = graft.Materialize.once(graft.operators.Lines
          .ruleLines(pages, minWords, requireTerminalPunct = false)
          .withColumn("fp", sha2(col("lnorm"), 256)))
        val freshL = graft.Materialize.once(
          lines.join(seenL, Seq("fp"), "left_anti"))
        val cleaned = mat(graft.operators.Lines.assembleKeepFirst(freshL)
          .select(col("doc_id"), col("clean_text").as("text")))
        val pars = graft.Materialize.once(
          graft.operators.Lines.paragraphs(cleaned))
        val freshP = graft.Materialize.once(
          pars.join(seenP, Seq("fp"), "left_anti"))
        val assembled = mat(graft.operators.Lines
          .assembleParagraphsKeepFirst(freshP, pars)
          .withColumn("batch_seq", lit(batchId)))
        sizedBatchOutput(assembled)
          .write.mode("append").parquet(outDir)
        // per-batch stage-yield funnel (the batch yieldReport's
        // streaming face): (batch_seq, stage, n_docs) rows land
        // NEXT TO the output with the same at-least-once / replay
        // contract — a bad blocklist push or registry corruption
        // shows up in the next trigger's funnel, not in tomorrow's
        // nightly batch audit. Counts are O(batch) aggregates over
        // frames the trigger materializes anyway.
        if (funnelDir != null) {
          import s2.implicits._
          Seq(("0_raw", batch.count()),
            ("1_blocklist", pages.count()),
            ("2_line_clean", cleaned.count()),
            ("3_paragraph_dedup", assembled.count()))
            .toDF("stage", "n_docs")
            .withColumn("batch_seq", lit(batchId))
            .coalesce(1).write.mode("append").parquet(funnelDir)
        }
        import s2.implicits._
        // ONE atomic commit for both registries: O(batch) deltas
        StormSinks.appendDeltaGroup(s2, stateDir,
          appends = Seq(
            "line_fps" -> freshL.select(col("fp")).distinct(),
            "par_fps" -> freshP.select(col("fp")).distinct()),
          replaces = Seq("meta" -> Seq((batchId, minWords.toLong))
            .toDF("last_batch", "min_words")))
        // auto-cadence: bound both registries' segment growth
        if (autoCompactSegments > 0)
          StormSinks.maintainGroupSegments(s2, stateDir, autoCompactSegments)
      }
    }
  }

  /** The pretrain-prep stream's output, one row per doc, newest batch
    * wins (the latestCleanLines collapse). Empty on cold start. */
  def latestPretrainPrep(spark: SparkSession, outDir: String): DataFrame =
    latestParagraphDedup(spark, outDir)

  /** The pretrain-prep stream's stage-yield funnel, collapsed to one
    * row per (batch_seq, stage): a crash between the funnel write and
    * the state commit replays the batch and re-emits byte-identical
    * funnel rows (the counts are deterministic given the committed
    * registry snapshot), so the collapse is a plain distinct — the
    * at-least-once output / exactly-once state split every lake-backed
    * stream here uses. Empty on cold start. The monitor's number:
    * cumulative per-stage sums over all batches equal the batch
    * composition's stage counts over the total ingest
    * (CorpusStreamSpec pins the parity). */
  def readPretrainFunnel(spark: SparkSession, funnelDir: String): DataFrame = {
    val t = try spark.read.parquet(funnelDir) catch {
      case _: org.apache.spark.sql.AnalysisException =>
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("batch_seq", LongType),
            StructField("stage", StringType),
            StructField("n_docs", LongType))))
    }
    t.select(col("batch_seq"), col("stage"), col("n_docs")).distinct()
  }

  /** The paragraph-dedup stream's output, one row per doc: a doc
    * re-emitted in a later batch resolves to the NEWEST row
    * deterministically (the latestCleanLines collapse). Empty on cold
    * start. */
  def latestParagraphDedup(spark: SparkSession, outDir: String): DataFrame =
    newestPerDoc(spark, outDir, Seq("batch_seq"), StructType(Seq(
      StructField("doc_id", LongType), StructField("clean_text", StringType),
      StructField("n_pars", LongType), StructField("n_removed", LongType))))

  /** The line-clean stream's cleaned documents, duplicates collapsed.
    * A crash after the output append but before the state commit
    * replays the batch against the OLD registry — deterministic, so
    * the re-emitted rows are byte-identical and one row per doc_id
    * survives (the standard at-least-once output / exactly-once state
    * split; the batch_seq gate prevents the OTHER interleaving, where
    * a committed registry would wrongly swallow a replayed batch).
    * Empty on cold start. */
  def latestCleanLines(spark: SparkSession, outDir: String): DataFrame =
    newestPerDoc(spark, outDir, Seq("batch_seq"), StructType(Seq(
      StructField("doc_id", LongType), StructField("clean_text", StringType),
      StructField("n_kept", LongType), StructField("n_lines", LongType))))

  // ------------------------------------------ composed one-scan ingest
  /** Face selection for [[startCorpusIngest]]: a face is ON when its
    * output dir(s) are set. Faces compose INDEPENDENTLY (each sees the
    * raw batch, exactly like its standalone stream — this is fan-out,
    * not a pipeline): `chunksDir` is [[start]]'s prep face,
    * `cleanOutDir` is [[startClean]] (requires the `benchmark` frame),
    * (`dedupLakeDir`, `dedupOutDir`) is [[startIncrementalDedupFromLake]],
    * (`driftRefDir`, `driftStateDir`, `driftOutDir`) is
    * [[startDriftGate]], `cardStateDir` is [[startCorpusCard]],
    * `wmOutDir` is [[startWatermarkGate]] (per-doc greenlist
    * verdicts), and `funnelDir` adds a per-batch per-face row-count
    * audit table (batch_seq, face, n_rows) — `raw` is the input doc
    * count, each output face reports the rows it appended that
    * batch. */
  final case class IngestFaces(
      chunksDir: Option[String] = None,
      cleanOutDir: Option[String] = None,
      dedupLakeDir: Option[String] = None,
      dedupOutDir: Option[String] = None,
      driftRefDir: Option[String] = None,
      driftStateDir: Option[String] = None,
      driftOutDir: Option[String] = None,
      cardStateDir: Option[String] = None,
      wmOutDir: Option[String] = None,
      funnelDir: Option[String] = None)

  /** The composed 24/7 ingest: every selected face fed from ONE input
    * stream, ONE scan per micro-batch.
    *
    * Why this exists: each standalone `start*` face re-reads `inDir`
    * through its own file source, so a deployment running clean +
    * incremental dedup + drift gate + card + chunk prep pays five full
    * input scans per trigger — at 100 TB/day of ingest, that factor is
    * the bill. Here the micro-batch is materialized ONCE
    * ([[graft.Materialize.once]]) and every face consumes the
    * materialized blocks; the input files are read exactly once per
    * trigger (CorpusStreamSpec pins this mechanically by counting
    * executed plans that scan `inDir`).
    *
    * Parity is BY CONSTRUCTION: every face runs the same per-batch
    * body its standalone stream runs ([[prepBatchBody]],
    * [[cleanBatchBody]], [[dedupLakeBatchBody]], [[driftBatchBody]],
    * [[cardBatchBody]]) — the spec additionally pins face-by-face
    * output equality against the standalone streams across waves.
    *
    * Replay contract: the output faces (chunks/clean/dedup) are
    * deterministic appends (at-least-once, collapsed by downstream
    * idempotent readers — the standard split); the state faces
    * (drift/card) gate on `batchId > last_batch`. All faces share ONE
    * checkpoint, so one batch id sequence covers every face — a crash
    * mid-fan-out replays the whole batch: appends re-emit identical
    * rows, state faces skip or re-commit atomically exactly as their
    * standalone contracts specify. The used-state/fresh-checkpoint
    * lineage guard covers both state faces. */
  def startCorpusIngest(spark: SparkSession, inDir: String,
      faces: IngestFaces, checkpointDir: String,
      benchmark: DataFrame = null,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    require(Seq(faces.chunksDir, faces.cleanOutDir, faces.dedupOutDir,
      faces.driftOutDir, faces.cardStateDir, faces.wmOutDir)
      .exists(_.isDefined),
      "startCorpusIngest: no face selected")
    require(faces.cleanOutDir.isEmpty || benchmark != null,
      "startCorpusIngest: the clean face needs the benchmark frame")
    require(faces.dedupLakeDir.isDefined == faces.dedupOutDir.isDefined,
      "startCorpusIngest: the dedup face needs BOTH dedupLakeDir and dedupOutDir")
    require(Seq(faces.driftRefDir, faces.driftStateDir, faces.driftOutDir)
      .map(_.isDefined).distinct.size == 1,
      "startCorpusIngest: the drift face needs driftRefDir, driftStateDir " +
        "AND driftOutDir")
    // one batch-id sequence serves every face: if ANY state face has
    // committed batches, a fresh shared checkpoint restarts ids at 0
    val committed = math.max(
      faces.cardStateDir.map(d => readCardState(spark, d)._2).getOrElse(-1L),
      faces.driftStateDir.map(d => readDriftState(spark, d)._2).getOrElse(-1L))
    StreamOps.requireCheckpointMatchesState(spark, checkpointDir, "ingest",
      "graft.CorpusStream.startCorpusIngest",
      faces.cardStateDir.orElse(faces.driftStateDir).getOrElse("<none>"),
      committed >= 0, "republish empty state to start over")
    StreamOps.startForeachBatch(readDocuments(spark, inDir, maxFilesPerTrigger),
      checkpointDir, "ingest") { (batch, batchId) =>
      val s2 = batch.sparkSession
      // THE one-scan point: every face below consumes these
      // materialized blocks, never the file source
      val once = graft.Materialize.once(batch)
      // with the funnel on, output frames gain a second consumer
      // (their count) — materialize them so the counts ride the
      // SAME frames the writes flowed through (the pretrain-prep
      // funnel discipline)
      def mat(df: DataFrame): DataFrame =
        if (faces.funnelDir.isDefined) graft.Materialize.once(df) else df
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def audit(face: String, out: DataFrame): Unit =
        if (faces.funnelDir.isDefined) emitted += ((face, out.count()))
      faces.chunksDir.foreach(d => audit("chunks", prepBatchBody(once, d, mat)))
      faces.cleanOutDir.foreach(d =>
        audit("clean", cleanBatchBody(once, benchmark, d, mat)))
      faces.dedupOutDir.foreach(d =>
        audit("dedup", dedupLakeBatchBody(once, faces.dedupLakeDir.get, d, mat)))
      faces.driftOutDir.foreach(d =>
        driftBatchBody(once, batchId, faces.driftRefDir.get,
          faces.driftStateDir.get, d))
      faces.cardStateDir.foreach(d => cardBatchBody(once, batchId, d))
      faces.wmOutDir.foreach(d =>
        audit("watermark", wmBatchBody(once, batchId, d, mat)))
      faces.funnelDir.foreach { fd =>
        import s2.implicits._
        (("raw", once.count()) +: emitted.toSeq)
          .toDF("face", "n_rows")
          .withColumn("batch_seq", lit(batchId))
          // one row per face: bounded by the face count, one file
          .coalesce(1).write.mode("append").parquet(fd)
      }
    }
  }
}
