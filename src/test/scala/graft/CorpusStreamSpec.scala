package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.CorpusStream

/** Streaming corpus prep (SURVEY §2 #49): the stateless training-data
  * transform produces row-identical output in batch and streaming, and
  * checkpoint replay does not duplicate chunks. */
class CorpusStreamSpec extends SparkSpec {

  /** A reader's cold-start frame must carry the schema its warm reads
    * return (column names and types; nullability ignored). */
  private def assertColdSchema(cold: org.apache.spark.sql.DataFrame,
      warm: org.apache.spark.sql.DataFrame): Unit = {
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    assert(shape(cold) == shape(warm),
      s"cold-start schema ${cold.schema.simpleString} != warm ${warm.schema.simpleString}")
  }

  test("stream chunks == batch chunks; checkpoint replay is idempotent") {
    val base = Files.createTempDirectory("graft-corpus-stream").toString
    val docs = Tables.documents(spark, sfDir)
    // multiple files so the work spans micro-batches
    docs.coalesce(3).write.mode("overwrite").parquet(s"$base/in")

    CorpusStream.start(spark, s"$base/in", s"$base/out", s"$base/cp")
      .awaitTermination()

    val streamed = spark.read.parquet(s"$base/out")
    val batch = CorpusStream.prepare(docs.select(
      col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
    assert(streamed.count() > 0)
    val sCols = streamed.select(batch.columns.map(col).toSeq: _*)
    assert(sCols.exceptAll(batch).isEmpty && batch.exceptAll(sCols).isEmpty)

    // restart on the same checkpoint with no new input: no duplicates
    CorpusStream.start(spark, s"$base/in", s"$base/out", s"$base/cp")
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == batch.count())
  }

  test("foreachBatch decontamination == batch clean+prepare; replay adds nothing") {
    val base = Files.createTempDirectory("graft-corpus-decon").toString
    val docs = Tables.documents(spark, sfDir)
    val benchmark = docs.where(col("doc_id") % 20 === 7)
    val corpus = docs.where(col("doc_id") % 20 =!= 7)
    corpus.coalesce(3).write.mode("overwrite").parquet(s"$base/in")

    CorpusStream.startClean(spark, s"$base/in", benchmark, s"$base/out", s"$base/cp")
      .awaitTermination()

    val streamed = spark.read.parquet(s"$base/out")
    val batch = CorpusStream.prepare(
      graft.operators.Decontaminate.clean(corpus, benchmark, k = 8))
    val sCols = streamed.select(batch.columns.map(col).toSeq: _*)
    assert(streamed.count() > 0)
    assert(sCols.exceptAll(batch).isEmpty && batch.exceptAll(sCols).isEmpty)

    CorpusStream.startClean(spark, s"$base/in", benchmark, s"$base/out", s"$base/cp")
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == batch.count())
  }

  test("incremental-dedup ingest == batch classification; replay adds nothing") {
    val base = Files.createTempDirectory("graft-corpus-incdedup").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") <= 60)
    // incoming stream: fresh docs + exact re-ingests of corpus docs
    // (re-idd, same text — must be dropped by the fingerprint probe)
    val fresh = docs.where(col("doc_id") > 60)
    val reingest = corpus.orderBy(col("doc_id")).limit(10)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val incoming = fresh.unionByName(reingest)
    incoming.coalesce(3).write.mode("overwrite").parquet(s"$base/in")

    CorpusStream.startIncrementalDedup(spark, s"$base/in", corpus,
        s"$base/out", s"$base/cp")
      .awaitTermination()

    val streamed = spark.read.parquet(s"$base/out")
    // batch-path expectation: same classification statically
    val near = graft.operators.Dedup
      .minhashPairsAgainst(corpus.select(col("doc_id"), col("text")),
        incoming.select(col("doc_id"), col("text")), threshold = 0.2)
      .select(col("doc_new").as("doc_id")).distinct()
    val fps = corpus.select(graft.functions.Text.fingerprint(col("text")).as("fp")).distinct()
    val keptBatch = incoming
      .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
      .join(fps, Seq("fp"), "left_anti")
      .join(near, Seq("doc_id"), "left_anti").drop("fp")
    val batch = CorpusStream.prepare(keptBatch)
    assert(streamed.count() > 0)
    // no re-ingested id may survive to the chunk sink
    assert(streamed.where(col("doc_id") >= 5000000L).count() == 0)
    val sCols = streamed.select(batch.columns.map(col).toSeq: _*)
    assert(sCols.exceptAll(batch).isEmpty && batch.exceptAll(sCols).isEmpty)

    CorpusStream.startIncrementalDedup(spark, s"$base/in", corpus,
        s"$base/out", s"$base/cp")
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == batch.count())
  }

  test("lake-backed incremental dedup == in-session variant; stream reads only the lake") {
    val base = Files.createTempDirectory("graft-corpus-lakededup").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") <= 60)
    val fresh = docs.where(col("doc_id") > 60)
    val reingest = corpus.orderBy(col("doc_id")).limit(10)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    fresh.unionByName(reingest).coalesce(3)
      .write.mode("overwrite").parquet(s"$base/in")
    // corpus side: one publish job; the stream never sees the corpus
    CorpusStream.publishDedupLake(corpus, s"$base/lake")
    CorpusStream.startIncrementalDedupFromLake(spark, s"$base/in",
        s"$base/lake", s"$base/outLake", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    CorpusStream.startIncrementalDedup(spark, s"$base/in", corpus,
        s"$base/outMem", s"$base/cp2")
      .awaitTermination()
    val viaLake = spark.read.parquet(s"$base/outLake")
    val viaMem = spark.read.parquet(s"$base/outMem")
    assert(viaLake.count() > 0)
    assert(viaLake.where(col("doc_id") >= 5000000L).count() == 0,
      "re-ingested docs must be dropped by the lake fingerprint probe")
    val l = viaLake.select(viaMem.columns.map(col).toSeq: _*)
    assert(l.exceptAll(viaMem).isEmpty && viaMem.exceptAll(l).isEmpty,
      "lake-backed classification must equal the in-session one")
  }

  test("bloom-prefiltered lake probe == legacy lake without the bitmap table") {
    // a lake published BEFORE the bloom bitmap rode the group must
    // classify identically through the plain anti-join fallback
    val base = Files.createTempDirectory("graft-corpus-bloomlegacy").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") <= 60).select(col("doc_id"), col("text"))
    val fresh = docs.where(col("doc_id") > 60).select(col("doc_id"), col("text"))
    val reingest = corpus.orderBy(col("doc_id")).limit(10)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    fresh.unionByName(reingest).coalesce(2)
      .write.mode("overwrite").parquet(s"$base/in")
    // modern lake (bloom table present) vs legacy (fps only)
    CorpusStream.publishDedupLake(corpus, s"$base/lakeNew")
    graft.operators.Dedup.publishMinhashLake(corpus, s"$base/lakeOld",
      extraTables = Seq("fps" -> corpus.select(
        graft.functions.Text.fingerprint(col("text")).as("fp")).distinct()))
    CorpusStream.startIncrementalDedupFromLake(spark, s"$base/in",
        s"$base/lakeNew", s"$base/outNew", s"$base/cpN").awaitTermination()
    CorpusStream.startIncrementalDedupFromLake(spark, s"$base/in",
        s"$base/lakeOld", s"$base/outOld", s"$base/cpO").awaitTermination()
    val a = spark.read.parquet(s"$base/outNew")
    val b = spark.read.parquet(s"$base/outOld")
    assert(a.count() > 0)
    val a2 = a.select(b.columns.map(col).toSeq: _*)
    assert(a2.exceptAll(b).isEmpty && b.exceptAll(a2).isEmpty,
      "bloom fast path must not change classification")
  }

  test("incremental-dedup stream holds no per-batch state: blocks do not grow with batch count") {
    // maxFilesPerTrigger=1 over 3 input files forces 3 micro-batches —
    // the single-batch AvailableNow runs above cannot see a per-batch
    // materialized-frame leak. Only the session-lifetime corpus index +
    // fingerprint set may remain persisted after the stream ends.
    val base = Files.createTempDirectory("graft-corpus-incdedup-blocks").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") <= 60)
    docs.where(col("doc_id") > 60).coalesce(3)
      .write.mode("overwrite").parquet(s"$base/in")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startIncrementalDedup(spark, s"$base/in", corpus,
        s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    val after = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    assert(spark.read.parquet(s"$base/out").count() > 0)
    assert(after <= 2,
      s"per-batch blocks leaked: $after new persistent RDDs " +
        "(expected only the corpus index + fingerprint set to remain)")
  }

  test("streaming retrieval serving == batch probe; replay adds nothing; republish follows pointer") {
    val base = Files.createTempDirectory("graft-corpus-serving").toString
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    CorpusStream.publishRetrievalLake(docs, embs, s"$base/lake")
    // two waves of query documents, streamed file-by-file
    val q1 = docs.where(col("doc_id") < 6)
    val q2 = docs.where(col("doc_id") >= 6 && col("doc_id") < 12)
    q1.coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    CorpusStream.startRetrievalServing(spark, s"$base/in", s"$base/lake",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val w1 = CorpusStream.readRetrievalLake(spark, s"$base/lake", "bm25")
    val d1 = CorpusStream.readRetrievalLake(spark, s"$base/lake", "dense")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rk", "doc_id", "rrf_i").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val got1 = rows(spark.read.parquet(s"$base/out"))
    assert(got1 == rows(CorpusStream.hybridProbe(w1, d1, q1)),
      "stream top-k must equal the batch probe for the same queries")
    // checkpoint idempotence: restart with no new input adds nothing
    CorpusStream.startRetrievalServing(spark, s"$base/in", s"$base/lake",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(rows(spark.read.parquet(s"$base/out")) == got1, "replay added rows")
    // republish a CHANGED index (drop the top half of the corpus) --
    // the stream reads the _current pointer inside foreachBatch, so
    // the next micro-batch serves from v2 with no restart handling
    CorpusStream.publishRetrievalLake(docs.where(col("doc_id") < 300),
      embs.where(col("vec_id") < 300), s"$base/lake")
    q2.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startRetrievalServing(spark, s"$base/in", s"$base/lake",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val w2 = CorpusStream.readRetrievalLake(spark, s"$base/lake", "bm25")
    val d2 = CorpusStream.readRetrievalLake(spark, s"$base/lake", "dense")
    val all = spark.read.parquet(s"$base/out")
    val wave2 = all.where(col("batch_seq") > 0)
    assert(rows(wave2) == rows(CorpusStream.hybridProbe(w2, d2, q2)),
      "post-republish batches must serve from the new index version")
    assert(wave2.where(col("doc_id") >= 300).count() == 0,
      "results must only cite docs present in the republished index")
    assert(rows(all.where(col("batch_seq") === 0)) == got1,
      "republish must not disturb already-committed results")
  }

  test("streaming ANN serving == batch indexed probe; replay adds nothing; republish follows pointer") {
    val base = Files.createTempDirectory("graft-corpus-annserve").toString
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    graft.operators.Pq.publishIvfPqLake(embs, s"$base/lake")
    val q1 = docs.where(col("doc_id") < 6)
    q1.coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    CorpusStream.startAnnServing(spark, s"$base/in", s"$base/lake",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rk", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batchQ1 = graft.operators.Pq.ivfPqTopKIndexed(spark, s"$base/lake",
      embs.where(col("vec_id") < 6).select(col("vec_id"), col("embedding")),
      k = 5)
    val got1 = rows(spark.read.parquet(s"$base/out"))
    assert(got1 == rows(batchQ1),
      "stream ANN top-k must equal the batch indexed probe")
    // checkpoint idempotence
    CorpusStream.startAnnServing(spark, s"$base/in", s"$base/lake",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(rows(spark.read.parquet(s"$base/out")) == got1, "replay added rows")
    // republish over HALF the corpus: the next micro-batch must serve
    // from the new snapshot — no result may cite a dropped vector
    graft.operators.Pq.publishIvfPqLake(
      embs.where(col("vec_id") < 300), s"$base/lake")
    docs.where(col("doc_id") >= 6 && col("doc_id") < 12)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startAnnServing(spark, s"$base/in", s"$base/lake",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val wave2 = spark.read.parquet(s"$base/out").where(col("batch_seq") > 0)
    assert(wave2.count() > 0)
    assert(wave2.where(col("vec_id") >= 300).count() == 0,
      "post-republish results cite vectors absent from the new index")
  }

  test("streaming incremental clusters == one full batch CC; replay adds nothing") {
    val base = Files.createTempDirectory("graft-corpus-incclu").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") < 300)
    CorpusStream.publishClusterLake(corpus, s"$base/lake")
    // two ingest waves, streamed file-by-file (2 micro-batches)
    docs.where(col("doc_id") >= 300 && col("doc_id") < 400)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    docs.where(col("doc_id") >= 400)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startIncrementalClusters(spark, s"$base/in", s"$base/lake",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = labelMap(CorpusStream.readClusterLake(spark, s"$base/lake", "labels"))
    // truth: ONE full batch CC over all documents, singletons self-labeled
    val full = labelMap(graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(docs, k = 3, threshold = 0.5)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      assert(got.getOrElse(id, id) == full.getOrElse(id, id),
        s"doc $id: stream=${got.getOrElse(id, id)} full=${full.getOrElse(id, id)}")
    }
    assert(got.size == ids.length, "maintained label table must cover every doc")
    // at least one cross-wave merge must exist, else the test is vacuous
    assert(got.exists { case (d, c) => d >= 300 && c != d },
      "no ingested doc joined an existing cluster - fixture vacuous")
    // checkpoint idempotence: restart with no new input changes nothing
    CorpusStream.startIncrementalClusters(spark, s"$base/in", s"$base/lake",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val got2 = labelMap(CorpusStream.readClusterLake(spark, s"$base/lake", "labels"))
    assert(got2 == got, "replay with no new input must not change labels")
    // crash-replay idempotence: re-deliver an ALREADY-COMMITTED batch
    // (a fresh checkpoint dir simulates foreachBatch replay after a
    // crash once the group pointer moved). The overlap-safe operator
    // must re-merge to the identical labels, with no duplicate doc_id
    // rows in either table.
    CorpusStream.startIncrementalClusters(spark, s"$base/in", s"$base/lake",
      s"$base/cp2", maxFilesPerTrigger = 1).awaitTermination()
    val labels3 = CorpusStream.readClusterLake(spark, s"$base/lake", "labels")
    assert(labelMap(labels3) == got, "replaying a committed batch changed labels")
    assert(labels3.count() == labels3.select("doc_id").distinct().count(),
      "replay produced duplicate label rows")
    val docs3 = CorpusStream.readClusterLake(spark, s"$base/lake", "docs")
    assert(docs3.count() == docs3.select("doc_id").distinct().count(),
      "replay produced duplicate doc rows")
    // both tables resolve through ONE pointer: the current version's
    // manifest (or legacy dir) addresses docs and labels together (no
    // half-committed snapshot is ever addressable)
    val verName = graft.sources.StormSinks.currentVersionName(spark, s"$base/lake")
    val tables = graft.sources.StormSinks.groupTablesAt(spark, s"$base/lake", verName)
    assert(tables.contains("docs") && tables.contains("labels"),
      s"group version must address both tables, got $tables")
    // O(batch) state I/O: the streaming commits appended delta
    // segments — the base version's corpus-sized tables were written
    // once by the publisher and never rewritten by any micro-batch
    val baseFps = new java.io.File(s"$base/lake/v-0/docs")
    assert(baseFps.exists, "publisher base version must hold the corpus docs")
    val segDirs = new java.io.File(s"$base/lake").listFiles
      .filter(_.getName.startsWith("seg-")).map(_.getName)
    assert(segDirs.nonEmpty, "streaming commits must be delta segments")
    // each docs delta holds at most one WAVE of docs (100), never the
    // accumulated corpus
    segDirs.foreach { sd =>
      val d = new java.io.File(s"$base/lake/$sd/docs")
      if (d.exists)
        assert(spark.read.parquet(d.getPath).count() <= 100,
          s"$sd/docs is not batch-sized")
    }
  }

  test("cluster stream: re-delivered id with CHANGED text leaves the lake unchanged") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-corpus-retext").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") < 100)
    CorpusStream.publishClusterLake(corpus, s"$base/lake")
    def snapshot() = (
      CorpusStream.readClusterLake(spark, s"$base/lake", "docs")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap,
      CorpusStream.readClusterLake(spark, s"$base/lake", "labels")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val (docs0, labels0) = snapshot()
    // re-deliver committed doc 5 with DIFFERENT text: a committed id's
    // text is authoritative — merging from text the docs table doesn't
    // hold would publish labels a full recompute from docs could never
    // reproduce (content updates go through deletion + re-ingest)
    corpus.where(col("doc_id") === 7L)
      .withColumn("doc_id", lit(5L))
      .coalesce(1).write.parquet(s"$base/in")
    CorpusStream.startIncrementalClusters(spark, s"$base/in", s"$base/lake",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val (docs1, labels1) = snapshot()
    assert(docs1 == docs0, "changed-text re-delivery mutated the docs table")
    assert(labels1 == labels0, "changed-text re-delivery relabeled the lake")
  }

  test("INDEXED streaming clusters == full batch CC across an index republish") {
    val base = Files.createTempDirectory("graft-corpus-idxclu").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") < 300)
    CorpusStream.publishClusterLakeIndexed(corpus, s"$base/state", s"$base/index")
    def labelMap() = CorpusStream
      .readClusterLake(spark, s"$base/state", "labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // wave 1 merges through the published index (fresh side = batch only)
    docs.where(col("doc_id") >= 300 && col("doc_id") < 400)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    CorpusStream.startIncrementalClustersIndexed(spark, s"$base/in",
      s"$base/state", s"$base/index", s"$base/cp").awaitTermination()
    // maintenance republish: index re-freezes over 0..399, fresh resets
    CorpusStream.republishClusterIndex(spark, s"$base/state", s"$base/index")
    assert(graft.sources.StormSinks
      .readVersionedGroupTable(spark, s"$base/state", "fresh").count() == 0,
      "republish must reset the fresh table")
    // wave 2 merges through the NEW index
    docs.where(col("doc_id") >= 400)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startIncrementalClustersIndexed(spark, s"$base/in",
      s"$base/state", s"$base/index", s"$base/cp").awaitTermination()
    val got = labelMap()
    val full = graft.operators.Dedup.clusters(
        graft.operators.Dedup.jaccardPairs(docs, k = 3, threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      assert(got.getOrElse(id, id) == full.getOrElse(id, id),
        s"doc $id: indexed-stream=${got.getOrElse(id, id)} full=${full.getOrElse(id, id)}")
    }
    assert(got.exists { case (d, c) => d >= 300 && c != d },
      "no ingested doc joined an existing cluster - fixture vacuous")
    // fresh holds exactly the docs ingested since the republish
    assert(graft.sources.StormSinks
      .readVersionedGroupTable(spark, s"$base/state", "fresh")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      ids.filter(_ >= 400).toSet)
    // crash-replay: a fresh checkpoint re-delivers BOTH waves against
    // the maintained state — labels must come out identical
    CorpusStream.startIncrementalClustersIndexed(spark, s"$base/in",
      s"$base/state", s"$base/index", s"$base/cp2").awaitTermination()
    assert(labelMap() == got, "replaying committed batches changed labels")
  }

  test("cluster + lake-dedup streams hold no per-batch state: ZERO block residue across 3 micro-batches") {
    // The r10/r11 leak class: the operators these streams run per
    // micro-batch (incrementalClusters, the lake probe, the quotient
    // CC) materialize INTERNAL frames they never hand back — without
    // the Materialize.scoped boundary every micro-batch stranded them
    // in the block manager for the stream's lifetime, the melt a 24/7
    // deployment can't survive. 3 input files × maxFilesPerTrigger=1
    // forces 3 micro-batches; after each stream ends, the persistent-
    // RDD count must be EXACTLY what it was before the stream started
    // (these lake-backed streams keep no session-lifetime frames).
    val base = Files.createTempDirectory("graft-corpus-cluster-blocks").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") <= 60)
    docs.where(col("doc_id") > 60 && col("doc_id") <= 120).coalesce(3)
      .write.mode("overwrite").parquet(s"$base/in")

    CorpusStream.publishClusterLake(corpus, s"$base/lake")
    // leak detection by ID difference — count equality flakes when the
    // async cleaner retires an older suite's block mid-test
    val b1 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startIncrementalClusters(spark, s"$base/in", s"$base/lake",
      s"$base/cp1", maxFilesPerTrigger = 1).awaitTermination()
    val a1 = spark.sparkContext.getPersistentRDDs.keySet -- b1
    assert(a1.isEmpty, s"incremental-clusters stream leaked blocks: $a1")

    CorpusStream.publishClusterLakeIndexed(corpus, s"$base/state", s"$base/index")
    val b2 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startIncrementalClustersIndexed(spark, s"$base/in",
        s"$base/state", s"$base/index", s"$base/cp2", maxFilesPerTrigger = 1)
      .awaitTermination()
    val a2 = spark.sparkContext.getPersistentRDDs.keySet -- b2
    assert(a2.isEmpty, s"indexed-clusters stream leaked blocks: $a2")

    CorpusStream.publishDedupLake(corpus, s"$base/dlake")
    val b3 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startIncrementalDedupFromLake(spark, s"$base/in",
        s"$base/dlake", s"$base/out3", s"$base/cp3", maxFilesPerTrigger = 1)
      .awaitTermination()
    val a3 = spark.sparkContext.getPersistentRDDs.keySet -- b3
    assert(a3.isEmpty, s"lake-dedup stream leaked blocks: $a3")
    assert(spark.read.parquet(s"$base/out3").count() > 0, "dedup stream wrote nothing")

    // the pretrain-prep gate materializes FOUR frames per batch
    // (lines, fresh lines, paragraphs, fresh paragraphs) plus the
    // sized-output frame — all must die with the batch scope
    CorpusStream.publishPretrainIndex(corpus, s"$base/pstate")
    val b5 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/pstate",
        s"$base/out5", s"$base/cp5", maxFilesPerTrigger = 1)
      .awaitTermination()
    val a5 = spark.sparkContext.getPersistentRDDs.keySet -- b5
    assert(a5.isEmpty, s"pretrain-prep stream leaked blocks: $a5")

    // the publishers themselves are scoped too — no session residue
    // beyond what existed before this test's publishes
    val b4 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.publishClusterLake(corpus, s"$base/lake2")
    val a4 = spark.sparkContext.getPersistentRDDs.keySet -- b4
    assert(a4.isEmpty,
      s"publishClusterLake left its CC labels materialized: $a4")
  }

  test("drift gate: final streaming PSI terms == batch corpus_drift; replay adds nothing") {
    // the gate folds per-batch counts into cumulative state, so after
    // ingesting everything corpus_drift's cur side holds, its LAST
    // batch's terms must equal the one-shot batch computation — same
    // Drift expressions, same counts, proved end-to-end across 3
    // micro-batches rather than by construction alone.
    val base = Files.createTempDirectory("graft-drift-gate").toString
    val doc = Tables.documents(spark, sfDir)
    val cut = math.floor(doc.count() * 0.7).toLong
    CorpusStream.publishDriftRef(doc.where(col("doc_id") < cut), s"$base/ref")
    doc.where(col("doc_id") >= cut).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    val b0 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startDriftGate(spark, s"$base/in", s"$base/ref",
      s"$base/state", s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- b0).isEmpty,
      "drift gate leaked materialized frames")
    val got = CorpusStream.latestDriftTerms(spark, s"$base/out")
      .orderBy(col("feature"), col("bucket")).collect().map(_.toSeq).toSeq
    val want = graft.operators.PipelineQueries.queries("corpus_drift")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "streaming gate diverged from batch corpus_drift")
    // intermediate batches were also stamped (3 files -> 3 term dumps)
    assert(spark.read.parquet(s"$base/out")
      .select(col("batch_seq")).distinct().count() == 3)
    // replaying the committed stream is a no-op: same checkpoint, no
    // new input -> no new terms, no state version churn
    val before = spark.read.parquet(s"$base/out").count()
    CorpusStream.startDriftGate(spark, s"$base/in", s"$base/ref",
      s"$base/state", s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == before,
      "replaying committed batches re-emitted terms")
    // cold start: empty, with the warm reader's schema
    val cold = CorpusStream.latestDriftTerms(spark, s"$base/never")
    assert(cold.count() == 0)
    assertColdSchema(cold, CorpusStream.latestDriftTerms(spark, s"$base/out"))
    // freshness guard: used state + lineage-less checkpoint rejected
    // (restarted batch ids would skip the first last_batch + 1 batches)
    val e = intercept[IllegalStateException] {
      CorpusStream.startDriftGate(spark, s"$base/in", s"$base/ref",
        s"$base/state", s"$base/out", s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("no committed offsets"), e.getMessage)
  }

  test("corpus card: cumulative counters == one batch aggregation; replay adds nothing") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-corpus-card").toString
    val docs = Tables.documents(spark, sfDir)
    // 3 waves, streamed file-by-file
    docs.where(col("doc_id") < 200).coalesce(1).write.parquet(s"$base/in")
    docs.where(col("doc_id") >= 200 && col("doc_id") < 350)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    docs.where(col("doc_id") >= 350)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    // wave 4: the first 50 docs RE-INGESTED under fresh ids — every
    // one a known duplicate (the corpus is all-distinct otherwise),
    // exercising the fps registry's dup verdicts
    val rewave = docs.where(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    rewave.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startCorpusCard(spark, s"$base/in", s"$base/state",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    def m(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("mean_quality"), col("dup_docs"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6)))
      .toMap
    val got = m(CorpusStream.readCorpusCard(spark, s"$base/state"))
    // truth: one batch aggregation over all input — the re-ingested
    // docs count in every counter AND as dups (their fingerprints'
    // first occurrences are the original corpus rows)
    val all = docs.unionByName(rewave)
    val want = m(all
      .withColumn("__dup", (col("doc_id") >= 1000000L).cast("boolean"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.Text.tokenCount(col("text")).cast("long")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        sum(floor(graft.functions.Text.qualityScore(col("text")) * 1000000.0 + 0.5)
          .cast("long")).as("sum_q6"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("dup_docs"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round(col("sum_q6").cast("double") /
          (col("n_docs").cast("double") * 1000000.0), 6).as("mean_quality"),
        col("dup_docs")))
    assert(got == want, s"cumulative card diverged from batch aggregation")
    assert(got.values.map(_._5).sum == 50L, "re-ingest wave must count 50 dups")
    // the derived dup_rate and mean_quality read off the same counters
    val card = CorpusStream.readCorpusCard(spark, s"$base/state")
    assert(card.agg(sum(col("dup_docs"))).head().getLong(0) == 50L)
    assert(card.where(col("mean_quality") < 0.0 || col("mean_quality") > 1.0)
      .count() == 0, "mean_quality outside [0,1]")
    // derived mean is consistent
    val row = CorpusStream.readCorpusCard(spark, s"$base/state")
      .orderBy(col("source"), col("lang")).head()
    assert(math.abs(row.getAs[Double]("mean_chars") -
      row.getAs[Long]("n_chars").toDouble / row.getAs[Long]("n_docs")) < 1e-5)
    // replay: no new input -> state version stable, counters unchanged
    CorpusStream.startCorpusCard(spark, s"$base/in", s"$base/state",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(m(CorpusStream.readCorpusCard(spark, s"$base/state")) == want,
      "replay changed the card")
    // cold start
    assert(CorpusStream.readCorpusCard(spark, s"$base/never").count() == 0)
    assertColdSchema(CorpusStream.readCorpusCard(spark, s"$base/never"),
      CorpusStream.readCorpusCard(spark, s"$base/state"))
    // bounded version history: the inline vacuum keeps the keep+1 = 3
    // newest version dirs PLUS the base whose fps segment the delta
    // manifests still reference (reference-aware retention)
    val vdirs = new java.io.File(s"$base/state").listFiles
      .count(_.getName.startsWith("v-"))
    assert(vdirs <= 4, s"card versions grew unboundedly: $vdirs dirs")
    // freshness guard: used state + lineage-less checkpoint rejected
    val e = intercept[IllegalStateException] {
      CorpusStream.startCorpusCard(spark, s"$base/in", s"$base/state",
        s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("no committed offsets"), e.getMessage)
    // corrupt state (pointer present, counts segment gone) must
    // PROPAGATE, never silently reset the cumulative card
    val verName = graft.sources.StormSinks.currentVersionName(spark, s"$base/state")
    val cseg = graft.sources.StormSinks
      .segmentsAt(spark, s"$base/state", verName, "counts").head
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(cseg))
    intercept[Exception] {
      CorpusStream.readCorpusCard(spark, s"$base/state").count()
    }
  }

  test("domain mixer: streamed weights == batch doremiWeights over all input; replay no-op") {
    val base = Files.createTempDirectory("graft-domain-mixer").toString
    val docs = Tables.documents(spark, sfDir)
    // 3 waves streamed file-by-file so the counters merge across batches
    docs.where(col("doc_id") < 200).coalesce(1).write.parquet(s"$base/in")
    docs.where(col("doc_id") >= 200 && col("doc_id") < 350)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    docs.where(col("doc_id") >= 350)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startDomainMixer(spark, s"$base/in", s"$base/state",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("excess_mi"),
          r.getAs[Long]("w_mi"))).toMap
    val got = m(CorpusStream.readDomainWeights(spark, s"$base/state"))
    // truth: the batch multiplicative-weights core over ALL input with
    // the same per-doc 1e-6-grid quality score
    val dom = docs.select(col("source").as("__g"),
        floor(graft.functions.Text.qualityScore(col("text")) * 1000000.0 + 0.5)
          .cast("long").as("q6"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("q6")).as("__s"))
    val want = m(graft.operators.Sampling.doremiWeights(dom, rounds = 3, etaDen = 2L)
      .select(col("__g").as("source"), col("__n").as("n_docs"),
        col("__excess").as("excess_mi"), col("__w").as("w_mi")))
    assert(got == want, "streamed mixer weights diverged from batch core")
    assert(got.nonEmpty)
    // floor-renormalized weights sum to 1e6 minus at most |domains|
    val wsum = got.values.map(_._3).sum
    assert(wsum <= 1000000L && wsum >= 1000000L - got.size,
      s"weight mass $wsum off the renormalized grid")
    // replay: same checkpoint, no new input -> weights unchanged
    CorpusStream.startDomainMixer(spark, s"$base/in", s"$base/state",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(m(CorpusStream.readDomainWeights(spark, s"$base/state")) == want,
      "replay changed the mixer state")
    // cold start
    assert(CorpusStream.readDomainWeights(spark, s"$base/never").count() == 0)
    assertColdSchema(CorpusStream.readDomainWeights(spark, s"$base/never"),
      CorpusStream.readDomainWeights(spark, s"$base/state"))
    // bounded version history under the inline vacuum
    val vdirs = new java.io.File(s"$base/state").listFiles
      .count(_.getName.startsWith("v-"))
    assert(vdirs <= 4, s"mixer versions grew unboundedly: $vdirs dirs")
    // freshness guard: used state + lineage-less checkpoint rejected
    val e = intercept[IllegalStateException] {
      CorpusStream.startDomainMixer(spark, s"$base/in", s"$base/state",
        s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("no committed offsets"), e.getMessage)
    // the INVERSE guard: state dir lost/wiped but checkpoint kept —
    // already-processed files would never replay, so the counters
    // would permanently undercount while the reader serves them as
    // the full mixture. Must be rejected, not silently resumed.
    val e2 = intercept[IllegalStateException] {
      CorpusStream.startDomainMixer(spark, s"$base/in", s"$base/state-lost",
        s"$base/cp", maxFilesPerTrigger = 1)
    }
    assert(e2.getMessage.contains("lost or wiped"), e2.getMessage)
  }

  test("classify gate: stream scores == batch Classify.scores; republish re-resolves; replay adds nothing") {
    val base = Files.createTempDirectory("graft-classify-gate").toString
    val doc = Tables.documents(spark, sfDir)
    CorpusStream.publishClassifier(doc, s"$base/model")
    doc.repartition(2).write.mode("overwrite").parquet(s"$base/in")
    val b0 = spark.sparkContext.getPersistentRDDs.keySet
    CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- b0).isEmpty,
      "classify gate leaked materialized frames")
    // the gate scores under the published weights; Classify.scores
    // trains on the SAME corpus, so the two must agree doc-for-doc
    val got = CorpusStream.latestClassifyScores(spark, s"$base/out")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val want = graft.operators.Classify.scores(doc)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(got == want, "streaming scores diverged from batch Classify.scores")
    // replay: same checkpoint, no new input -> no new rows
    val before = spark.read.parquet(s"$base/out").count()
    CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == before,
      "replaying committed batches re-emitted scores")
    // weight republish (different steps => different weights) takes
    // effect on the NEXT batch without a stream restart: new docs
    // score under v2, and the doc-keyed reader keeps the newest row
    val w2 = CorpusStream.publishClassifier(doc, s"$base/model", steps = 2)
    val fresh = doc.limit(5).select(col("doc_id") + 900000L, col("text"),
      col("lang"), col("source"), col("n_chars"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    fresh.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    val gotFresh = CorpusStream.latestClassifyScores(spark, s"$base/out")
      .where(col("doc_id") >= 900000L)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val wantFresh = graft.operators.Classify.scoreWith(fresh, w2)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(gotFresh == wantFresh,
      "post-republish batch did not score under the new weights")
    // freshness guard: a lineage-less checkpoint against existing
    // scores must be rejected at start — without a weight republish a
    // re-scored doc would lose the (model_ver, batch_seq) collapse to
    // its stale higher-batch_seq row forever
    val e = intercept[IllegalStateException] {
      CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
        s"$base/out", s"$base/cp-fresh", maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("fresh"), e.getMessage)
    // ...but the DESIGNED checkpoint-loss recovery must work: after a
    // republish bumps the lake version past every existing score's
    // model_ver, a lineage-less start is safe (model_ver-major collapse
    // means every fresh score wins regardless of restarted batch ids)
    val w3 = CorpusStream.publishClassifier(doc, s"$base/model", steps = 3)
    CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
      s"$base/out", s"$base/cp-fresh", maxFilesPerTrigger = 1)
      .awaitTermination()
    val gotV3 = CorpusStream.latestClassifyScores(spark, s"$base/out")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val allDocs = doc.unionByName(fresh)
    val wantV3 = graft.operators.Classify.scoreWith(allDocs, w3)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(gotV3 == wantV3,
      "post-recovery scores did not collapse to the republished version")
    // cold start: empty, with the warm reader's schema
    val cold = CorpusStream.latestClassifyScores(spark, s"$base/never")
    assert(cold.count() == 0)
    assertColdSchema(cold, CorpusStream.latestClassifyScores(spark, s"$base/out"))
  }

  test("line-clean stream: batch parity on one batch, cross-batch registry dedup, replay adds nothing") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-lineclean").toString
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // corpus: owns the boilerplate footer
    val corpus = Seq(doc(1L,
      "corpus content line number one\nSubscribe to our newsletter today"))
      .toDF(cols: _*)
    CorpusStream.publishLineIndex(corpus, s"$base/state")
    // wave 1: a fresh line + the corpus-owned footer (must drop) +
    // an internal duplicate across the wave's two docs (keep-first)
    val w1 = Seq(
      doc(10L, "stream fresh line here alpha\nsubscribe to our newsletter today"),
      doc(11L, "stream fresh line here alpha\nunique to eleven only line"))
      .toDF(cols: _*)
    w1.coalesce(1).write.parquet(s"$base/in")
    CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val out1 = CorpusStream.latestCleanLines(spark, s"$base/out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(out1 == Map(
      10L -> "stream fresh line here alpha",
      11L -> "unique to eleven only line"),
      s"wave-1 cleaning wrong: $out1")
    // replay: no new input -> nothing re-emitted, registry version stable
    CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == 2,
      "replay re-emitted cleaned docs")
    // wave 2: repeats wave-1's fresh line (now registry-owned -> drop)
    val w2 = Seq(doc(20L,
      "stream fresh line here alpha\nsecond wave brand new line"))
      .toDF(cols: _*)
    w2.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val out2 = spark.read.parquet(s"$base/out")
      .where(col("doc_id") === 20L).collect()
    assert(out2.length == 1 &&
      out2(0).getAs[String]("clean_text") == "second wave brand new line",
      s"wave-2 must drop the registry-owned line: ${out2.toSeq}")
    // global invariant: every kept line across corpus + stream is
    // unique, and single-batch parity — an empty registry + one batch
    // equals batch cleanLines
    val empty = Seq.empty[(Long, String, String, String, Int)].toDF(cols: _*)
    CorpusStream.publishLineIndex(empty, s"$base/state2")
    w1.coalesce(1).write.parquet(s"$base/in2")
    CorpusStream.startLineClean(spark, s"$base/in2", s"$base/state2",
      s"$base/out2", s"$base/cp2", maxFilesPerTrigger = 1).awaitTermination()
    val got = CorpusStream.latestCleanLines(spark, s"$base/out2")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val want = graft.operators.Lines.cleanLines(w1)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(got == want, "single-batch stream diverged from batch cleanLines")
    // the at-least-once reader: one row per doc, empty on cold start
    assert(CorpusStream.latestCleanLines(spark, s"$base/out").count() == 3)
    assert(CorpusStream.latestCleanLines(spark, s"$base/never-written").count() == 0)
    assertColdSchema(CorpusStream.latestCleanLines(spark, s"$base/never-written"),
      CorpusStream.latestCleanLines(spark, s"$base/out"))
    // the freshness guard: a used registry with a lineage-less
    // checkpoint must be rejected at start, not silently skip batches
    // (it is load-bearing against data loss — the replay gate would
    // swallow every document of the restarted batch ids otherwise)
    val e1 = intercept[IllegalStateException] {
      CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
        s"$base/out", s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e1.getMessage.contains("no committed offsets"))
    // a pre-created-but-EMPTY checkpoint dir is just as lineage-less
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/cp-empty/lineclean/offsets"))
    intercept[IllegalStateException] {
      CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
        s"$base/out", s"$base/cp-empty", maxFilesPerTrigger = 1)
    }
    // parameter drift: probing under different RULES than the
    // published fingerprints silently diverges the dedup — raise
    val pe = intercept[IllegalArgumentException] {
      CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
        s"$base/out", s"$base/cp", minWords = 5, maxFilesPerTrigger = 1)
    }
    assert(pe.getMessage.contains("min_words"), pe.getMessage)
  }

  test("paragraph-dedup stream: batch parity, cross-batch registry dedup, replay no-op, freshness guard") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pardedup").toString
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // corpus owns the boilerplate paragraph
    val corpus = Seq(doc(1L,
      "original corpus paragraph\n\nshared boilerplate footer paragraph"))
      .toDF(cols: _*)
    CorpusStream.publishParagraphIndex(corpus, s"$base/state")
    // wave 1: fresh par + corpus-owned par (drops, still counts in
    // n_removed) + an internal cross-doc duplicate (keep-first: doc 10)
    val w1 = Seq(
      doc(10L, "alpha fresh paragraph\n\nShared   Boilerplate Footer Paragraph"),
      doc(11L, "alpha fresh paragraph\n\nunique to eleven paragraph"))
      .toDF(cols: _*)
    w1.coalesce(1).write.parquet(s"$base/in")
    CorpusStream.startParagraphDedup(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val out1 = CorpusStream.latestParagraphDedup(spark, s"$base/out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_pars"), r.getAs[Long]("n_removed")))).toMap
    assert(out1 == Map(
      10L -> (("alpha fresh paragraph", 2L, 1L)),
      11L -> (("unique to eleven paragraph", 2L, 1L))),
      s"wave-1 dedup wrong: $out1")
    // replay: nothing re-emitted
    CorpusStream.startParagraphDedup(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == 2,
      "replay re-emitted deduped docs")
    // wave 2: repeats wave-1's fresh paragraph (now registry-owned);
    // a doc whose EVERY paragraph is seen drops out entirely
    val w2 = Seq(
      doc(20L, "alpha fresh paragraph\n\nsecond wave novel paragraph"),
      doc(21L, "alpha fresh paragraph"))
      .toDF(cols: _*)
    w2.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startParagraphDedup(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val out2 = spark.read.parquet(s"$base/out")
      .where(col("doc_id") >= 20L).collect()
    assert(out2.length == 1 && out2(0).getAs[Long]("doc_id") == 20L &&
      out2(0).getAs[String]("clean_text") == "second wave novel paragraph",
      s"wave-2 registry dedup wrong: ${out2.toSeq}")
    // single-batch parity: empty registry + one batch == batch
    // dedupParagraphs
    val empty = Seq.empty[(Long, String, String, String, Int)].toDF(cols: _*)
    CorpusStream.publishParagraphIndex(empty, s"$base/state2")
    w1.coalesce(1).write.parquet(s"$base/in2")
    CorpusStream.startParagraphDedup(spark, s"$base/in2", s"$base/state2",
      s"$base/out2", s"$base/cp2", maxFilesPerTrigger = 1).awaitTermination()
    val got = CorpusStream.latestParagraphDedup(spark, s"$base/out2")
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val want = graft.operators.Lines.dedupParagraphs(w1)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(got == want, "single-batch stream diverged from batch dedupParagraphs")
    // cold start + freshness guard
    assert(CorpusStream.latestParagraphDedup(spark, s"$base/nowhere").count() == 0)
    assertColdSchema(CorpusStream.latestParagraphDedup(spark, s"$base/nowhere"),
      CorpusStream.latestParagraphDedup(spark, s"$base/out"))
    val e = intercept[IllegalStateException] {
      CorpusStream.startParagraphDedup(spark, s"$base/in", s"$base/state",
        s"$base/out", s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("no committed offsets"))
  }

  test("pretrain-prep stream: single-batch parity, cross-batch both-registry dedup, one atomic state group") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pretrain-stream").toString
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // corpus: owns a boilerplate line AND (via its cleaned text) a
    // paragraph; plus enough body to survive the rules
    val corpus = Seq(doc(1L,
      "corpus only content line here\nsubscribe to our newsletter today" +
        "\n\ncorpus owned paragraph body text")).toDF(cols: _*)
    CorpusStream.publishPretrainIndex(corpus, s"$base/state")
    // wave 1: HTML page — fresh line + corpus-owned footer (drop) +
    // a paragraph equal to the corpus's cleaned paragraph (drop)
    val w1 = Seq(doc(10L,
      "<html><body><p>wave one fresh line alpha</p>" +
        "<p>subscribe to our newsletter today</p>" +
        "<script>tracking()</script></body></html>" +
        "<p>corpus owned paragraph body text</p>"))
      .toDF(cols: _*)
    w1.coalesce(1).write.parquet(s"$base/in")
    CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val out1 = CorpusStream.latestPretrainPrep(spark, s"$base/out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out1 == Map(10L -> "wave one fresh line alpha"),
      s"wave-1 output wrong: $out1")
    // single-batch parity against the BATCH composition on an empty
    // registry: stream == prepText(html-extracted page)
    val empty = Seq.empty[(Long, String, String, String, Int)].toDF(cols: _*)
    CorpusStream.publishPretrainIndex(empty, s"$base/state2")
    w1.coalesce(1).write.parquet(s"$base/in2")
    CorpusStream.startPretrainPrep(spark, s"$base/in2", s"$base/state2",
      s"$base/out2", s"$base/cp2", maxFilesPerTrigger = 1).awaitTermination()
    val got = CorpusStream.latestPretrainPrep(spark, s"$base/out2")
      .select(col("doc_id"), col("clean_text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = graft.operators.Pretrain.prepText(w1.select(col("doc_id"),
        graft.functions.Html.extractText(col("text")).as("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, s"stream=$got batch=$want")
    // wave 2: repeats wave-1's fresh LINE (registry-owned now) and
    // adds a fresh paragraph; the blocklisted page drops wholesale
    val w2 = Seq(
      doc(20L, "wave one fresh line alpha\n\nsecond wave novel paragraph here"),
      doc(21L, "this page mentions dup and is dropped wholesale"))
      .toDF(cols: _*)
    w2.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val out2 = CorpusStream.latestPretrainPrep(spark, s"$base/out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(
      10L -> "wave one fresh line alpha",
      20L -> "second wave novel paragraph here"), s"wave-2 wrong: $out2")
    // replay adds nothing
    val before = spark.read.parquet(s"$base/out").count()
    CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == before,
      "replay re-emitted docs")
    // BOTH registries live under ONE pointer with O(batch) deltas:
    // the commit's segment holds only the batch's fresh fps
    val verName = graft.sources.StormSinks.currentVersionName(spark, s"$base/state")
    val tables = graft.sources.StormSinks.groupTablesAt(spark, s"$base/state", verName)
    assert(tables.toSet == Set("line_fps", "par_fps", "meta"), tables.toString)
    assert(spark.read.parquet(s"$base/state/seg-1/line_fps").count() == 1,
      "wave-1 line delta must hold exactly the one fresh line")
    assert(spark.read.parquet(s"$base/state/seg-1/par_fps").count() == 1,
      "wave-1 paragraph delta must hold exactly the one fresh paragraph")
    // freshness guard
    val e = intercept[IllegalStateException] {
      CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
        s"$base/out", s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("no committed offsets"))
    // parameter drift raises (the clusterMeta discipline)
    val pe = intercept[IllegalArgumentException] {
      CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
        s"$base/out", s"$base/cp", minWords = 7, maxFilesPerTrigger = 1)
    }
    assert(pe.getMessage.contains("min_words"), pe.getMessage)
  }

  test("pretrain-prep funnel: per-batch stage yields, cumulative == batch composition, replay no-op") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pretrain-funnel").toString
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val empty = Seq.empty[(Long, String, String, String, Int)].toDF(cols: _*)
    CorpusStream.publishPretrainIndex(empty, s"$base/state")
    // three waves, increasing doc ids (keep-first order == ingest
    // order): a cross-batch duplicate line (w2 repeats w1's), a
    // cross-batch duplicate paragraph (w3 repeats w1's), and a
    // blocklisted page (w2's doc 21) that dies at stage 1
    val w1 = Seq(doc(10L,
      "wave one fresh line alpha\n\nshared paragraph body text here"))
      .toDF(cols: _*)
    val w2 = Seq(
      doc(20L, "wave one fresh line alpha\n\nsecond wave novel paragraph here"),
      doc(21L, "this page mentions dup and is dropped wholesale"))
      .toDF(cols: _*)
    val w3 = Seq(doc(30L,
      "shared paragraph body text here\n\nthird wave unique paragraph line"))
      .toDF(cols: _*)
    w1.coalesce(1).write.parquet(s"$base/in")
    w2.coalesce(1).write.mode("append").parquet(s"$base/in")
    w3.coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1,
      funnelDir = s"$base/funnel").awaitTermination()
    val funnel = CorpusStream.readPretrainFunnel(spark, s"$base/funnel")
      .collect()
      .map(r => (r.getAs[Long]("batch_seq"), r.getAs[String]("stage")) ->
        r.getAs[Long]("n_docs")).toMap
    // one row per (batch, stage): 3 batches x 4 stages
    assert(funnel.size == 12, s"funnel rows: ${funnel.size}")
    // cumulative per-stage sums == the BATCH composition's stage
    // counts over the total ingest (prepChain order, html strip first)
    val all = w1.unionByName(w2).unionByName(w3)
    val fixed = all.select(col("doc_id"), graft.functions.Text.fixText(
      graft.functions.Html.extractText(col("text"))).as("text"))
    val pageOk = graft.operators.Lines.dropBadwordPages(fixed)
    val lined = graft.operators.Lines.cleanLines(pageOk)
      .select(col("doc_id"), col("clean_text").as("text"))
    val pared = graft.operators.Lines.dedupParagraphs(lined)
    def cum(stage: String): Long =
      funnel.collect { case ((_, s), n) if s == stage => n }.sum
    assert(cum("0_raw") == all.count(), s"raw ${cum("0_raw")}")
    assert(cum("1_blocklist") == pageOk.count(), s"blocklist ${cum("1_blocklist")}")
    assert(cum("2_line_clean") == lined.count(), s"line ${cum("2_line_clean")}")
    assert(cum("3_paragraph_dedup") == pared.count(), s"par ${cum("3_paragraph_dedup")}")
    // the funnel SEES the drops: the blocklisted page died at stage 1
    // in batch 1, and w3's duplicated paragraph died at stage 3
    assert(funnel((1L, "0_raw")) == 2L && funnel((1L, "1_blocklist")) == 1L,
      "batch-1 blocklist drop invisible in the funnel")
    assert(funnel((2L, "2_line_clean")) == 1L,
      "w3's doc must survive line clean (owns a fresh line)")
    // replay: same checkpoint, no new input -> no new funnel rows
    CorpusStream.startPretrainPrep(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1,
      funnelDir = s"$base/funnel").awaitTermination()
    assert(CorpusStream.readPretrainFunnel(spark, s"$base/funnel").count() == 12,
      "replay re-emitted funnel rows")
    // cold start
    assert(CorpusStream.readPretrainFunnel(spark, s"$base/never").count() == 0)
    assertColdSchema(CorpusStream.readPretrainFunnel(spark, s"$base/never"),
      CorpusStream.readPretrainFunnel(spark, s"$base/funnel"))
  }

  test("registry commits are O(batch): base segments untouched, deltas batch-sized, compaction folds") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-obatch-registry").toString
    def fileSet(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f => f.getPath + "@" + f.lastModified).toSet
    }
    // big corpus registry: every rule-surviving line of the sf corpus
    val docs = Tables.documents(spark, sfDir)
    CorpusStream.publishLineIndex(docs, s"$base/state")
    val regSize = graft.sources.StormSinks
      .readVersionedGroupTable(spark, s"$base/state", "fps").count()
    assert(regSize > 100, s"fixture registry too small: $regSize")
    val baseFiles = fileSet(s"$base/state/v-0")
    // one TINY streamed doc: 2 fresh lines (>= 3 words each)
    Seq((900001L, "totally fresh streamed line alpha\nanother fresh streamed line beta",
      "en", "s", 60)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$base/in")
    CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    // the state commit wrote a BATCH-sized delta, never the registry:
    // the base version's files are byte-identical and the new segment
    // holds exactly the 2 fresh fingerprints
    assert(fileSet(s"$base/state/v-0") == baseFiles,
      "micro-batch rewrote the base registry")
    assert(spark.read.parquet(s"$base/state/seg-1/fps").count() == 2,
      "delta segment is not batch-sized")
    assert(graft.sources.StormSinks
      .readVersionedGroupTable(spark, s"$base/state", "fps").count() == regSize + 2)
    // maintenance compaction: fold to a whole-table version, vacuum,
    // content identical
    CorpusStream.compactLineIndex(spark, s"$base/state", keepVersions = 0)
    assert(new java.io.File(
      s"${graft.sources.StormSinks.currentVersionDir(spark, s"$base/state")}/fps").exists,
      "compaction must restore the whole-table layout")
    assert(!new java.io.File(s"$base/state/seg-1").exists,
      "compaction + vacuum must reclaim the delta segment")
    assert(graft.sources.StormSinks
      .readVersionedGroupTable(spark, s"$base/state", "fps").count() == regSize + 2)
    // the stream continues across the compaction boundary: wave 2
    // repeats a wave-1 line (registry-owned now -> drop) + a fresh one
    Seq((900002L, "another fresh streamed line beta\npost compaction novel line here",
      "en", "s", 60)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    val w2 = spark.read.parquet(s"$base/out").where(col("doc_id") === 900002L)
      .collect()
    assert(w2.length == 1 &&
      w2(0).getAs[String]("clean_text") == "post compaction novel line here",
      s"post-compaction batch wrong: ${w2.toSeq}")
  }

  test("auto-cadence bounds segment growth across many commits; dedup and labels stay correct") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-autocadence").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // --- registry face (startLineClean), threshold 2, six micro-batches
    val empty = Seq.empty[(Long, String, String, String, Int)].toDF(cols: _*)
    CorpusStream.publishLineIndex(empty, s"$base/state")
    (1 to 6).foreach { i =>
      Seq((i.toLong, "shared across every wave line\n" +
        s"unique wave line number $i here", "en", "s", 60)).toDF(cols: _*)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    CorpusStream.startLineClean(spark, s"$base/in", s"$base/state",
      s"$base/out", s"$base/cp", maxFilesPerTrigger = 1,
      autoCompactSegments = 2).awaitTermination()
    val stats = graft.sources.StormSinks.groupStats(spark, s"$base/state")
    // each commit adds one segment; the cadence folds whenever a table
    // exceeds 2 — the count can never exceed threshold + 1
    assert(stats("graft.lake.segments.fps") <= 3L, stats.toString)
    // vacuum ran: superseded versions are reclaimed, not accumulated
    assert(stats("graft.lake.versions.on_disk") <= 3L, stats.toString)
    // content survived every fold: the shared line was kept exactly
    // once (first wave), every unique line once
    val fps = graft.sources.StormSinks
      .readVersionedGroupTable(spark, s"$base/state", "fps")
    assert(fps.count() == 7, s"registry must hold 7 fps, got ${fps.count()}")
    assert(fps.count() == fps.distinct().count(), "compaction duplicated fps")
    val outs = CorpusStream.latestCleanLines(spark, s"$base/out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(outs(1L) == "shared across every wave line\nunique wave line number 1 here")
    (2 to 6).foreach { i =>
      assert(outs(i.toLong) == s"unique wave line number $i here",
        s"doc $i: ${outs(i.toLong)}")
    }
    // --- cluster face: compaction EVERY commit (threshold 1) must
    // collapse labels keyed — a plain-union fold would bake stale
    // label rows into the single segment, which the keyed reader's
    // fast path serves raw
    val docs = Tables.documents(spark, sfDir)
    CorpusStream.publishClusterLake(docs.where(col("doc_id") < 300), s"$base/lake")
    docs.where(col("doc_id") >= 300 && col("doc_id") < 400)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/cin")
    docs.where(col("doc_id") >= 400)
      .coalesce(1).write.mode("append").parquet(s"$base/cin")
    CorpusStream.startIncrementalClusters(spark, s"$base/cin", s"$base/lake",
      s"$base/ccp", maxFilesPerTrigger = 1,
      autoCompactSegments = 1).awaitTermination()
    val got = CorpusStream.readClusterLake(spark, s"$base/lake", "labels")
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(docs, k = 3, threshold = 0.5))
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(got.getOrElse(id, id) == full.getOrElse(id, id),
        s"doc $id: stream=${got.getOrElse(id, id)} full=${full.getOrElse(id, id)}")
    }
    val cstats = graft.sources.StormSinks.groupStats(spark, s"$base/lake")
    assert(cstats("graft.lake.segments.labels") <= 2L, cstats.toString)
  }

  test("batch-sized sinks scale output files with the trigger, small batches stay single-file") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sized-output").toString
    val docs = Tables.documents(spark, sfDir)
    CorpusStream.publishClassifier(docs, s"$base/model")
    docs.coalesce(1).write.parquet(s"$base/in")
    def partFiles(dir: String) = new java.io.File(dir).listFiles
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // small-file behavior at the default target: one file per batch
    CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
      s"$base/out1", s"$base/cp1", maxFilesPerTrigger = 1).awaitTermination()
    assert(partFiles(s"$base/out1") == 1,
      "a small batch must still write one file")
    // a large trigger (here: a tiny rows-per-file target standing in
    // for one) fans the write out — the old coalesce(1) pinned it to
    // ONE task no matter the batch size
    spark.conf.set("spark.graft.stream.rowsPerFile", "100")
    try {
      CorpusStream.startClassifyGate(spark, s"$base/in", s"$base/model",
        s"$base/out2", s"$base/cp2", maxFilesPerTrigger = 1).awaitTermination()
      assert(partFiles(s"$base/out2") >= 4,
        s"output parallelism must scale with batch size, got ${partFiles(s"$base/out2")} files")
    } finally spark.conf.unset("spark.graft.stream.rowsPerFile")
  }

  test("composed ingest: face-by-face parity, ONE input scan per batch, funnel, replay no-op, guard") {
    val base = Files.createTempDirectory("graft-composed-ingest").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") <= 60)
    val benchmark = docs.where(col("doc_id") % 20 === 7)
    val reingest = corpus.orderBy(col("doc_id")).limit(10)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    docs.where(col("doc_id") > 60).unionByName(reingest).repartition(3)
      .write.mode("overwrite").parquet(s"$base/in")
    CorpusStream.publishDedupLake(corpus, s"$base/lake")
    CorpusStream.publishDriftRef(corpus, s"$base/ref")

    // standalone faces — the parity references, each with its own
    // checkpoint, same input order (same dir, same trigger sizing)
    CorpusStream.start(spark, s"$base/in", s"$base/sChunks", s"$base/cpA")
      .awaitTermination()
    CorpusStream.startClean(spark, s"$base/in", benchmark, s"$base/sClean",
      s"$base/cpB").awaitTermination()
    CorpusStream.startIncrementalDedupFromLake(spark, s"$base/in",
        s"$base/lake", s"$base/sDedup", s"$base/cpC", maxFilesPerTrigger = 1)
      .awaitTermination()
    CorpusStream.startDriftGate(spark, s"$base/in", s"$base/ref",
        s"$base/sDriftState", s"$base/sDrift", s"$base/cpD",
        maxFilesPerTrigger = 1)
      .awaitTermination()
    CorpusStream.startCorpusCard(spark, s"$base/in", s"$base/sCardState",
      s"$base/cpE", maxFilesPerTrigger = 1).awaitTermination()
    CorpusStream.startWatermarkGate(spark, s"$base/in", s"$base/sWm",
      s"$base/cpF", maxFilesPerTrigger = 1).awaitTermination()

    // composed run under a plan listener: the one-scan pin counts
    // EXECUTED plans that scan the input dir — exactly one per
    // micro-batch (the materialize action); every face plan reads the
    // materialized blocks instead. The listener must be CONTEXT-level
    // (SparkListenerSQLExecutionStart): foreachBatch bodies run on a
    // cloned SparkSession, so a session-level QueryExecutionListener
    // never sees their executions.
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val qel = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(e.physicalPlanDescription)
          case _ => ()
        }
    }
    val faces = CorpusStream.IngestFaces(
      chunksDir = Some(s"$base/cChunks"),
      cleanOutDir = Some(s"$base/cClean"),
      dedupLakeDir = Some(s"$base/lake"), dedupOutDir = Some(s"$base/cDedup"),
      driftRefDir = Some(s"$base/ref"),
      driftStateDir = Some(s"$base/cDriftState"),
      driftOutDir = Some(s"$base/cDrift"),
      cardStateDir = Some(s"$base/cCardState"),
      wmOutDir = Some(s"$base/cWm"),
      funnelDir = Some(s"$base/cFunnel"))
    val b0 = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(qel)
    val inScans = try {
      CorpusStream.startCorpusIngest(spark, s"$base/in", faces, s"$base/cpZ",
        benchmark = benchmark, maxFilesPerTrigger = 1).awaitTermination()
      // the listener bus is async: wait until the plan count is stable
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val n = plans.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      import scala.jdk.CollectionConverters._
      plans.asScala.count(_.contains(s"$base/in"))
    } finally spark.sparkContext.removeSparkListener(qel)
    assert(inScans == 3,
      s"composed ingest must scan the input ONCE per batch (3 batches), got $inScans plans scanning the input")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- b0).isEmpty,
      "composed ingest leaked materialized frames")

    // face-by-face parity against the standalone streams
    def sameRows(a: String, b: String): Unit = {
      val l = spark.read.parquet(a)
      val r0 = spark.read.parquet(b)
      val r = r0.select(l.columns.map(col).toSeq: _*)
      assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty,
        s"face output mismatch: $a vs $b")
    }
    sameRows(s"$base/sChunks", s"$base/cChunks")
    sameRows(s"$base/sClean", s"$base/cClean")
    sameRows(s"$base/sDedup", s"$base/cDedup")
    sameRows(s"$base/sDrift", s"$base/cDrift")
    sameRows(s"$base/sWm", s"$base/cWm")
    // the collapsed reader resolves to one row per doc and matches
    // the batch operator over the whole input (stateless face)
    val wmRead = CorpusStream.latestWatermark(spark, s"$base/cWm")
    assert(wmRead.count() == spark.read.parquet(s"$base/in").count())
    val wmBatch = graft.operators.Watermark.report(
      spark.read.parquet(s"$base/in").select(col("doc_id"), col("text")))
    assert(wmRead.exceptAll(wmBatch).isEmpty &&
      wmBatch.exceptAll(wmRead).isEmpty,
      "watermark face diverged from the batch operator")
    val wmCold = CorpusStream.latestWatermark(spark, s"$base/never")
    assert(wmCold.count() == 0)
    assertColdSchema(wmCold, wmRead)
    def cardMap(stateDir: String) = CorpusStream.readCorpusCard(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(cardMap(s"$base/sCardState") == cardMap(s"$base/cCardState"),
      "card face diverged from the standalone card stream")

    // the funnel audits every output face: per-face sums == the rows
    // the faces actually appended; raw == the whole input, per batch
    val funnel = spark.read.parquet(s"$base/cFunnel")
    assert(funnel.select(col("batch_seq")).distinct().count() == 3)
    def fsum(face: String): Long = funnel.where(col("face") === face)
      .agg(sum(col("n_rows"))).head().getLong(0)
    assert(fsum("raw") == spark.read.parquet(s"$base/in").count())
    assert(fsum("chunks") == spark.read.parquet(s"$base/cChunks").count())
    assert(fsum("clean") == spark.read.parquet(s"$base/cClean").count())
    assert(fsum("dedup") == spark.read.parquet(s"$base/cDedup").count())
    assert(fsum("watermark") == spark.read.parquet(s"$base/cWm").count())

    // replay: same checkpoint, no new input -> every face is a no-op
    val before = Seq(s"$base/cChunks", s"$base/cClean", s"$base/cDedup",
      s"$base/cDrift", s"$base/cWm", s"$base/cFunnel")
      .map(d => spark.read.parquet(d).count())
    val cardBefore = cardMap(s"$base/cCardState")
    CorpusStream.startCorpusIngest(spark, s"$base/in", faces, s"$base/cpZ",
      benchmark = benchmark, maxFilesPerTrigger = 1).awaitTermination()
    val after = Seq(s"$base/cChunks", s"$base/cClean", s"$base/cDedup",
      s"$base/cDrift", s"$base/cWm", s"$base/cFunnel")
      .map(d => spark.read.parquet(d).count())
    assert(before == after, s"replay re-emitted rows: $before -> $after")
    assert(cardMap(s"$base/cCardState") == cardBefore, "replay changed the card")

    // used state + lineage-less checkpoint rejected (either state face)
    val e = intercept[IllegalStateException] {
      CorpusStream.startCorpusIngest(spark, s"$base/in", faces,
        s"$base/cpZ-lost", benchmark = benchmark, maxFilesPerTrigger = 1)
    }
    assert(e.getMessage.contains("no committed offsets"), e.getMessage)

    // misconfigured faces fail fast
    intercept[IllegalArgumentException] {
      CorpusStream.startCorpusIngest(spark, s"$base/in",
        CorpusStream.IngestFaces(), s"$base/cpQ")
    }
    intercept[IllegalArgumentException] {
      CorpusStream.startCorpusIngest(spark, s"$base/in",
        CorpusStream.IngestFaces(cleanOutDir = Some(s"$base/q1")), s"$base/cpQ")
    }
    intercept[IllegalArgumentException] {
      CorpusStream.startCorpusIngest(spark, s"$base/in",
        CorpusStream.IngestFaces(dedupOutDir = Some(s"$base/q2")), s"$base/cpQ")
    }
    intercept[IllegalArgumentException] {
      CorpusStream.startCorpusIngest(spark, s"$base/in",
        CorpusStream.IngestFaces(chunksDir = Some(s"$base/q3"),
          driftOutDir = Some(s"$base/q4")), s"$base/cpQ")
    }
  }
}
