package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{LakeDeletion, StormSinks, Tables}
import graft.streaming.CorpusStream

/** Targeted deletion with index republish: post-delete probes must
  * equal a rebuild-from-scratch for every index class (per-doc
  * filter, global-stat recompute, structural CC repair), and the
  * pointer protocol must keep old versions for in-flight readers. */
class DeletionSpec extends SparkSpec {
  import spark.implicits._

  test("minhash lake delete: probe identical to a rebuilt index, deleted ids gone") {
    val doc = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val corpus = doc.where($"doc_id" <= 450)
    val batch = doc.where($"doc_id" > 450)
    val del = doc.where($"doc_id" <= 450 && $"doc_id" % 7 === 0).select($"doc_id")
    val base = java.nio.file.Files.createTempDirectory("graft-del-mh").toString
    Dedup.publishMinhashLake(corpus, s"$base/lake")
    LakeDeletion.deleteFromMinhashLake(spark, s"$base/lake", del)
    Dedup.publishMinhashLake(
      corpus.join(del, Seq("doc_id"), "left_anti"), s"$base/rebuilt")
    def probe(dir: String) = Dedup
      .minhashPairsAgainstLake(batch, dir, threshold = 0.2)
      .select($"doc_new", $"doc_old", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val afterDelete = probe(s"$base/lake")
    assert(afterDelete == probe(s"$base/rebuilt"),
      "deleted-lake probe differs from rebuild-from-scratch")
    val delSet = del.as[Long].collect().toSet
    assert(!afterDelete.exists(p => delSet(p._2)), "a deleted doc still matches")
    // the pre-delete version survives for in-flight readers (vacuum
    // is a separate, explicit step)
    assert(new java.io.File(s"$base/lake/v-0/bands").exists,
      "old version must survive the delete publish")
  }

  test("default-args delete from a publishDedupLake lake keeps the fps table; probe micro-batch still runs") {
    // the r11 ADVICE finding: deleteFromMinhashLake with default args
    // silently DROPPED any extra group table (publishDedupLake's
    // content-keyed fps), and the next startIncrementalDedupFromLake
    // micro-batch crashed on the missing path. Unnamed tables now
    // classify by schema: fps (no doc_id) passes through.
    val doc = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val corpus = doc.where($"doc_id" <= 200)
    val del = corpus.where($"doc_id" % 11 === 0).select($"doc_id")
    val base = java.nio.file.Files.createTempDirectory("graft-del-fps").toString
    CorpusStream.publishDedupLake(corpus, s"$base/lake")
    LakeDeletion.deleteFromMinhashLake(spark, s"$base/lake", del)
    val ver = StormSinks.currentVersionDir(spark, s"$base/lake")
    assert(new java.io.File(s"$ver/fps").exists,
      "content-keyed fps table must survive a default-args delete")
    // bands/sets (doc-keyed) really were filtered
    assert(spark.read.parquet(s"$ver/bands")
      .join(del, Seq("doc_id"), "left_semi").count() == 0,
      "bands rows of deleted docs survived")
    // the stream's next micro-batch probes the post-delete snapshot
    // end-to-end (fingerprint anti-join + band join both read it)
    doc.where($"doc_id" > 200 && $"doc_id" <= 260).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/in")
    CorpusStream.startIncrementalDedupFromLake(spark, s"$base/in",
        s"$base/lake", s"$base/out", s"$base/cp", maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() > 0,
      "post-delete probe micro-batch produced nothing")
  }

  test("cluster lake carries (k, threshold) metadata; a mismatched repair or merge RAISES") {
    val corpus = Seq(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma epsilon",
      10L -> "one two three four", 11L -> "one two three five"
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-del-meta").toString
    CorpusStream.publishClusterLake(corpus, s"$base/lake", k = 2, threshold = 0.4)
    // repairing under a DIFFERENT similarity must refuse, not silently
    // rewrite affected clusters under the wrong parameters
    val e = intercept[IllegalArgumentException](
      LakeDeletion.deleteFromClusterLake(spark, s"$base/lake",
        Seq(1L).toDF("doc_id"), k = 3, threshold = 0.5))
    assert(e.getMessage.contains("k=2") && e.getMessage.contains("threshold=0.4"),
      s"error must cite the published parameters: ${e.getMessage}")
    // the streaming maintainer validates the same contract
    Seq(20L -> "alpha beta gamma zeta").toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    val q = CorpusStream.startIncrementalClusters(spark, s"$base/in",
      s"$base/lake", s"$base/cp", k = 3, threshold = 0.5, maxFilesPerTrigger = 1)
    val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    assert(se.getMessage.contains("k=2") || se.toString.contains("k=2"),
      s"stream must refuse a mismatched merge: ${se.getMessage}")
    // matching parameters proceed, and the meta table survives the
    // delete (carried through with every other snapshot table)
    LakeDeletion.deleteFromClusterLake(spark, s"$base/lake",
      Seq(1L).toDF("doc_id"), k = 2, threshold = 0.4)
    val ver = StormSinks.currentVersionDir(spark, s"$base/lake")
    assert(new java.io.File(s"$ver/meta").exists, "meta dropped by the delete")
    val m = spark.read.parquet(s"$ver/meta").head()
    assert(m.getAs[Int]("k") == 2 && m.getAs[Double]("threshold") == 0.4)
  }

  test("retrieval lake delete: BM25 recomputes global stats, dense filters") {
    val doc = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val embs = Tables.embeddings(spark, sfDir)
    val del = doc.where($"doc_id" % 9 === 1).select($"doc_id")
    val remaining = doc.join(del, Seq("doc_id"), "left_anti")
    val base = java.nio.file.Files.createTempDirectory("graft-del-rt").toString
    CorpusStream.publishRetrievalLake(doc, embs, s"$base/lake")
    LakeDeletion.deleteFromRetrievalLake(spark, s"$base/lake", remaining, del)
    CorpusStream.publishRetrievalLake(remaining,
      embs.join(del.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_anti"),
      s"$base/rebuilt")
    def table(dir: String, name: String) = StormSinks.readVersionedGroupTable(spark, dir, name)
    // BM25: bit-identical to the rebuild — a filtered table would keep
    // remaining docs' STALE idf/avgdl weights and fail this
    val a = table(s"$base/lake", "bm25"); val b = table(s"$base/rebuilt", "bm25")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "deleted BM25 index differs from recompute over remaining corpus")
    // serving probe over the post-delete lake == over the rebuild
    val queries = doc.where($"doc_id" <= 10)
    def hits(dir: String) = CorpusStream
      .hybridProbe(table(dir, "bm25"), table(dir, "dense"), queries)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(hits(s"$base/lake") == hits(s"$base/rebuilt"))
    val delSet = del.as[Long].collect().toSet
    assert(table(s"$base/lake", "dense").select($"vec_id").as[Long]
      .collect().forall(!delSet(_)), "deleted vec_ids survive in dense index")
  }

  test("ivfpq lake delete: codes purged, deleted ids unretrievable, rankings match filtered index") {
    val embs = Tables.embeddings(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft-del-pq").toString
    graft.operators.Pq.publishIvfPqLake(embs, s"$base/lake")
    val del = embs.where($"vec_id" % 7 === 3).select($"vec_id")
    val delSet = del.as[Long].collect().toSet
    assert(delSet.nonEmpty)
    LakeDeletion.deleteFromIvfPqLake(spark, s"$base/lake",
      del.select($"vec_id".as("doc_id")))
    def table(name: String) =
      StormSinks.readVersionedGroupTable(spark, s"$base/lake", name)
    // the PQ codes and vector rows are GONE, not merely out-ranked
    assert(table("codes").select($"vec_id").distinct().as[Long]
      .collect().forall(!delSet(_)), "deleted ids keep PQ codes")
    assert(table("vectors").select($"vec_id").as[Long]
      .collect().forall(!delSet(_)), "deleted ids keep vector rows")
    // trained artifacts survive (deletion removes data, not the model)
    assert(table("coarse").count() > 0 && table("books").count() > 0)
    // no deleted id is retrievable, and the surviving ranking equals a
    // probe over an index whose tables were filtered the same way —
    // queries avoid deleted ids (a deleted query has no embedding to
    // look up by construction)
    val queries = embs.where($"vec_id" < 10)
      .join(del, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"embedding")
    val got = graft.operators.Pq
      .ivfPqTopKIndexed(spark, s"$base/lake", queries, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
    assert(got.nonEmpty)
    assert(got.forall { case (_, v) => !delSet(v) },
      "a deleted id was retrieved")
  }

  test("ivfpq lake delete after an append: delta vectors survive, deleted ids purged, ranking matches filtered tables") {
    val embs = Tables.embeddings(spark, sfDir)
    val lake = java.nio.file.Files.createTempDirectory("graft-del-pq-append").toString
    graft.operators.Pq.publishIvfPqLake(embs.where($"vec_id" % 5 =!= 4), lake)
    // below its compaction threshold, v-1 holds only a segment manifest
    val appended = embs.where($"vec_id" % 5 === 4)
    graft.operators.Pq.appendToIvfPqLake(spark, lake, appended, maxSegments = 0)
    val del = embs.where($"vec_id" % 7 === 3).select($"vec_id")
    val delSet = del.as[Long].collect().toSet
    val appendedIds = appended.select($"vec_id").as[Long].collect().toSet
    assert((appendedIds & delSet).nonEmpty && (appendedIds -- delSet).nonEmpty)
    // the pre-delete snapshot, filtered the way the delete must filter it
    val before = StormSinks.currentVersionName(spark, lake)
    def snap(name: String) = StormSinks.readGroupTableAt(spark, lake, before, name)
    def filtered(name: String) = snap(name).join(del, Seq("vec_id"), "left_anti")
    LakeDeletion.deleteFromIvfPqLake(spark, lake, del.select($"vec_id".as("doc_id")))
    def ids(name: String) = StormSinks.readVersionedGroupTable(spark, lake, name)
      .select($"vec_id").distinct().as[Long].collect().toSet
    for (name <- Seq("codes", "vectors")) {
      val got = ids(name)
      assert((got & delSet).isEmpty, s"deleted ids keep $name rows")
      assert((appendedIds -- delSet).subsetOf(got), s"appended $name rows dropped")
      assert(got == filtered(name).select($"vec_id").distinct().as[Long].collect().toSet)
    }
    val queries = embs.where($"vec_id" < 10)
      .join(del, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val got = rows(graft.operators.Pq.ivfPqTopKIndexed(spark, lake, queries, k = 5))
    val m = snap("meta").head().getAs[Int]("m")
    val want = rows(graft.operators.Pq.probe(snap("coarse"),
      filtered("vectors").withColumn("cell_id", $"cell_id".cast("long")),
      snap("books"), filtered("codes"), queries, k = 5, m = m, nProbe = 4, rerank = 4))
    assert(got.nonEmpty)
    assert(got == want, "post-delete ranking differs from a probe over the filtered tables")
  }

  test("cluster lake delete: bridge removal SPLITS the merged cluster (targeted CC repair)") {
    val ta = "alpha beta gamma delta epsilon zeta"
    val tb = "omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, ta), (2L, ta + " eta"),
      (10L, tb), (11L, tb + " phi"),
      (20L, "completely unrelated content nothing shared here at all"),
      (30L, ta + " " + tb) // the bridge: near-dup of BOTH anchors
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-del-cl").toString
    CorpusStream.publishClusterLake(corpus, s"$base/lake", k = 2, threshold = 0.4)
    // published state: one merged component labeled 1
    def labels() = CorpusStream.readClusterLake(spark, s"$base/lake", "labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = labels()
    assert(before(30) == 1 && before(11) == 1, s"fixture not merged: $before")
    LakeDeletion.deleteFromClusterLake(spark, s"$base/lake",
      Seq(30L).toDF("doc_id"), k = 2, threshold = 0.4)
    val after = labels()
    // the split no label FILTER can produce: {1,2} and {10,11} again —
    // and the full-coverage invariant keeps the unpaired doc 20's
    // explicit self-label row (the delta-segment commits depend on
    // every surviving doc having a label row)
    assert(after == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L),
      s"bridge delete did not split: $after")
    val docsAfter = CorpusStream.readClusterLake(spark, s"$base/lake", "docs")
      .select($"doc_id").as[Long].collect().toSet
    assert(docsAfter == Set(1L, 2L, 10L, 11L, 20L), "docs table not edited")
  }

  test("indexed cluster lake delete: fresh backlog filtered, index republished, deleted text unreachable") {
    // the r12 ADVICE deletion-completeness hole: on a
    // publishClusterLakeIndexed state, deleteFromClusterLake used to
    // copy the doc-keyed `fresh` backlog (doc_id + full text) through
    // unfiltered, so deleted documents' text persisted in the new
    // version and re-entered the next probe.
    val corpus = Seq(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma epsilon",
      10L -> "one two three four"
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-del-idx").toString
    CorpusStream.publishClusterLakeIndexed(corpus, s"$base/state",
      s"$base/index", k = 2, threshold = 0.4)
    // one micro-batch so fresh is non-empty: 20 near-dups the alpha
    // cluster, 21 is unrelated and must SURVIVE the delete
    Seq(20L -> "alpha beta gamma zeta", 21L -> "unrelated words entirely here")
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$base/in")
    CorpusStream.startIncrementalClustersIndexed(spark, s"$base/in",
        s"$base/state", s"$base/index", s"$base/cp",
        k = 2, threshold = 0.4, maxFilesPerTrigger = 1)
      .awaitTermination()
    val del = Seq(1L, 20L).toDF("doc_id")
    // state-only delete: the doc-keyed fresh backlog anti-joins like
    // docs/labels; content-keyed meta copies through
    LakeDeletion.deleteFromClusterLake(spark, s"$base/state", del,
      k = 2, threshold = 0.4)
    val sVer = StormSinks.currentVersionDir(spark, s"$base/state")
    val freshIds = spark.read.parquet(s"$sVer/fresh")
      .select($"doc_id").as[Long].collect().toSet
    assert(freshIds == Set(21L),
      s"fresh backlog must drop deleted docs and keep survivors: $freshIds")
    assert(spark.read.parquet(s"$sVer/docs")
      .where($"doc_id".isin(1L, 20L)).count() == 0, "docs not filtered")
    assert(new java.io.File(s"$sVer/meta").exists, "content-keyed meta dropped")
    // the prefix index still cites deleted docs until republished —
    // the complete path does both steps
    LakeDeletion.deleteFromClusterLakeIndexed(spark, s"$base/state",
      s"$base/index", del, k = 2, threshold = 0.4)
    // a new near-dup of the DELETED text now merges only with the
    // surviving member, never resurrects a deleted id
    Seq(30L -> "alpha beta gamma eta").toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/in2")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$base/in2").toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
      java.nio.file.Paths.get(s"$base/in/batch2.parquet"))
    CorpusStream.startIncrementalClustersIndexed(spark, s"$base/in",
        s"$base/state", s"$base/index", s"$base/cp",
        k = 2, threshold = 0.4, maxFilesPerTrigger = 1)
      .awaitTermination()
    val labels = CorpusStream.readClusterLake(spark, s"$base/state", "labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!labels.keySet.exists(Set(1L, 20L)) &&
      !labels.values.exists(Set(1L, 20L)),
      s"deleted ids resurface in labels: $labels")
    assert(labels.get(30L).contains(2L) && labels.get(2L).contains(2L),
      s"new near-dup must merge with the surviving member only: $labels")
  }

  test("cluster lake delete at sf scale: effective labels equal rebuild-from-scratch") {
    val doc = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val corpus = doc.where($"doc_id" < 300)
    val del = corpus.where($"doc_id" % 5 === 2).select($"doc_id")
    val remaining = corpus.join(del, Seq("doc_id"), "left_anti")
    val base = java.nio.file.Files.createTempDirectory("graft-del-cs").toString
    CorpusStream.publishClusterLake(corpus, s"$base/lake")
    LakeDeletion.deleteFromClusterLake(spark, s"$base/lake", del)
    def effective(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = effective(CorpusStream.readClusterLake(spark, s"$base/lake", "labels"))
    val truth = effective(
      Dedup.clusters(Dedup.jaccardPairs(remaining, k = 3, threshold = 0.5)))
    val ids = remaining.select($"doc_id").as[Long].collect()
    ids.foreach { id =>
      assert(got.getOrElse(id, id) == truth.getOrElse(id, id),
        s"doc $id: deleted-lake=${got.getOrElse(id, id)} rebuild=${truth.getOrElse(id, id)}")
    }
    val delSet = del.as[Long].collect().toSet
    assert(got.keys.forall(!delSet(_)), "deleted docs keep label rows")
    assert(delSet.nonEmpty && truth.nonEmpty, "fixture vacuous")
  }

  test("catalog sweep: ONE call deletes a doc from EVERY cataloged index; audit proves zero citations") {
    import graft.sources.LakeCatalog
    val base = java.nio.file.Files.createTempDirectory("graft-del-sweep").toString
    val cat = s"$base/catalog"
    val doc = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val corpus = doc.where($"doc_id" <= 200)
    val embs = Tables.embeddings(spark, sfDir).where($"vec_id" <= 200)
    // the full published fleet: per-doc, structural, global-stat,
    // registry and model classes all at once
    CorpusStream.publishDedupLake(corpus, s"$base/minhash")
    graft.operators.Dedup.publishJaccardLake(corpus, s"$base/jaccard",
      k = 2, threshold = 0.5)
    CorpusStream.publishClusterLake(corpus, s"$base/clusters")
    graft.operators.Retrieval.publishBm25Lake(corpus, s"$base/bm25")
    CorpusStream.publishRetrievalLake(corpus, embs, s"$base/retrieval")
    graft.operators.Pq.publishIvfPqLake(embs, s"$base/ivfpq")
    CorpusStream.publishLineIndex(corpus, s"$base/lines")
    CorpusStream.publishClassifier(corpus, s"$base/model")
    graft.operators.Dedup.publishBloomLake(corpus, s"$base/bloom")
    LakeCatalog.register(spark, cat, "minhash", s"$base/minhash", "minhash")
    LakeCatalog.register(spark, cat, "jaccard", s"$base/jaccard", "jaccard",
      params = Map("k" -> "2", "threshold" -> "0.5"))
    LakeCatalog.register(spark, cat, "clusters", s"$base/clusters", "clusters")
    LakeCatalog.register(spark, cat, "bm25", s"$base/bm25", "bm25")
    LakeCatalog.register(spark, cat, "retrieval", s"$base/retrieval", "retrieval")
    LakeCatalog.register(spark, cat, "ivfpq", s"$base/ivfpq", "ivfpq")
    LakeCatalog.register(spark, cat, "lines", s"$base/lines", "registry")
    LakeCatalog.register(spark, cat, "model", s"$base/model", "model")
    LakeCatalog.register(spark, cat, "bloom", s"$base/bloom", "bloom")

    val del = corpus.where($"doc_id" % 13 === 3).select($"doc_id")
    val delSet = del.as[Long].collect().toSet
    assert(delSet.nonEmpty, "fixture vacuous")
    // pre-sweep: the fleet cites the victims (the audit is not vacuous)
    val pre = LakeCatalog.auditCitations(spark, cat, del)
    assert(pre.agg(sum($"n_citing")).head().getLong(0) > 0,
      "audit found no citations BEFORE the sweep")

    // a sweep against republish-class groups without the remaining
    // corpus must fail fast BEFORE touching anything
    val e = intercept[IllegalArgumentException](
      LakeCatalog.sweepDelete(spark, cat, del))
    assert(e.getMessage.contains("remainingDocs"), e.getMessage)
    assert(LakeCatalog.auditCitations(spark, cat, del)
      .agg(sum($"n_citing")).head().getLong(0) ==
      pre.agg(sum($"n_citing")).head().getLong(0),
      "failed sweep mutated a group")

    // content-level proof material for the bloom rebuild: a deleted
    // doc whose normalized text is UNIQUE in the corpus — before the
    // sweep its content is a member; after, it must not be
    val uniqueDeleted = corpus
      .select($"doc_id", graft.functions.Text.fingerprint($"text").as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n"))
      .where($"n" === 1).join(del, "doc_id")
      .select($"doc_id").as[Long].head()
    val probeDoc = corpus.where($"doc_id" === uniqueDeleted)
      .select(($"doc_id" + 777000L).as("doc_id"), $"text")
    assert(graft.operators.Dedup.bloomProbeLake(spark, s"$base/bloom", probeDoc)
      .head().getBoolean(1), "pre-sweep: deleted content must be a member")

    val remaining = corpus.join(del, Seq("doc_id"), "left_anti")
    val report = LakeCatalog.sweepDelete(spark, cat, del, remaining)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(report.keySet == Set("minhash", "jaccard", "clusters", "bm25",
      "retrieval", "ivfpq", "lines", "model", "bloom"))
    assert(report("bloom").startsWith("republished"),
      "bloom takedown must be a rebuild, not a silent retain")
    // the rebuilt bitmap no longer contains the deleted content (a
    // false positive here has probability ~1e-12 by sizing)
    assert(!graft.operators.Dedup.bloomProbeLake(spark, s"$base/bloom", probeDoc)
      .head().getBoolean(1), "post-sweep: deleted content still a member")
    assert(report("lines").startsWith("retained"),
      "registry stance must be reported, not silently skipped")
    assert(report("model").startsWith("retained"))

    // THE proof: zero rows citing any deleted id in any cataloged
    // group — every doc-citing table of every index, segment-aware
    val audit = LakeCatalog.auditCitations(spark, cat, del)
    val leftovers = audit.where($"n_citing" > 0).collect()
      .map(r => s"${r.getString(0)}/${r.getString(1)}=${r.getLong(2)}")
    assert(leftovers.isEmpty,
      s"deleted ids survive the sweep in: ${leftovers.mkString(", ")}")
    // and the swept indexes still serve: a minhash probe runs clean
    // against the post-sweep lake and never returns a deleted id
    val batch = corpus.limit(30)
    val near = graft.operators.Dedup.minhashPairsLakeVsIndexAt(s"$base/minhash",
      StormSinks.currentVersionName(spark, s"$base/minhash"),
      graft.operators.Dedup.minhashIndex(batch), threshold = 0.2)
    assert(near.where($"doc_old".isin(delSet.toSeq: _*)).count() == 0,
      "post-sweep minhash probe cites a deleted doc")
  }
}
