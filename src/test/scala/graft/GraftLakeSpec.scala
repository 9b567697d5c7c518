package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.StormSinks
import graft.storm.{StormFeed, StormPipeline}

/** The `graftlake` DataSourceV2 format: named-source reads over the
  * versioned-pointer lake, resolving `_current` once per read and
  * delegating to the parquet DSv2 table (vectorized scans, pushdown,
  * partition pruning for free). */
class GraftLakeSpec extends SparkSpec {

  private def freshLake(): (String, Long, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("graft-lake-fmt").toString + "/lake"
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir)).limit(200)
      .localCheckpoint()
    assert(StormSinks.writeVersioned(enriched, dir) == 0)
    (dir, enriched.count(), enriched)
  }

  test("format(graftlake) reads the current version, content == readVersioned") {
    val (dir, n, enriched) = freshLake()
    val viaFormat = spark.read.format("graftlake").load(dir)
    assert(viaFormat.count() == n)
    assert(viaFormat.agg(sum(crc32(col("id")))).head.getLong(0) ==
      enriched.agg(sum(crc32(col("id")))).head.getLong(0))
    // the partition layout surfaces as columns, like any parquet dir read
    assert(viaFormat.columns.contains("event_type") &&
      viaFormat.columns.contains("event_date"))
    // delegation is real: the plan is a parquet BatchScan of the v-dir
    val plan = viaFormat.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && plan.contains("v-0"), plan.take(400))
  }

  test("a filter on the partition column prunes partitions through the format") {
    val (dir, _, _) = freshLake()
    val one = spark.read.format("graftlake").load(dir)
      .where(col("event_type") === "hail")
    val scan = one.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not run as a post-filter
    assert(scan.contains("event_type"), scan.take(600))
    assert(one.count() > 0)
    assert(one.select("event_type").distinct().collect().map(_.getString(0)).toSeq == Seq("hail"))
  }

  test("reads race a concurrent publish gap-free (resolve once, immutable dir)") {
    val (dir, n, enriched) = freshLake()
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try {
        for (_ <- 1 to 4) StormSinks.compactVersioned(spark, dir, targetFiles = 2)
        StormSinks.writeVersioned(enriched, dir)
      } catch { case t: Throwable => writerErr = Some(t) }
    })
    writer.start()
    try {
      // every read while versions churn must see a complete lake —
      // never a missing pointer, never a half-written version dir
      var reads = 0
      while (writer.isAlive || reads == 0) {
        assert(spark.read.format("graftlake").load(dir).count() == n,
          s"read $reads saw a partial lake")
        reads += 1
      }
      assert(reads > 0)
    } finally writer.join()
    assert(writerErr.isEmpty, s"writer failed: $writerErr")
    // afterwards the format resolves the latest published version
    val plan = spark.read.format("graftlake").load(dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("v-5"), plan.take(400))
  }

  test("persisted dedup index: publish -> fresh read -> probe == in-session probe") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") <= 60)
    val batch = docs.where(col("doc_id") > 60)
    val lake = Files.createTempDirectory("graft-idx-lake").toString + "/minhash"
    // publish the corpus signature index (generic versioned table)
    assert(StormSinks.writeVersionedTable(Dedup.minhashIndex(corpus), lake) == 0)
    // probe from a FRESH read of the published version — the daily
    // ingest never recomputes the corpus side
    val idx = spark.read.format("graftlake").load(lake)
    val viaLake = Dedup.minhashPairsBetweenIndexes(idx,
        Dedup.minhashIndex(batch), threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inSession = Dedup.minhashPairsAgainst(corpus, batch, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaLake == inSession, s"lake=$viaLake inSession=$inSession")
    assert(viaLake.nonEmpty, "fixture must produce at least one near-dup pair")
    // republish (v-1) and re-probe: readers follow the pointer
    assert(StormSinks.writeVersionedTable(Dedup.minhashIndex(corpus), lake) == 1)
    val again = Dedup.minhashPairsBetweenIndexes(
        spark.read.format("graftlake").load(lake),
        Dedup.minhashIndex(batch), threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == inSession)
  }

  test("split lake index: compact band table probes, verify sets fetched per candidate") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") <= 60)
    val batch = docs.where(col("doc_id") > 60)
    val lake = Files.createTempDirectory("graft-split-lake").toString + "/dedup"
    Dedup.publishMinhashLake(corpus, lake)
    // probe-side table is COMPACT: band/bucket/doc_id only — no
    // O(document) shingle column (the storage claim the split layout
    // exists to make true), and it is partitioned by band on disk
    val bandsTbl = StormSinks.readVersionedGroupTable(spark, lake, "bands")
    assert(bandsTbl.columns.sorted.toSeq == Seq("band", "bucket", "doc_id"))
    assert(new java.io.File(s"$lake/v-0/bands").listFiles()
      .exists(_.getName.startsWith("band=")), "band table should be partitioned by band")
    val viaLake = Dedup.minhashPairsAgainstLake(batch, lake, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inSession = Dedup.minhashPairsAgainst(corpus, batch, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaLake == inSession, s"lake=$viaLake inSession=$inSession")
    assert(viaLake.nonEmpty)
  }

  test("persisted BM25 index: publish -> fresh read -> sparse top-k == in-session") {
    import graft.operators.Retrieval
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val lake = Files.createTempDirectory("graft-idx-lake").toString + "/bm25"
    assert(StormSinks.writeVersionedTable(
      Retrieval.bm25WeightsOf(docs), lake) == 0)
    val viaLake = Retrieval
      .sparseTopK(spark.read.format("graftlake").load(lake))
      .collect().map(_.toSeq).toSeq
    val inSession = Retrieval
      .sparseTopK(graft.Materialize.once(Retrieval.bm25WeightsOf(docs)))
      .collect().map(_.toSeq).toSeq
    assert(viaLake == inSession)
    assert(viaLake.nonEmpty)
  }

  test("option(table) reads a group table through its manifest segments") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft-seg-lake").toString + "/state"
    StormSinks.writeVersionedGroup(spark, lake, Seq(
      "fps" -> Seq("a", "b").toDF("fp"), "meta" -> Seq(-1L).toDF("last_batch")))
    StormSinks.appendDeltaGroup(spark, lake,
      appends = Seq("fps" -> Seq("c", "d").toDF("fp")),
      replaces = Seq("meta" -> Seq(0L).toDF("last_batch")))
    // the named source resolves the manifest: base ∪ delta segments
    val got = spark.read.format("graftlake").option("table", "fps")
      .load(lake).as[String].collect().toSet
    assert(got == Set("a", "b", "c", "d"), got.toString)
    // replace-mode table: only the newest segment
    assert(spark.read.format("graftlake").option("table", "meta")
      .load(lake).head().getLong(0) == 0L)
    // time travel composes: the base version's fps has no delta
    assert(spark.read.format("graftlake").option("table", "fps")
      .option("version", "0").load(lake).count() == 2)
    // a legacy whole-table version resolves to its one subdir
    assert(spark.read.format("graftlake").option("table", "meta")
      .option("version", "v-0").load(lake).head().getLong(0) == -1L)
    // unknown table is a clear error
    val e = intercept[Exception] {
      spark.read.format("graftlake").option("table", "nope").load(lake).count()
    }
    assert(e.getMessage.contains("not present"), e.getMessage)
    // schema evolution across segments: the format defaults mergeSchema
    // on for group reads, so the evolved column survives whatever the
    // footer listing order (old rows read it as null)
    StormSinks.appendDeltaGroup(spark, lake,
      appends = Seq("fps" -> Seq(("e", "crawl-7"))
        .toDF("fp", "origin")))
    val evolved = spark.read.format("graftlake").option("table", "fps")
      .load(lake)
    assert(evolved.columns.contains("origin"),
      s"evolved column lost: ${evolved.columns.toSeq}")
    assert(evolved.where(col("origin").isNotNull).count() == 1)
    assert(evolved.count() == 5)
    // a bare-path read of a segmented version must diagnose itself
    // (the version dir holds only a _segments manifest — without the
    // guard this dies in opaque parquet schema inference) and name the
    // available tables
    val e2 = intercept[Exception] {
      spark.read.format("graftlake").load(lake).count()
    }
    assert(e2.getMessage.contains("segmented GROUP version") &&
      e2.getMessage.contains("fps"), e2.getMessage)
  }

  test("time travel: option(version) reads a retained older version") {
    val (dir, n, enriched) = freshLake()
    // v1 drops half the rows; v0 stays readable via time travel
    StormSinks.writeVersioned(enriched.limit(100), dir)
    assert(spark.read.format("graftlake").load(dir).count() == 100)
    assert(spark.read.format("graftlake").option("version", "0").load(dir).count() == n)
    assert(spark.read.format("graftlake").option("version", "v-0").load(dir).count() == n)
    intercept[IllegalArgumentException](
      spark.read.format("graftlake").option("version", "latest").load(dir))
  }

  test("missing pointer is a clear error, and path is required") {
    val empty = Files.createTempDirectory("graft-lake-empty").toString
    intercept[java.io.FileNotFoundException](
      spark.read.format("graftlake").load(empty).count())
    intercept[IllegalArgumentException](
      spark.read.format("graftlake").load().count())
  }

  test("lake catalog: register/upsert/deregister round-trip, live status, fleet vacuum") {
    import graft.sources.LakeCatalog
    val base = Files.createTempDirectory("graft-catalog").toString
    val cat = s"$base/catalog"
    // two real groups + one not-yet-published path
    StormSinks.writeVersionedGroup(spark, s"$base/g1", Seq(
      "t" -> spark.range(5).toDF("doc_id")))
    StormSinks.writeVersionedGroup(spark, s"$base/g2", Seq(
      "fp" -> spark.range(3).toDF("fp")))
    LakeCatalog.register(spark, cat, "idx1", s"$base/g1", "minhash")
    LakeCatalog.register(spark, cat, "reg1", s"$base/g2", "registry")
    LakeCatalog.register(spark, cat, "pending", s"$base/g3", "model")
    assert(LakeCatalog.entries(spark, cat).count() == 3)
    // upsert: latest wins by name, no duplicate rows
    LakeCatalog.register(spark, cat, "idx1", s"$base/g1", "minhash",
      params = Map("bands" -> "8"))
    val e = LakeCatalog.entries(spark, cat)
    assert(e.count() == 3)
    assert(e.where(col("name") === "idx1").head().getAs[String]("params")
      == "bands=8")
    // live status: published groups resolve a version + table count;
    // the unpublished path reads as such instead of raising
    val st = LakeCatalog.status(spark, cat).collect()
      .map(r => r.getString(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(st("idx1")._1.startsWith("v-") && st("idx1")._2 == 1)
    assert(st("pending")._1 == "<unpublished>")
    // fleet vacuum covers every entry AND the catalog itself; the
    // repeated registrations above left catalog versions to reclaim
    val vac = LakeCatalog.vacuumAll(spark, cat, keep = 1).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(vac.keySet == Set("idx1", "reg1", "pending", "catalog"))
    assert(vac("catalog") >= 1, "catalog version history not vacuumed")
    // deregister drops the row
    LakeCatalog.deregister(spark, cat, "pending")
    assert(LakeCatalog.entries(spark, cat).count() == 2)
    // guards: unknown kind; clusters_indexed without its index dir
    intercept[IllegalArgumentException](
      LakeCatalog.register(spark, cat, "x", s"$base/g1", "nope"))
    intercept[IllegalArgumentException](
      LakeCatalog.register(spark, cat, "x", s"$base/g1", "clusters_indexed"))
  }
}
