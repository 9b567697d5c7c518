package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.StormSinks
import graft.storm.{StormFeed, StormPipeline}

class StormSinksSpec extends SparkSpec {

  test("partitioned lake write: pruning layout + replay-idempotent merge") {
    val out = Files.createTempDirectory("graft-sink").toString + "/lake"
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir))
    val n = enriched.count()

    val written = StormSinks.mergeById(enriched, out)
    assert(written == n)
    // physical layout: event_type=<v>/event_date=<d> directories
    val typeDirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(typeDirs.nonEmpty && typeDirs.forall(_.startsWith("event_type=")))

    // partition pruning: a type+date filter must prune the scan
    val lake = spark.read.parquet(out)
    assert(lake.count() == n)
    val pruned = lake.where(col("event_type") === "hail")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))

    // replaying the same batch (at-least-once redelivery) adds nothing
    assert(StormSinks.mergeById(enriched, out) == 0)
    assert(spark.read.parquet(out).count() == n)

    // a genuinely new record still lands
    val extra = StormPipeline.enrich(
      StormFeed.feed(spark, sfDir).limit(1)
        .withColumn("state", lit("ZZ")))
    assert(StormSinks.mergeById(extra, out) == 1)
    assert(spark.read.parquet(out).count() == n + 1)
  }

  test("merge collapses redeliveries inside one frame: first arrival (smallest event_id) wins") {
    val out = Files.createTempDirectory("graft-sink-dup").toString + "/lake"
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir)).limit(40)
      .localCheckpoint()
    val n = enriched.count()
    // one row delivered twice, and one id arriving again under a later
    // event_id with different content (placed first in the frame)
    val again = enriched.orderBy(col("event_id")).limit(1)
    val later = enriched.orderBy(col("event_id").desc).limit(1)
      .withColumn("event_id", col("event_id") + 1000000L)
      .withColumn("county", lit("LATER"))
    val frame = later.unionByName(enriched).unionByName(again)
    assert(frame.count() == n + 2)
    assert(StormSinks.mergeById(frame, out) == n)
    val lake = spark.read.parquet(out)
    assert(lake.count() == n)
    assert(lake.select(col("id")).distinct().count() == n)
    assert(lake.where(col("county") === "LATER").count() == 0,
      "a later event_id displaced the first arrival")
    // a replay of the same frame adds nothing
    assert(StormSinks.mergeById(frame, out) == 0)
    assert(spark.read.parquet(out).count() == n)
  }

  test("merge fails on an unreadable lake instead of appending the frame again") {
    val out = Files.createTempDirectory("graft-sink-bad").toString + "/lake"
    new java.io.File(out).mkdirs()
    Files.write(java.nio.file.Paths.get(out, "part-00000.parquet"),
      "not parquet".getBytes("UTF-8"))
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir)).limit(10)
    intercept[Exception](StormSinks.mergeById(enriched, out))
    assert(new java.io.File(out).list().toSeq == Seq("part-00000.parquet"),
      "a failed merge appended to the lake")
  }

  test("compaction: re-packs small files, content identical, layout kept") {
    val out = Files.createTempDirectory("graft-compact").toString + "/lake"
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir))
      .repartition(16) // force many small files per partition
    StormSinks.writePartitioned(enriched, out)
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(out))
    }
    val before = spark.read.parquet(out)
    val (rows, ids) = (before.count(),
      before.agg(sum(crc32(col("id")))).head.getLong(0))
    val filesBefore = dataFiles().length
    assert(filesBefore > 8, s"setup produced only $filesBefore files")

    StormSinks.compact(spark, out, targetFiles = 1)

    // one file per (event_type, event_date) partition now
    val after = spark.read.parquet(out)
    val nPartitions = after.select(col("event_type"), col("event_date"))
      .distinct().count()
    assert(dataFiles().length == nPartitions,
      s"${dataFiles().length} files for $nPartitions partitions")
    // content survived byte-for-byte (count + id checksum + no temp dir)
    assert(after.count() == rows)
    assert(after.agg(sum(crc32(col("id")))).head.getLong(0) == ids)
    assert(!new java.io.File(out + ".compact-tmp").exists())
    // pruning layout still intact
    assert(after.where(col("event_type") === "hail")
      .queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("versioned layout: pointer-swap publish, reader never sees a gap") {
    val dir = Files.createTempDirectory("graft-versioned").toString + "/lake"
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir)).limit(200)
      .localCheckpoint()
    val n = enriched.count()

    // v0: write + publish
    assert(StormSinks.writeVersioned(enriched, dir) == 0)
    assert(StormSinks.readVersioned(spark, dir).count() == n)

    // an in-flight reader resolves v0's immutable dir...
    val inFlight = StormSinks.readVersioned(spark, dir)

    // ...while compaction publishes v1
    assert(StormSinks.compactVersioned(spark, dir, targetFiles = 1) == 1)
    val after = StormSinks.readVersioned(spark, dir)
    assert(after.count() == n)
    assert(after.agg(sum(crc32(col("id")))).head.getLong(0) ==
      enriched.agg(sum(crc32(col("id")))).head.getLong(0),
      "compaction changed content")
    // the in-flight reader still completes against v0 (not vacuumed yet)
    assert(inFlight.count() == n)

    // a crash BEFORE publish leaves the previous version live: simulate
    // by dropping an orphan version dir next to the lake — the pointer
    // still names v1 and reads are unaffected
    new java.io.File(s"$dir/v-99").mkdirs()
    assert(StormSinks.readVersioned(spark, dir).count() == n)

    // vacuum with keep=0 removes v0 but never the current version
    val deleted = StormSinks.vacuumVersions(spark, dir, keep = 0)
    assert(deleted.contains("v-0") && !deleted.contains("v-1"), deleted.toString)
    assert(StormSinks.readVersioned(spark, dir).count() == n)

    // a new versioned write continues the sequence past the pointer
    assert(StormSinks.writeVersioned(enriched, dir) == 2)
    assert(StormSinks.readVersioned(spark, dir).count() == n)

    // corrupt pointer is an error, not a silent empty read (written via
    // the Hadoop fs so the checksum matches and the VALIDATION fires)
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val o = fsys.create(new org.apache.hadoop.fs.Path(s"$dir/_current"), true)
    o.write("garbage".getBytes("UTF-8")); o.close()
    intercept[IllegalArgumentException](StormSinks.readVersioned(spark, dir))
  }

  test("schema evolution: mergeSchema reads old and new file generations") {
    val out = Files.createTempDirectory("graft-evolve").toString + "/lake"
    val enriched = StormPipeline.enrich(StormFeed.feed(spark, sfDir))
    StormSinks.writePartitioned(enriched.limit(50), out)
    // a later generation gains a column (pipeline version tag)
    StormSinks.writePartitioned(
      enriched.limit(30).withColumn("pipeline_ver", lit("v2")), out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.contains("pipeline_ver"))
    assert(merged.count() == 80)
    // old-generation rows surface the evolved column as null
    assert(merged.where(col("pipeline_ver").isNull).count() == 50)
    assert(merged.where(col("pipeline_ver") === "v2").count() == 30)
  }
}
