package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.StormSinks

/** Delta-segment versioned groups (the O(batch)-per-trigger state
  * protocol behind the accumulating streams): append commits write
  * only their delta, carried tables cost zero I/O, keyed tables
  * collapse latest-wins, crashes between delta-append and pointer
  * swap are invisible, and the maintenance cadence compacts + vacuums
  * back to a whole-table layout. */
class DeltaGroupSpec extends SparkSpec {
  import spark.implicits._

  private def fileSet(dir: String): Set[String] = {
    val root = new java.io.File(dir)
    if (!root.exists) Set.empty
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getPath + "@" + f.lastModified).toSet
    }
  }

  test("append commits are O(delta): carried segments untouched, manifest-only versions") {
    val dir = Files.createTempDirectory("graft-delta-proto").toString
    // base: a large registry published whole (legacy layout)
    val base = (0L until 10000L).map(i => s"fp$i").toDF("fp")
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "fps" -> base, "meta" -> Seq(-1L).toDF("last_batch")))
    val baseFiles = fileSet(s"$dir/v-0")
    // delta commit: 3 fresh fps, meta replaced
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("fps" -> Seq("fresh1", "fresh2", "fresh3").toDF("fp")),
      replaces = Seq("meta" -> Seq(0L).toDF("last_batch")))
    // the base version's data was not rewritten, byte for byte
    assert(fileSet(s"$dir/v-0") == baseFiles, "base segment files changed")
    // the new version dir holds ONLY the manifest — no table data
    assert(new java.io.File(s"$dir/v-1").listFiles.map(_.getName)
      .filterNot(_.startsWith(".")).toSet ==
      Set("_segments"), "delta version dir must hold only the manifest")
    // the delta segment holds exactly the delta rows
    assert(spark.read.parquet(s"$dir/seg-1/fps").count() == 3)
    // readers see base ∪ delta through the one pointer
    val fps = StormSinks.readVersionedGroupTable(spark, dir, "fps")
    assert(fps.count() == 10003)
    assert(StormSinks.readVersionedGroupTable(spark, dir, "meta")
      .head().getLong(0) == 0L)
    // a second delta: carried 'fps' list grows, still no base rewrite
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("fps" -> Seq("fresh4").toDF("fp")),
      replaces = Seq("meta" -> Seq(1L).toDF("last_batch")))
    assert(fileSet(s"$dir/v-0") == baseFiles)
    assert(StormSinks.readVersionedGroupTable(spark, dir, "fps").count() == 10004)
    // meta is replace-mode: exactly one row, the newest
    val meta = StormSinks.readVersionedGroupTable(spark, dir, "meta")
    assert(meta.count() == 1 && meta.head().getLong(0) == 1L)
  }

  test("keyed latest-wins collapse: later segments override, base rows survive") {
    val dir = Files.createTempDirectory("graft-delta-keyed").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "labels" -> Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "cluster_id")))
    // delta 1: doc 2 relabeled, doc 4 new
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("labels" -> Seq((2L, 99L), (4L, 40L)).toDF("doc_id", "cluster_id")))
    // delta 2: doc 2 relabeled AGAIN, doc 3 relabeled
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("labels" -> Seq((2L, 7L), (3L, 7L)).toDF("doc_id", "cluster_id")))
    val ver = StormSinks.currentVersionName(spark, dir)
    val got = StormSinks.readGroupTableKeyedAt(spark, dir, ver, "labels", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 2L -> 7L, 3L -> 7L, 4L -> 40L), got.toString)
    // the raw union still holds every historical row (merge-on-read)
    assert(StormSinks.readGroupTableAt(spark, dir, ver, "labels").count() == 7)
  }

  test("a duplicated table name within one commit is rejected before any write") {
    val dir = Files.createTempDirectory("graft-delta-dupname").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq("fps" -> Seq("a").toDF("fp")))
    val e = intercept[IllegalArgumentException] {
      StormSinks.appendDeltaGroup(spark, dir, appends = Seq(
        "fps" -> Seq("b").toDF("fp"), "fps" -> Seq("c").toDF("fp")))
    }
    assert(e.getMessage.contains("duplicate table name"), e.getMessage)
    // nothing was written, the group still reads
    assert(StormSinks.readVersionedGroupTable(spark, dir, "fps").count() == 1)
  }

  test("crash between delta-append and pointer-swap: orphans invisible, replay overwrites") {
    val dir = Files.createTempDirectory("graft-delta-crash").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "fps" -> Seq("a", "b").toDF("fp")))
    // simulate the crash: the NEXT commit's segment + manifest land on
    // disk but the pointer swap never happens
    Seq("GARBAGE-ROW").toDF("fp").write.parquet(s"$dir/seg-1/fps")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v-1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/v-1/_segments"),
      "fps\tv-0/fps\nfps\tseg-1/fps\n")
    // readers resolve the committed pointer — the orphan is invisible
    assert(StormSinks.readVersionedGroupTable(spark, dir, "fps").count() == 2)
    // the replayed commit recomputes the SAME version number and
    // overwrites both orphan artifacts
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("fps" -> Seq("c").toDF("fp")))
    val fps = StormSinks.readVersionedGroupTable(spark, dir, "fps")
      .as[String].collect().toSet
    assert(fps == Set("a", "b", "c"), fps.toString)
  }

  test("orphan delta manifest cannot shadow a subsequent whole-table publish") {
    val dir = Files.createTempDirectory("graft-delta-orphan-shadow").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "labels" -> Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "cluster_id")))
    // crashed appendDeltaGroup: v-1/_segments exists, pointer never moved
    Seq((2L, 99L)).toDF("doc_id", "cluster_id").write.parquet(s"$dir/seg-1/labels")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v-1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/v-1/_segments"),
      "labels\tv-0/labels\nlabels\tseg-1/labels\n")
    // the next writer is a WHOLE-TABLE publish claiming the same v-1
    // (compaction / deletion / republish all go through this path);
    // without clearing the orphan, manifestOrLegacy would prefer the
    // stale manifest and readers would resolve the orphan delta state
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "labels" -> Seq((1L, 10L), (2L, 1L)).toDF("doc_id", "cluster_id")))
    val got = StormSinks.readVersionedGroupTable(spark, dir, "labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 2L -> 1L), got.toString)
    // the orphan manifest is gone, not merely out-ranked
    assert(!new java.io.File(s"$dir/v-1/_segments").exists)
    // keyed reads see exactly the published rows too
    val keyed = StormSinks.readGroupTableKeyedAt(spark, dir,
      StormSinks.currentVersionName(spark, dir), "labels", Seq("doc_id"))
    assert(keyed.count() == 2)
  }

  test("groupStats: segment growth is observable for the maintenance cadence") {
    val dir = Files.createTempDirectory("graft-delta-stats").toString
    assert(StormSinks.groupStats(spark, dir).isEmpty, "no pointer -> empty stats")
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "fps" -> Seq("a").toDF("fp"), "meta" -> Seq(-1L).toDF("last_batch")))
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("fps" -> Seq("b").toDF("fp")),
      replaces = Seq("meta" -> Seq(0L).toDF("last_batch")))
    val stats = StormSinks.groupStats(spark, dir)
    assert(stats("graft.lake.version") == 1L, stats.toString)
    assert(stats("graft.lake.segments.fps") == 2L, stats.toString)
    assert(stats("graft.lake.segments.meta") == 1L, stats.toString)
    assert(stats("graft.lake.versions.on_disk") == 2L, stats.toString)
    // plugs straight into the ops metrics surface
    val srv = graft.observability.OpsServer.start(0, () => true,
      () => StormSinks.groupStats(spark, dir))
    try {
      val body = scala.io.Source.fromURL(
        s"http://127.0.0.1:${srv.port}/metrics").mkString
      assert(body.contains("graft_lake_segments_fps 2") ||
        body.contains("graft.lake.segments.fps 2"), body)
    } finally srv.stop()
  }

  test("a many-segment table reads as ONE scan, not a union of per-segment scans") {
    val dir = Files.createTempDirectory("graft-delta-onescan").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq("fps" -> Seq("fp0").toDF("fp")))
    (1 to 5).foreach(i =>
      StormSinks.appendDeltaGroup(spark, dir, appends = Seq("fps" -> Seq(s"fp$i").toDF("fp"))))
    val fps = StormSinks.readVersionedGroupTable(spark, dir, "fps")
    val plan = fps.queryExecution.optimizedPlan
    // per-segment reads would plan 6 relations under a Union: batch
    // cost would grow with the stream's segment count
    assert(plan.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
      .size == 1, plan.treeString)
    assert(fps.as[String].collect().toSet == (0 to 5).map(i => s"fp$i").toSet)
  }

  test("schema evolution: a delta with a NEW column reads old segments as null") {
    val dir = Files.createTempDirectory("graft-delta-evolve").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "docs" -> Seq((1L, "a")).toDF("doc_id", "text")))
    // the evolved writer adds a provenance column
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("docs" -> Seq((2L, "b", "crawl-7"))
        .toDF("doc_id", "text", "origin")))
    val got = StormSinks.readVersionedGroupTable(spark, dir, "docs")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[String]("origin")))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", Some("crawl-7"))),
      got.toString)
    // the keyed reader evolves the same way
    val keyed = StormSinks.readGroupTableKeyedAt(spark, dir,
      StormSinks.currentVersionName(spark, dir), "docs", Seq("doc_id"))
    assert(keyed.columns.contains("origin"))
    assert(keyed.count() == 2)
  }

  test("vacuum never deletes a version dir that retained manifests still reference") {
    val dir = Files.createTempDirectory("graft-delta-vacuum-safe").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "docs" -> Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")))
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("docs" -> Seq((3L, "c")).toDF("doc_id", "text")))
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("docs" -> Seq((4L, "d")).toDF("doc_id", "text")))
    // v-1/v-2 manifests reference v-0/docs as their BASE segment: a
    // delete-by-number vacuum would destroy the CURRENT version's
    // corpus (the r15 review's data-loss scenario)
    val deleted = StormSinks.vacuumVersions(spark, dir, keep = 1)
    assert(deleted.isEmpty, s"vacuum deleted referenced base: $deleted")
    assert(new java.io.File(s"$dir/v-0/docs").exists)
    assert(StormSinks.readVersionedGroupTable(spark, dir, "docs").count() == 4)
    // compaction ends the base's tenure: after it no retained manifest
    // references v-0, so the next vacuum reclaims everything old
    StormSinks.compactGroupSegments(spark, dir)
    val deleted2 = StormSinks.vacuumVersions(spark, dir, keep = 0)
    assert(deleted2.toSet == Set("v-0", "v-1", "v-2"), deleted2.toString)
    StormSinks.vacuumSegments(spark, dir)
    assert(!new java.io.File(s"$dir/seg-1").exists)
    assert(StormSinks.readVersionedGroupTable(spark, dir, "docs").count() == 4)
  }

  test("compaction folds segments to one whole-table version; vacuum reclaims segments") {
    val dir = Files.createTempDirectory("graft-delta-compact").toString
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "fps" -> Seq("a", "b").toDF("fp"),
      "labels" -> Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "cluster_id")))
    StormSinks.appendDeltaGroup(spark, dir,
      appends = Seq("fps" -> Seq("c").toDF("fp"),
        "labels" -> Seq((2L, 1L)).toDF("doc_id", "cluster_id")))
    val wantFps = Set("a", "b", "c")
    val wantLbl = Map(1L -> 10L, 2L -> 1L)
    StormSinks.compactGroupSegments(spark, dir,
      keyed = Map("labels" -> Seq("doc_id")))
    // post-compaction: whole-table layout, content identical
    val ver = StormSinks.currentVersionName(spark, dir)
    assert(new java.io.File(s"${StormSinks.currentVersionDir(spark, dir)}/fps").exists,
      "compaction must restore the whole-table layout")
    assert(StormSinks.readVersionedGroupTable(spark, dir, "fps")
      .as[String].collect().toSet == wantFps)
    val lbl = StormSinks.readVersionedGroupTable(spark, dir, "labels")
    assert(lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == wantLbl)
    assert(lbl.count() == 2, "compacted keyed table must hold no stale rows")
    // vacuum: old versions out, then every seg-* unreferenced is gone
    StormSinks.vacuumVersions(spark, dir, keep = 0)
    val deleted = StormSinks.vacuumSegments(spark, dir)
    assert(deleted == Seq("seg-1"), deleted.toString)
    assert(!new java.io.File(s"$dir/seg-1").exists)
    // the compacted current version still reads
    assert(StormSinks.readVersionedGroupTable(spark, dir, "fps").count() == 3)
  }
}
