package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write surface for enriched storm events — the Spark-native
  * equivalent of the reference's Kafka produce + Postgres upsert
  * (/root/reference/internal/pipeline): a partitioned parquet lake
  * layout plus an idempotent-merge writer.
  *
  * Scale notes: partitioning by (event_type, event_date) gives
  * partition pruning on the two dominant predicates (type filters and
  * date ranges) at any size; writes stay one file per task within each
  * partition. The merge writer reproduces the reference's
  * ON CONFLICT DO NOTHING semantics on the deterministic event ID,
  * which is what makes at-least-once replays collapse.
  */
object StormSinks {

  /** Append enriched events as parquet partitioned by
    * (event_type, event_date). `maxRecordsPerFile` bounds file size
    * so a skewed partition (one storm-heavy day) still produces
    * splittable files. */
  def writePartitioned(enriched: DataFrame, outDir: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    enriched
      .withColumn("event_date", substring(col("event_time_str"), 1, 10))
      .write
      .partitionBy("event_type", "event_date")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("append")
      .parquet(outDir)

  /** Small-file compaction — the lake-maintenance pass every
    * append-heavy layout needs: streaming micro-batches and per-task
    * writes accumulate files far below the ideal scan granularity,
    * and at 100 TB the file-listing + task-scheduling overhead of
    * millions of tiny files dominates reads. Rewrites the directory
    * to `targetFiles` files per (event_type, event_date) partition
    * (the write stays partition-parallel: one shuffle keyed on the
    * partition columns), then swapping directories via two renames.
    * Content is byte-identical rows, just re-packed.
    *
    * Crash-safety of the swap (NOT atomic — directory rename is a
    * metadata op on HDFS/local but copy+delete on object stores, and
    * two renames always leave a gap): the live dir is renamed ASIDE
    * first (`dir` → `dir.compact-old`), then the compacted tmp takes
    * its place, then the old copy is deleted. A crash at any point
    * leaves EVERY row recoverable on disk — either the lake is intact,
    * or the full pre-compaction copy sits at `dir.compact-old` (a
    * previous fs.delete(dst)-then-rename ordering could crash holding
    * only the tmp dir, i.e. silent lake unavailability at the live
    * path). Readers racing the swap can observe a missing dir for the
    * instant between the renames — schedule compaction in the
    * maintenance window, or serve readers through a versioned-pointer
    * layout (manifest file naming the current version dir) when
    * 24/7 reads must never block. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 1): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val df = spark.read.parquet(dir)
    val tmp = dir + ".compact-tmp"
    // repartition on (partition cols + a bounded salt): each lake
    // partition's rows land in exactly `targetFiles` tasks — per-
    // partition file count control that stays parallel ACROSS
    // partitions (a plain repartition(n) would serialize everything
    // through n tasks total)
    df.repartition(col("event_type"), col("event_date"),
        pmod(xxhash64(col("id")), lit(targetFiles.toLong)))
      .write
      .partitionBy("event_type", "event_date")
      .mode("overwrite")
      .parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + ".compact-old")
    fs.delete(old, true) // leftover from a crashed previous run
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compact: could not move $dst aside to $old")
    if (!fs.rename(src, dst)) {
      // restore the original lake before failing — nothing is lost
      fs.rename(old, dst)
      throw new java.io.IOException(s"compact: could not promote $src to $dst")
    }
    fs.delete(old, true)
  }

  // ---------------------------------------------- versioned lake layout
  // The 24/7-reader alternative to the rename-aside swap in [[compact]]:
  //   dir/_current          one line naming the live version, e.g. "v-17"
  //   dir/v-16/  dir/v-17/  immutable version directories
  // Readers resolve _current then read an immutable dir, so maintenance
  // NEVER makes the lake transiently unreadable: publish is one
  // single-file rename (atomic on POSIX; a single object PUT on object
  // stores), old versions are deleted only after the pointer moves.
  // This is the pointer-swap core of the table-format idea (what
  // Delta/Iceberg generalize with a transaction log) sized to this
  // library's needs.

  private def fsFor(spark: org.apache.spark.sql.SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** All pointer I/O goes through FileContext when the filesystem has
    * an AbstractFileSystem binding: on the local FS that is the RAW
    * filesystem (no `.crc` sidecars — ChecksumFileSystem's sidecar is
    * a SECOND file, so no sidecar-based path can ever rename a pointer
    * atomically: the data rename and the crc rename are separate ops,
    * and a racing reader sees new data with the old checksum — found
    * by GraftLakeSpec's publish race), and on HDFS it is the native
    * client (checksums live in the protocol, not sidecar files).
    * Filesystems with no binding fall back to the FileSystem API. */
  private def fcFor(fs: org.apache.hadoop.fs.FileSystem): Option[org.apache.hadoop.fs.FileContext] =
    try Some(org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf))
    catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[(Int, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_current")
    val fc = fcFor(fs)
    val exists = fc.map(_.util().exists(p)).getOrElse(fs.exists(p))
    if (!exists) None
    else {
      val in = fc.map(_.open(p)).getOrElse(fs.open(p))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(s.matches("v-[0-9]+"), s"corrupt _current pointer: '$s'")
      Some(s.stripPrefix("v-").toInt -> s)
    }
  }

  /** Publish `version` as current: write the pointer to a temp name,
    * then ONE overwrite-rename onto _current. `FileContext.rename`
    * with `Options.Rename.OVERWRITE` replaces an existing destination
    * atomically on POSIX/HDFS — a crash or a racing reader at any
    * instant sees either the old pointer or the new one, never an
    * absent pointer (a delete-then-rename ordering has exactly that
    * gap, and [[readVersioned]] would throw through it). Only if the
    * filesystem has no FileContext binding (some Hadoop-compatible FS
    * shims) do we fall back to delete+rename; readers compensate by
    * retrying a just-missing pointer once (see [[readPointer]]). */
  private def publish(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      version: Int): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/._current.tmp")
    val cur = new org.apache.hadoop.fs.Path(s"$dir/_current")
    fcFor(fs) match {
      case Some(fc) =>
        // write tmp AND rename through the same (raw / native) channel,
        // then ONE overwrite-rename: a crash or racing reader at any
        // instant sees the old pointer or the new one, never none
        val out = fc.create(tmp,
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
            org.apache.hadoop.fs.CreateFlag.OVERWRITE),
          org.apache.hadoop.fs.Options.CreateOpts.createParent())
        try out.write(s"v-$version\n".getBytes("UTF-8")) finally out.close()
        fc.rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      case None =>
        // non-atomic fallback for filesystems without an
        // AbstractFileSystem binding: the only window where no pointer
        // exists (readVersioned's retry covers racing readers)
        val out = fs.create(tmp, true)
        try out.write(s"v-$version\n".getBytes("UTF-8")) finally out.close()
        if (fs.exists(cur) && !fs.delete(cur, false))
          throw new java.io.IOException(s"cannot replace $cur")
        if (!fs.rename(tmp, cur))
          throw new java.io.IOException(s"cannot publish pointer $tmp -> $cur")
    }
  }

  /** Write a NEW version of the lake and atomically point readers at
    * it. Returns the published version number. Old versions are kept
    * (see [[vacuumVersions]]) so in-flight readers finish against the
    * immutable dir they resolved. */
  def writeVersioned(df: DataFrame, dir: String): Int = {
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    val next = readPointer(fs, dir).map(_._1 + 1).getOrElse(0)
    df.withColumn("event_date", substring(col("event_time_str"), 1, 10))
      .write
      .partitionBy("event_type", "event_date")
      .mode("overwrite")
      .parquet(s"$dir/v-$next")
    publish(fs, dir, next)
    next
  }

  /** Versioned-pointer publish of an ARBITRARY table — the generic
    * counterpart of [[writeVersioned]] (which writes the storm
    * enrichment's partition layout). Same protocol: write the next
    * immutable `v-N` dir, then one atomic pointer swap. This is the
    * persistence path for derived tables the pipeline builds once and
    * probes per ingest — the dedup signature index
    * (`Dedup.minhashIndex`) and the BM25 retrieval index — so a fresh
    * session (or another cluster) reads them through `graftlake` /
    * [[readVersioned]] instead of recomputing the corpus aggregate.
    * Optional `partitionCols` become the on-disk partition layout
    * (e.g. band id for a band-probed index). */
  def writeVersionedTable(df: DataFrame, dir: String,
      partitionCols: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    val next = readPointer(fs, dir).map(_._1 + 1).getOrElse(0)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(s"$dir/v-$next")
    publish(fs, dir, next)
    next
  }

  /** Atomic MULTI-TABLE publish: write every named table under ONE
    * new immutable version dir (`$dir/v-N/<name>/`), then swap the
    * single `$dir/_current` pointer once. This is the transactional
    * upgrade of calling [[writeVersionedTable]] per table: tables that
    * must stay mutually consistent (a corpus and its cluster labels,
    * a document lake and its published indexes) commit together — a
    * crash between table writes leaves the pointer on the previous
    * version, so readers and checkpoint replays NEVER observe table A
    * from version N with table B from version N−1 (the half-commit
    * the per-table layout permits). Readers resolve the pointer once
    * via [[currentVersionDir]] and read `<ver>/<name>` for each
    * table — one resolution = one consistent snapshot. */
  def writeVersionedGroup(spark: org.apache.spark.sql.SparkSession,
      dir: String, tables: Seq[(String, DataFrame)],
      partitionCols: Map[String, Seq[String]] = Map.empty): Int = {
    require(tables.nonEmpty, "writeVersionedGroup needs at least one table")
    val fs = fsFor(spark, dir)
    val next = readPointer(fs, dir).map(_._1 + 1).getOrElse(0)
    // Clear any pre-existing unpublished v-$next: a crashed
    // appendDeltaGroup may have left an orphan v-$next/_segments there,
    // and manifestOrLegacy PREFERS a manifest — without this delete the
    // whole-table publish below would be silently shadowed by the stale
    // orphan delta state (readers would resolve the manifest, so
    // compaction's keyed collapse / deletion's purge would never take
    // effect). The dir is unpublished (pointer still names v-(next-1)),
    // so deleting it races no reader.
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v-$next"), true)
    tables.foreach { case (name, df) =>
      require(name.nonEmpty && !name.contains("/"),
        s"bad group table name '$name'")
      val w = df.write.mode("overwrite")
      val pc = partitionCols.getOrElse(name, Nil)
      (if (pc.nonEmpty) w.partitionBy(pc: _*) else w)
        .parquet(s"$dir/v-$next/$name")
    }
    publish(fs, dir, next)
    next
  }

  // ------------------------------------------- delta-segment versions
  /** The delta-segment extension of the versioned-group protocol: a
    * version may be SEGMENTED — `v-N` then carries a `_segments`
    * manifest (ordered `table <TAB> relpath` lines) instead of table
    * subdirs, and the data lives in immutable `$dir/seg-K/<table>`
    * dirs SHARED across versions. A micro-batch state commit
    * ([[appendDeltaGroup]]) therefore writes only its batch-sized
    * delta segments plus a manifest a few hundred bytes long, and
    * swaps the one pointer — per-trigger state I/O is O(batch), not
    * O(accumulated state), which is what lets a 24/7 stream carry a
    * 10¹⁰-row registry. Readers resolve the pointer once and union a
    * table's manifest segments (order carries "later wins" for keyed
    * tables — [[readGroupTableKeyedAt]]); a legacy whole-table version
    * reads as a synthesized one-segment-per-table manifest, so the two
    * layouts interoperate under one pointer history. The maintenance
    * cadence ([[compactGroupSegments]] + [[vacuumSegments]]) folds
    * segments back into a whole-table version and reclaims
    * unreferenced segment dirs. The `graftlake` DSv2 format resolves
    * manifests too (`option("table", name)` — the raw segment union;
    * keyed latest-wins collapse stays a query-level concern,
    * [[readGroupTableKeyedAt]]). */
  private val ManifestName = "_segments"

  /** Parse `v-N/_segments`: ordered (table, relpath) entries. None =
    * legacy whole-table version (no manifest file). */
  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, verName: String): Option[Seq[(String, String)]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$verName/$ManifestName")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      Some(s.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"corrupt $ManifestName line: '$line'")
        (line.substring(0, i), line.substring(i + 1))
      })
    }
  }

  /** Manifest of `verName`, synthesizing one from a legacy layout:
    * each table subdir of the version dir becomes a single segment. */
  private def manifestOrLegacy(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, verName: String): Seq[(String, String)] =
    readManifestFile(fs, dir, verName).getOrElse {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$verName")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.getName -> s"$verName/${st.getPath.getName}")
        .sortBy(_._1)
    }

  private def writeManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, verName: String, entries: Seq[(String, String)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$verName/$ManifestName")
    val out = fs.create(p, true)
    try out.write(entries.map { case (t, rp) => s"$t\t$rp\n" }
      .mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Basename (`v-N`) of the current version — the handle for the
    * `...At` readers, so one resolution covers a whole multi-table
    * read (the [[currentVersionDir]] consistency discipline). */
  def currentVersionName(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fs = fsFor(spark, dir)
    val ptr = readPointer(fs, dir).orElse { Thread.sleep(100); readPointer(fs, dir) }
    ptr.getOrElse(throw new java.io.FileNotFoundException(
      s"no _current pointer under $dir"))._2
  }

  /** Table names of the group at version `verName` (manifest tables,
    * or the legacy subdir listing). */
  def groupTablesAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      verName: String): Seq[String] =
    manifestOrLegacy(fsFor(spark, dir), dir, verName)
      .map(_._1).distinct.sorted

  /** Ordered absolute segment paths of `name` at version `verName`. */
  def segmentsAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      verName: String, name: String): Seq[String] =
    manifestOrLegacy(fsFor(spark, dir), dir, verName)
      .collect { case (t, rp) if t == name => s"$dir/$rp" }

  /** On-disk partition layout of a written table path: the chain of
    * `col=value` directory levels Spark's writer produced (empty for
    * an unpartitioned table). Lets the delta/compaction writers
    * PRESERVE a base segment's layout without threading partition
    * specs through every call site — an un-partitioned delta segment
    * loses directory pruning over the delta until compaction, and a
    * compaction that drops the layout loses it permanently
    * (ADVICE r17 on [[graft.operators.Pq.appendToIvfPqLake]]). */
  private def partitionLayoutOf(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var cur = table
    var scanning = fs.exists(cur)
    while (scanning) {
      val parts = fs.listStatus(cur).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      parts.map(_.getPath.getName.split("=", 2)(0)).distinct match {
        case scala.collection.Seq(one) =>
          out += one; cur = parts.head.getPath
        case _ => scanning = false
      }
    }
    out.toSeq
  }

  /** [[partitionLayoutOf]] for the FIRST segment of `name` at the
    * current version of `dir` — the base layout a delta append or a
    * compaction rewrite should reproduce. */
  private def baseLayoutOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, verName: String, name: String): Seq[String] =
    segmentsAt(spark, dir, verName, name).headOption
      .map(p => partitionLayoutOf(fsFor(spark, dir),
        new org.apache.hadoop.fs.Path(p)))
      .getOrElse(Nil)

  /** One table at version `verName`: the UNION of its segments (raw —
    * a keyed table's stale rows are NOT collapsed; use
    * [[readGroupTableKeyedAt]] for latest-wins semantics). */
  def readGroupTableAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      verName: String, name: String): DataFrame = {
    val segs = segmentsAt(spark, dir, verName, name)
    if (segs.isEmpty)
      throw new java.io.FileNotFoundException(
        s"group table '$name' not present in $dir/$verName")
    // one scan over all segment paths: per-segment reads each pay a
    // listing, a schema-inference job and a scan, so a stream's state
    // read grew with its uncompacted segment count. mergeSchema keeps
    // the missing-column contract (old segments read a new column as
    // null). Spark's partition discovery admits one base path, so a
    // partitioned table keeps the per-segment union.
    if (segs.size == 1) spark.read.parquet(segs.head)
    else if (partitionLayoutOf(fsFor(spark, dir), new org.apache.hadoop.fs.Path(segs.head)).isEmpty)
      spark.read.option("mergeSchema", "true").parquet(segs: _*)
    else segs.map(spark.read.parquet(_))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Latest-wins view of a KEYED table at version `verName`: rows of
    * later segments override earlier rows with the same key (the
    * merge-on-read collapse for upsert-delta tables, e.g. cluster
    * labels). Output columns: keys first, then the remaining columns
    * in segment order. A single-segment table skips the collapse. */
  def readGroupTableKeyedAt(spark: org.apache.spark.sql.SparkSession,
      dir: String, verName: String, name: String,
      keys: Seq[String]): DataFrame = {
    val segs = segmentsAt(spark, dir, verName, name)
    if (segs.isEmpty)
      throw new java.io.FileNotFoundException(
        s"group table '$name' not present in $dir/$verName")
    if (segs.size == 1) return spark.read.parquet(segs.head)
    val u = segs.zipWithIndex
      .map { case (p, i) => spark.read.parquet(p).withColumn("__seg", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val others = u.columns.filterNot(c => keys.contains(c) || c == "__seg").toSeq
    u.groupBy(keys.map(col): _*)
      .agg(max(struct((col("__seg") +: others.map(col)): _*)).as("__m"))
      .select(keys.map(col) ++ others.map(o => col(s"__m.$o").as(o)): _*)
  }

  /** O(batch) state commit: append batch-sized delta segments to the
    * current group version — `appends` tables gain a segment, `replaces`
    * tables are reset to just the new segment (for small per-commit
    * metadata like a last_batch watermark), every other table's
    * segment list carries FORWARD untouched (zero data I/O). Writes
    * `$dir/seg-{N+1}/<table>` for each given table, then the new
    * manifest, then ONE pointer swap — so a crash anywhere before the
    * swap leaves the previous version intact and only orphan segment
    * dirs behind, which the deterministic replay of the same commit
    * OVERWRITES (version numbering restarts from the committed
    * pointer) and [[vacuumSegments]] reclaims. Requires an existing
    * base version ([[writeVersionedGroup]] publishes one).
    *
    * SINGLE-WRITER contract: commits are read-pointer → write →
    * swap, with no compare-and-swap on the pointer — two concurrent
    * writers that both resolve version N would both build v-(N+1) and
    * the second pointer swap silently discards the first commit. The
    * streaming checkpoints serialize each stream's commits, and each
    * state dir has exactly ONE owning stream plus the (stop-the-
    * stream-first) maintenance cadence — multi-writer coordination is
    * deliberately out of protocol scope, matching the whole-table
    * versioned-group contract this extends. */
  def appendDeltaGroup(spark: org.apache.spark.sql.SparkSession, dir: String,
      appends: Seq[(String, DataFrame)],
      replaces: Seq[(String, DataFrame)] = Nil): Int = {
    require(appends.nonEmpty || replaces.nonEmpty,
      "appendDeltaGroup needs at least one table")
    val fs = fsFor(spark, dir)
    val (curN, curName) = readPointer(fs, dir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"appendDeltaGroup needs a published base version under $dir"))
    val next = curN + 1
    val cur = manifestOrLegacy(fs, dir, curName)
    val appendNames = appends.map(_._1).toSet
    val replaceNames = replaces.map(_._1).toSet
    require(appendNames.intersect(replaceNames).isEmpty,
      "a table cannot be both appended and replaced in one commit")
    require(appendNames.size == appends.size && replaceNames.size == replaces.size,
      "duplicate table name within one commit (the second write would " +
        "silently overwrite the first and the manifest would double-read it)")
    (appends ++ replaces).foreach { case (name, df) =>
      require(name.nonEmpty && !name.contains("/") && name != ManifestName,
        s"bad group table name '$name'")
      // reproduce the base segment's partition layout so delta
      // segments keep directory pruning (ADVICE r17): a probe that
      // prunes the base's cell_id=K dirs must prune the delta's too
      val layout = baseLayoutOf(spark, dir, curName, name)
      val w = df.write.mode("overwrite")
      (if (layout.nonEmpty) w.partitionBy(layout: _*) else w)
        .parquet(s"$dir/seg-$next/$name")
    }
    val carried = cur.filterNot { case (t, _) => replaceNames.contains(t) }
    val fresh = (appends ++ replaces).map { case (t, _) => t -> s"seg-$next/$t" }
    // symmetric with writeVersionedGroup's orphan clearing: a crashed
    // whole-table publish may have left table subdirs in the
    // unpublished v-$next; the manifest written below out-ranks them
    // for readers, but clearing keeps dead data from lingering until
    // version vacuum
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v-$next"), true)
    writeManifestFile(fs, dir, s"v-$next", carried ++ fresh)
    publish(fs, dir, next)
    next
  }

  /** AUTO-CADENCE segment maintenance — the policy bound on a 24/7
    * stream's read amplification: when any table's segment count at
    * the current version exceeds `maxSegments`, fold the group back to
    * one whole-table version ([[compactGroupSegments]], `keyed` tables
    * collapsing latest-wins) and reclaim superseded versions +
    * unreferenced segment dirs. Below the threshold it reads ONE
    * manifest and does nothing — cheap enough to run after every
    * commit, which is exactly where the streaming faces call it.
    * Returns whether it compacted.
    *
    * Sizing `maxSegments`: between compactions every reader unions up
    * to `maxSegments` segment dirs (one listing + footer round per
    * segment, plus the latest-wins collapse over keyed tables), so the
    * threshold IS the worst-case read amplification; the compaction
    * itself costs one O(state) rewrite every ~`maxSegments` commits,
    * i.e. amortized O(state/maxSegments) per commit on top of the
    * O(batch) delta. The default 64 keeps both terms small for
    * micro-batch cadences. The trigger that runs the compaction pays
    * the O(state) spike in-line; a deployment that cannot absorb that
    * in-stream sets the stream's threshold high (or 0 = never) and
    * runs [[compactGroupSegments]] out-of-band in its maintenance
    * window instead — same crash-safety either way, every step is
    * pointer-atomic and the stream is the single writer. */
  def maintainGroupSegments(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxSegments: Int,
      keyed: Map[String, Seq[String]] = Map.empty,
      keepVersions: Int = 1): Boolean = {
    require(maxSegments > 0, s"maxSegments must be positive, got $maxSegments")
    val worst = groupStats(spark, dir).view
      .filterKeys(k => k.startsWith("graft.lake.segments.") &&
        k != "graft.lake.segments.total")
      .values.maxOption.getOrElse(0L)
    if (worst <= maxSegments) false
    else {
      compactGroupSegments(spark, dir, keyed)
      vacuumVersions(spark, dir, keepVersions)
      vacuumSegments(spark, dir)
      true
    }
  }

  /** Maintenance-cadence compaction of a segmented group: fold every
    * table's segments into ONE segment in a fresh whole-table version
    * (readable by legacy readers again). Tables named in `keyed` are
    * collapsed latest-wins on the given key columns; the rest are
    * plain unions (append-delta tables are disjoint by writer
    * contract). Publishes atomically; old versions/segments await
    * [[vacuumVersions]] + [[vacuumSegments]]. */
  def compactGroupSegments(spark: org.apache.spark.sql.SparkSession,
      dir: String, keyed: Map[String, Seq[String]] = Map.empty): Int = {
    val verName = currentVersionName(spark, dir)
    val names = groupTablesAt(spark, dir, verName)
    val tables = names.map { t =>
      t -> (keyed.get(t) match {
        case Some(ks) => readGroupTableKeyedAt(spark, dir, verName, t, ks)
        case None => readGroupTableAt(spark, dir, verName, t)
      })
    }
    // carry each table's partition layout through the fold — a
    // compaction that silently flattens the layout would permanently
    // cost the probes their directory pruning (ADVICE r17)
    val layouts = names.map(t => t -> baseLayoutOf(spark, dir, verName, t))
      .filter(_._2.nonEmpty).toMap
    writeVersionedGroup(spark, dir, tables, partitionCols = layouts)
  }

  /** Delete `seg-K` dirs referenced by NO surviving version's manifest
    * (run after [[vacuumVersions]]; in-flight readers of retained
    * versions keep every segment they can resolve). Returns deleted
    * names. */
  def vacuumSegments(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val fs = fsFor(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(root)) return Seq.empty
    val vers = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("v-[0-9]+"))
    val referenced = vers.flatMap(v => manifestOrLegacy(fs, dir, v))
      .map(_._2.split("/")(0)).toSet
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.matches("seg-[0-9]+") &&
        !referenced.contains(p.getName))
      .map { p => fs.delete(p, true); p.getName }
  }

  /** Operational stats of a (possibly segmented) group — the numbers
    * that tell a deployment WHEN to run the maintenance cadence,
    * shaped for [[graft.observability.OpsServer]]'s metrics thunk:
    * `graft.lake.version` (current version number),
    * `graft.lake.tables`, `graft.lake.segments.total` and the
    * per-table `graft.lake.segments.<table>` counts (a table whose
    * segment count grows past the compaction target is the signal),
    * plus `graft.lake.versions.on_disk` (what vacuum would trim). */
  def groupStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, Long] = {
    val fs = fsFor(spark, dir)
    val (cur, curName) = readPointer(fs, dir).getOrElse(return Map.empty)
    val man = manifestOrLegacy(fs, dir, curName)
    val perTable = man.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .count(_.getPath.getName.matches("v-[0-9]+")).toLong
    Map(
      "graft.lake.version" -> cur.toLong,
      "graft.lake.tables" -> perTable.size.toLong,
      "graft.lake.segments.total" -> perTable.values.sum,
      "graft.lake.versions.on_disk" -> onDisk) ++
      perTable.map { case (t, n) => s"graft.lake.segments.$t" -> n }
  }

  /** Read one table of a [[writeVersionedGroup]] lake at the CURRENT
    * version (segment-aware: a segmented version reads as the union of
    * the table's manifest segments — see [[readGroupTableKeyedAt]] for
    * keyed latest-wins tables). For multi-table consistency across
    * reads, resolve [[currentVersionName]] once yourself and use
    * [[readGroupTableAt]] — this convenience re-resolves per call. */
  def readVersionedGroupTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String): DataFrame =
    readGroupTableAt(spark, dir, currentVersionName(spark, dir), name)

  /** Resolve the live immutable version dir (`$dir/v-N` named by
    * `_current`). A missing pointer is retried briefly before failing:
    * on filesystems where [[publish]] had to take the non-atomic
    * fallback there is a sub-millisecond window with no pointer, and
    * one retry hides it from 24/7 readers. Also the resolution step of
    * the `graftlake` DataSourceV2 format ([[GraftLakeSource]]). */
  def currentVersionDir(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val fs = fsFor(spark, dir)
    val ptr = readPointer(fs, dir).orElse { Thread.sleep(100); readPointer(fs, dir) }
    val (_, name) = ptr.getOrElse(
      throw new java.io.FileNotFoundException(s"no _current pointer under $dir"))
    s"$dir/$name"
  }

  /** Read the current version (resolves _current, reads the immutable
    * version dir — never racing a swap). */
  def readVersioned(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(currentVersionDir(spark, dir))

  /** Compaction, versioned flavor: re-pack the CURRENT version into a
    * new version dir (same per-partition file-count control as
    * [[compact]]), publish, return the new version. Readers see either
    * the old or the new version — never an absent directory. */
  def compactVersioned(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 1): Int = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val fs = fsFor(spark, dir)
    val (n, name) = readPointer(fs, dir).getOrElse(
      throw new java.io.FileNotFoundException(s"no _current pointer under $dir"))
    spark.read.parquet(s"$dir/$name")
      .repartition(col("event_type"), col("event_date"),
        pmod(xxhash64(col("id")), lit(targetFiles.toLong)))
      .write
      .partitionBy("event_type", "event_date")
      .mode("overwrite")
      .parquet(s"$dir/v-${n + 1}")
    publish(fs, dir, n + 1)
    n + 1
  }

  /** Delete version dirs older than the current minus `keep` (the
    * retention window for in-flight readers) — EXCEPT any version dir
    * a retained version's manifest still references as a segment
    * root. Delta-version manifests carry their legacy BASE's tables
    * as `v-K/<table>` relpaths (the synthesized one-segment manifest
    * of a whole-table publish), so a naive delete-by-number would
    * destroy the CURRENT version's base data out from under the
    * pointer. Segment roots referenced by retained manifests are
    * load-bearing, whatever their age; [[compactGroupSegments]] is
    * what ends a base's tenure (after it, no retained manifest
    * references the old root and the next vacuum reclaims it).
    * Returns deleted names. */
  def vacuumVersions(spark: org.apache.spark.sql.SparkSession, dir: String,
      keep: Int = 1): Seq[String] = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val fs = fsFor(spark, dir)
    val (cur, _) = readPointer(fs, dir).getOrElse(return Seq.empty)
    val retained = (math.max(0, cur - keep) to cur).map(n => s"v-$n")
    val referenced = retained
      .flatMap(v => manifestOrLegacy(fs, dir, v))
      .map(_._2.split("/")(0)).toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.matches("v-[0-9]+") &&
        p.getName.stripPrefix("v-").toInt < cur - keep &&
        !referenced.contains(p.getName))
      .map { p => fs.delete(p, true); p.getName }
  }

  /** Idempotent merge into an existing lake dir: drop incoming rows
    * whose deterministic `id` already exists (ON CONFLICT DO NOTHING,
    * reference transform.go:127-139 rationale), then append the rest.
    * The anti-join reads only the `id` column of the target (column
    * pruning) and broadcasts nothing — it shuffles on the 8-byte id. */
  def mergeById(enriched: DataFrame, outDir: String): Long = {
    val spark = enriched.sparkSession
    val existing =
      try spark.read.parquet(outDir).select(col("id"))
      catch { case _: Throwable => return { writePartitioned(enriched, outDir); enriched.count() } }
    val fresh = graft.Materialize.once( // materialize BEFORE writing into the dir we read
      enriched.join(existing, Seq("id"), "left_anti"))
    val n = fresh.count()
    if (n > 0) writePartitioned(fresh, outDir)
    n
  }
}
