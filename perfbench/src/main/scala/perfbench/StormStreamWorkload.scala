package perfbench

import java.io.File
import java.nio.file.Files
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.observability.Metrics
import graft.sources.StormSinks
import graft.storm.{StormFeed, StormPipeline}
import graft.streaming.StreamOps
import org.apache.spark.scheduler.PerfbenchAccess

/** The paper's own job: collector wire JSON -> supervised enrichment
  * stream -> idempotent upsert into the partitioned lake. */
object StormStreamWorkload {
  val Events = 12000
  /** Backlog files; the stream reads 16 per micro-batch. */
  val BacklogFiles = 48
  /** Poison pills follow graft's own poison convention (the
    * `storm_poison` key, `StormStreamSpec`): every record whose
    * event_id is a multiple of 97 also arrives with its payload cut to
    * its first 10 characters, about 1% of the events. */
  val PoisonEvery = 97
  val PoisonChars = 10
  /** Chosen, not measured: the share of records delivered twice and of
    * records redelivered after the backlog drained. */
  val RedeliveryShare = 0.05
  val LateShare = 0.02
  val LateFiles = 2

  /** What one pass did, for the checks after it. */
  final case class Outcome(batches: Seq[Op], merge: Op, replay: Op,
      offered: Long, written: Long, replayed: Long, mergeMs: Double, mergeJobs: Long,
      drainCpuMs: Double, snap: Map[String, Long])
}

final class StormStreamWorkload(run: Run) extends Workload {
  import StormStreamWorkload._

  val why = "the paper's job: task CPU in the graft.storm enrichment expressions, " +
    "few jobs and ~0 warm compiles, plus mergeById lake reads and writes"

  val nominalRoundSeconds = 5.0

  private val spark = run.spark
  private val in = s"${run.work}/storm/in"
  private val backlog = s"$in/backlog"
  private val late = s"$in/late"
  private val clock = new StreamClock
  private var metrics: Metrics = _
  private var poison = 0L
  private var delivered = 0L
  private var lateDelivered = 0L
  /** Round 0's digests of the stream output and of the lake. */
  private val refHash = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
  private val oracleCols = Seq("event_id", "id", "event_type", "lat", "lon", "magnitude",
    "unit", "severity", "event_time_str", "time_bucket_str", "source_office",
    "location_raw", "location_name", "location_distance", "location_direction",
    "state", "county")

  def stage(): Unit = {
    Gen.writeParquet(spark, Gen.events(run.seed, Events), Gen.eventsSchema,
      s"$in/events.parquet", 1)
    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, in))
      .select(col("event_id"), col("raw_value"),
        to_json(struct(col("event_id"), col("ts"), col("raw_value"))).as("line"))
      .orderBy(col("event_id")).collect()
    val r = new SplittableRandom(run.seed ^ 0x57041L)
    val files = Array.fill(BacklogFiles)(ArrayBuffer.empty[String])
    val per = (wire.length + BacklogFiles - 1) / BacklogFiles
    val tsRe = "\"ts\":(\"[^\"]*\")".r
    wire.zipWithIndex.foreach { case (row, i) =>
      val f = i / per
      val line = row.getString(2)
      files(f) += line
      // at-least-once: the same record arrives again a file or two later
      if (r.nextDouble() < RedeliveryShare) files(math.min(BacklogFiles - 1, f + 1 + r.nextInt(2))) += line
      // poison pill: a truncated payload under a fresh envelope id
      if (row.getLong(0) % PoisonEvery == 0) {
        val ts = tsRe.findFirstMatchIn(line).map(_.group(1)).getOrElse("null")
        files(f) += s"""{"event_id":${Events + poison},"ts":$ts,""" +
          s""""raw_value":${Json.render(row.getString(1).take(PoisonChars))}}"""
        poison += 1
      }
    }
    delivered = files.map(_.size.toLong).sum
    val lateLines = wire.filter(_ => r.nextDouble() < LateShare).map(_.getString(2))
    lateDelivered = lateLines.length
    writeFiles(backlog, files.map(_.toSeq).toSeq)
    writeFiles(late, lateLines.grouped((lateLines.length + LateFiles - 1) / LateFiles).toSeq.map(_.toSeq))
    metrics = new Metrics(spark)
    spark.streams.addListener(clock)
  }

  /** JSON-lines files with increasing modification times, so the file
    * source's arrival order is the backlog order. */
  private def writeFiles(dir: String, files: Seq[Seq[String]]): Unit = {
    new File(dir).mkdirs()
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = new File(dir, f"part-$i%05d.json")
      Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
      f.setLastModified(t0 + i * 1000L)
    }
  }

  /** The stream output, or the lake with its partition columns read
    * back as strings. */
  private def read(dir: String): DataFrame = spark.read.schema(outSchema).parquet(dir)
  private var outSchema: org.apache.spark.sql.types.StructType = _

  /** The distinct rows of `dir` in the oracle's columns. */
  private def rows(dir: String): DataFrame =
    read(dir).select(oracleCols.map(col): _*).distinct()

  /** The distinct lake rows with an event_type that reads back NULL
    * (Hive's default partition, known defect 2) read as the `''` the
    * stream wrote. */
  private def lakeRows(dir: String): DataFrame =
    rows(dir).withColumn("event_type", coalesce(col("event_type"), lit(""))).distinct()

  private def rowHash(dir: String): (Long, Long, Long) = rowHash(rows(dir))

  /** (rows, two order-free sums of row hashes) of `df`; the hash is
    * split so the sums cannot overflow. */
  private def rowHash(df: DataFrame): (Long, Long, Long) = {
    val h = df.select(xxhash64(oracleCols.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(1000000007L))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 34)), lit(0L))).head()
    (h.getLong(0), h.getLong(1), h.getLong(2))
  }

  /** Drain `src`, merge it into a fresh lake, replay the late slice;
    * every step timed, nothing checked. */
  private def pass(d: String, src: String): Outcome = {
    val snap0 = metrics.snapshot
    def taskCpu: Double = run.tracer.map(_.counter("task.cpu_ms")).getOrElse(0.0)
    def drain(in: String, out: String): (Seq[Op], Double) = {
      val cpu0 = taskCpu
      run.timed(run.call("StreamOps.runEnrichmentSupervised") {
        StreamOps.runEnrichmentSupervised(spark, in, s"$d/$out", s"$d/$out-cp", Some(metrics))
      })
      (clock.take().map { case (_, ms) => run.op("batch", ms) }, taskCpu - cpu0)
    }
    def merge(out: String, kind: String): (Op, Long, Double, Long) = {
      val jobs0 = PerfbenchAccess.jobsSubmitted(run.sc)
      val (written, ms) = run.timed(run.call("StormSinks.mergeById") {
        StormSinks.mergeById(spark.read.parquet(s"$d/$out"), s"$d/lake")
      })
      (run.op(kind, ms, latency = false), written, ms, PerfbenchAccess.jobsSubmitted(run.sc) - jobs0)
    }
    val (batches, cpu) = drain(src, "out")
    val (mergeOp, written, mergeMs, mergeJobs) = merge("out", "merge")
    val (lateBatches, lateCpu) = drain(late, "late-out")
    val (replayOp, replayed, replayMs, replayJobs) = merge("late-out", "replay")
    val snap = metrics.snapshot.map { case (k, v) => k -> (v - snap0.getOrElse(k, 0L)) }
    // every well-formed record the drains emitted was offered to a merge
    Outcome(batches ++ lateBatches, mergeOp, replayOp, snap("rows_out"), written + replayed,
      replayed, mergeMs + replayMs, mergeJobs + replayJobs, cpu + lateCpu, snap)
  }

  /** One untimed full round compiles every plan of a round and JIT-warms
    * the path at full size (a pass over the late slice alone left round 0
    * about 30% slower than round 1). */
  def warmup(): Unit = {
    val d = s"${run.work}/storm/warm"
    run.round(-1, traced = false)(pass(d, backlog))
    outSchema = spark.read.parquet(s"$d/out").schema.add("event_date", StringType)
    FileUtils.deleteQuietly(new File(d))
  }

  /** Round 0's distinct rows of `dir` go to the DuckDB oracle, failing
    * the operations of `kinds` if they differ (a known defect fails
    * none); later rounds must reproduce round 0's digest of them. */
  private def checkRows(name: String, dir: String, kinds: Seq[String], ops: Seq[Op],
      knownDefect: Boolean = false): Unit = {
    val h = rowHash(dir)
    refHash.get(name) match {
      case None =>
        refHash(name) = h
        val check = s"${run.work}/check/$name"
        rows(dir).coalesce(1).write.parquet(check)
        run.oracles += Json.obj("name" -> name,
          "sql" -> graft.SparkEntry.oracleSql("storm_enrich"), "spark_dir" -> check,
          "views" -> Map("events" -> s"$in/events.parquet/*.parquet"), "fail_kinds" -> kinds,
          "known_defect" -> knownDefect)
      case Some(ref) => run.check(s"${name}_match_round0", h == ref,
        s"distinct rows $h vs round 0 $ref", ops)
    }
  }

  def round(idx: Int, traced: Boolean): Unit = run.round(idx, traced) {
    val d = s"${run.work}/storm/r$idx"
    val persisted0 = run.persisted()
    val o = pass(d, backlog)
    val residue = (run.persisted() -- persisted0).size
    run.addRows(delivered + lateDelivered)
    // output checks, outside every timer
    run.check("quarantine_count", o.snap("poison_pills") == poison &&
      o.snap("rows_in") == delivered + lateDelivered,
      s"quarantined ${o.snap("poison_pills")} of $poison planted; " +
        s"parsed ${o.snap("rows_in")} of ${delivered + lateDelivered} delivered", o.batches)
    val ids = read(s"$d/lake").agg(count(lit(1)), countDistinct(col("id"))).head()
    val dupIds = ids.getLong(0) - ids.getLong(1)
    run.knownDefect("lake_ids_unique", dupIds == 0,
      s"${ids.getLong(0)} lake rows, ${ids.getLong(1)} distinct ids")
    // enrichment and upsert checked apart: the stream output's distinct
    // rows gate the micro-batches; the lake must hold exactly those rows
    // apart from the two known defects, which the exact lake compare
    // reports without failing an operation
    checkRows("storm_enrich_stream", s"$d/out", Seq("batch"), o.batches)
    val (lake, stream) = (lakeRows(s"$d/lake"), rows(s"$d/out"))
    val (lakeH, streamH) = (rowHash(lake), rowHash(stream))
    run.check("lake_matches_stream", lakeH == streamH,
      s"distinct lake rows $lakeH vs stream output $streamH", Seq(o.merge))
    val offStream = rows(s"$d/lake").exceptAll(stream).count()
    checkRows("storm_enrich_lake", s"$d/lake", Nil, Seq(o.merge), knownDefect = true)
    run.check("replay_adds_zero", o.replayed == 0, s"replay merge added ${o.replayed} rows",
      Seq(o.replay))
    val (files, bytes) = Util.du(s"$d/lake")
    run.accumulate("storm.rows_in", o.snap("rows_in").toDouble)
    run.accumulate("storm.rows_out", o.snap("rows_out").toDouble)
    run.accumulate("storm.poison_rows", o.snap("poison_pills").toDouble)
    run.accumulate("sources.merge_ms", o.mergeMs)
    run.accumulate("sources.merge_jobs", o.mergeJobs.toDouble)
    run.accumulate("sources.lake_dup_ids", dupIds.toDouble)
    run.accumulate("sources.lake_rows_off_stream", offStream.toDouble)
    run.accumulate("sources.state_files", files.toDouble)
    run.accumulate("sources.state_bytes", bytes.toDouble)
    run.accumulate("materialize.residue", residue.toDouble)
    if (traced) {
      offered += o.offered; written += o.written
      drainCpuMs += o.drainCpuMs; tracedRows += delivered + lateDelivered
    }
    FileUtils.deleteQuietly(new File(d))
  }

  private var offered = 0L
  private var written = 0L
  private var drainCpuMs = 0.0
  private var tracedRows = 0L

  override def finish(): Unit = {
    run.layer("sources.merge_yield") = if (offered > 0) written.toDouble / offered else 0.0
    run.layer("storm.task_cpu_ms_per_krow") =
      if (tracedRows > 0) drainCpuMs / (tracedRows / 1000.0) else 0.0
    metrics.unregister()
    spark.streams.removeListener(clock)
  }
}
