package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.storm.StormPipeline

/** Structured-Streaming enrichment (SURVEY §2 #16) — the Spark-native
  * equivalent of the reference's Kafka consume → transform → produce
  * loop (/root/reference/internal/pipeline, cmd/etl).
  *
  * Kafka topic → file/any streaming source of (event_id, ts, raw_value)
  * wire records; commit-after-load at-least-once → checkpointed source
  * offsets + idempotent sink (the deterministic event ID makes replays
  * collapse downstream, exactly like the reference's upsert key).
  * Poison pills are filtered into a quarantine sink, never fatal.
  *
  * The enrichment itself is the SAME `StormPipeline.enrich` Column
  * pipeline as batch — a narrow map, so it attaches to a stream with
  * zero changes: one definition, two execution modes.
  */
object StormStream {

  /** Wire schema: source envelope + opaque JSON payload (Kafka-like). */
  val wireSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("raw_value", StringType)))

  /** File-source stream of wire records (JSON lines, one per record).
    * `maxFilesPerTrigger` bounds micro-batch size for steady progress. */
  def readWire(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(wireSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)

  /** Parsed wire stream: adds parse_ok + feed columns. */
  def parsed(wire: DataFrame): DataFrame = StormPipeline.parseRawJson(wire)

  /** Enriched stream of well-formed records. */
  def enriched(wire: DataFrame): DataFrame = {
    val p = parsed(wire)
    StormPipeline.enrich(p.where(col("parse_ok")))
  }

  /** Watermarked hourly severity counts over the enriched stream —
    * the canonical windowed streaming aggregation: event-time windows,
    * late data admitted up to `lateness`, state evicted past the
    * watermark (bounded state at any stream length — the property that
    * matters on an unbounded 100 TB/day feed). Append output mode
    * emits each window once, when the watermark passes it. */
  def windowedSeverityCounts(wire: DataFrame, lateness: String = "1 hour"): DataFrame =
    enriched(wire)
      .withColumn("event_time",
        to_timestamp(col("event_time_str"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), "1 hour"),
        coalesce(col("severity"), lit("none")).as("severity"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("severity"), col("n"))

  /** Start the windowed-aggregate sink (append mode — requires the
    * watermark above; finalized windows only). */
  def startWindowedCounts(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamOps.startParquetSink(windowedSeverityCounts(readWire(spark, inDir)),
      outDir, checkpointDir, "windowed")

  /** Quarantined poison pills: envelope + raw payload, counted not fatal. */
  def quarantined(wire: DataFrame): DataFrame =
    parsed(wire).where(!col("parse_ok")).select(col("event_id"), col("ts"))

  /** Start the enrichment sink (at-least-once from the source's
    * perspective, exactly-once to the file sink). With `metrics`, the
    * parsed stream carries an observe() node whose per-batch counters
    * surface in StreamingQueryProgress (rolled up by
    * StreamOps.StreamMetrics). */
  def startEnrichment(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String,
      metrics: Option[graft.observability.Metrics] = None): StreamingQuery =
    startEnrichmentFrom(readWire(spark, inDir), outDir, checkpointDir, metrics)

  /** The one enrichment body behind the path and config entry points. */
  private[streaming] def startEnrichmentFrom(wire: DataFrame, outDir: String,
      checkpointDir: String,
      metrics: Option[graft.observability.Metrics]): StreamingQuery = {
    val p = parsed(wire)
    val instrumented = metrics.map(_.instrumentParsed(p)).getOrElse(p)
    StreamOps.startParquetSink(
      StormPipeline.enrich(instrumented.where(col("parse_ok"))),
      outDir, checkpointDir, "enriched")
  }

  /** Enrichment with STATEFUL streaming dedup on the deterministic
    * event ID: `dropDuplicatesWithinWatermark` keeps id-keyed state
    * only until the watermark passes (bounded state on an unbounded
    * at-least-once feed — redeliveries inside the lateness horizon are
    * dropped in-stream; later ones collapse at the idempotent sink /
    * StormSinks.mergeById, same as the reference's DB upsert). */
  def startDedupedEnrichment(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, lateness: String = "1 hour"): StreamingQuery =
    StreamOps.startParquetSink(enriched(readWire(spark, inDir))
      .withColumn("event_time",
        to_timestamp(col("event_time_str"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("id")
      .drop("event_time"), outDir, checkpointDir, "deduped")

  /** Config-driven enrichment entry point: paths, micro-batch size
    * (`BATCH_SIZE` → maxFilesPerTrigger) and checkpoint root all from
    * [[graft.GraftConfig]] — the reference's env-configured startup
    * (`cmd/etl/main.go:20-33`) for the file-mode deployment. */
  def startEnrichment(spark: SparkSession, cfg: graft.GraftConfig): StreamingQuery =
    startEnrichmentFrom(readWire(spark, cfg.sourceDir, cfg.batchSize),
      cfg.sinkDir, cfg.checkpointDir, metrics = None)

  /** Config-driven quarantine sink (same env surface). */
  def startQuarantine(spark: SparkSession, cfg: graft.GraftConfig): StreamingQuery =
    startQuarantine(spark, cfg.sourceDir, cfg.quarantineDir, cfg.checkpointDir)

  /** Start the quarantine sink. */
  def startQuarantine(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamOps.startParquetSink(quarantined(readWire(spark, inDir)), outDir,
      checkpointDir, "quarantine")
}
