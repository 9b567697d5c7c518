package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.storm.{StormFeed, StormPipeline}
import graft.streaming.StormStream

/** Streaming enrichment (SURVEY §2 #16): file wire source → enrich →
  * parquet sink with checkpointed offsets; poison pills quarantined;
  * restart-with-checkpoint does not duplicate (file-sink exactly-once
  * on top of at-least-once source replay).
  */
class StormStreamSpec extends SparkSpec {

  test("stream enriches wire records, quarantines poison, replays idempotently") {
    val base = Files.createTempDirectory("graft-stream").toString
    val (inDir, outDir, qDir, cpDir) =
      (s"$base/in", s"$base/out", s"$base/quarantine", s"$base/cp")

    // wire records from the deterministic feed; every 97th payload truncated
    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, sfDir))
      .withColumn("raw_value",
        when(col("event_id") % 97 === 0, substring(col("raw_value"), 1, 10))
          .otherwise(col("raw_value")))
      .select(col("event_id"), col("ts"), col("raw_value"))
    wire.coalesce(2).write.mode("overwrite").json(inDir)
    val nTotal = wire.count()
    val nBad = wire.where(col("event_id") % 97 === 0).count()

    StormStream.startEnrichment(spark, inDir, outDir, cpDir).awaitTermination()
    StormStream.startQuarantine(spark, inDir, qDir, cpDir).awaitTermination()

    val out = spark.read.parquet(outDir)
    assert(out.count() == nTotal - nBad)
    assert(out.columns.contains("severity") && out.columns.contains("id"))
    assert(spark.read.parquet(qDir).count() == nBad)

    // restart with the same checkpoint: no new input -> no duplicates
    StormStream.startEnrichment(spark, inDir, outDir, cpDir).awaitTermination()
    assert(spark.read.parquet(outDir).count() == nTotal - nBad)

    // batch and stream enrichment agree row-for-row on the good records
    val batch = StormPipeline.enrich(
      StormPipeline.parseRawJson(wire).where(col("parse_ok")))
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty)
  }

  test("one out-of-range hex Lat drains like any record: its lat is 0.0") {
    // under ANSI the regex ParseFloat's exponent cast threw on this
    // value, failing the micro-batch and every supervised restart
    val base = Files.createTempDirectory("graft-hex-lat").toString
    val feed = StormFeed.feed(spark, sfDir)
    val victim = feed.agg(min(col("event_id"))).head.getLong(0)
    val wire = StormPipeline.toRawJson(feed.withColumn("lat",
        when(col("event_id") === victim, lit("0x1p99999999999")).otherwise(col("lat"))))
      .select(col("event_id"), col("ts"), col("raw_value"))
    wire.coalesce(1).write.json(s"$base/in")

    val (_, restarts) = graft.streaming.StreamOps.runEnrichmentSupervised(
      spark, s"$base/in", s"$base/out", s"$base/cp")
    assert(restarts == 0)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == wire.count())
    assert(out.where(col("event_id") === victim).select("lat").head.getDouble(0) == 0.0)
  }

  test("config-driven entry points: env-built config drives the same pipeline") {
    val base = Files.createTempDirectory("graft-cfg-stream").toString
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_SOURCE_DIR" -> s"$base/in",
      "GRAFT_SINK_DIR" -> s"$base/out",
      "GRAFT_QUARANTINE_DIR" -> s"$base/quarantine",
      "GRAFT_CHECKPOINT_DIR" -> s"$base/cp",
      "BATCH_SIZE" -> "4", // -> maxFilesPerTrigger
      "HTTP_ADDR" -> ":0")).toOption.get

    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, sfDir))
      .withColumn("raw_value",
        when(col("event_id") % 97 === 0, substring(col("raw_value"), 1, 10))
          .otherwise(col("raw_value")))
      .select(col("event_id"), col("ts"), col("raw_value"))
    wire.coalesce(2).write.mode("overwrite").json(cfg.sourceDir)
    val nBad = wire.where(col("event_id") % 97 === 0).count()
    val nTotal = wire.count()

    StormStream.startEnrichment(spark, cfg).awaitTermination()
    StormStream.startQuarantine(spark, cfg).awaitTermination()
    assert(spark.read.parquet(cfg.sinkDir).count() == nTotal - nBad)
    assert(spark.read.parquet(cfg.quarantineDir).count() == nBad)

    // the config-driven supervised run instruments the parse like the
    // path-driven one: its Metrics count every wire row and poison pill
    val m = new graft.observability.Metrics(spark)
    try {
      val supCfg = cfg.copy(sinkDir = s"$base/out-sup", checkpointDir = s"$base/cp-sup")
      graft.streaming.StreamOps.runEnrichmentSupervised(spark, supCfg, Some(m))
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      assert(m.snapshot("rows_in") == nTotal)
      assert(m.snapshot("poison_pills") == nBad)
      assert(spark.read.parquet(supCfg.sinkDir).count() == nTotal - nBad)
    } finally m.unregister()

    // the ops surface binds on the configured port (0 = ephemeral)
    val srv = graft.observability.OpsServer.start(cfg, () => true, () => Map("up" -> 1L))
    try {
      val url = new java.net.URI(s"http://localhost:${srv.port}/ready").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
    } finally srv.stop()
  }

  test("stateful streaming dedup: redelivered records collapse on the id") {
    val base = Files.createTempDirectory("graft-dedup-stream").toString
    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, sfDir))
      .select(col("event_id"), col("ts"), col("raw_value"))
    // the same batch written twice = at-least-once redelivery; two
    // files so duplicates can arrive in separate micro-batches
    wire.coalesce(1).write.mode("overwrite").json(s"$base/in")
    wire.coalesce(1).write.mode("append").json(s"$base/in")

    StormStream.startDedupedEnrichment(spark, s"$base/in", s"$base/out", s"$base/cp")
      .awaitTermination()

    val out = spark.read.parquet(s"$base/out")
    val distinctIds = StormPipeline.enrich(StormPipeline.parseRawJson(wire)
      .where(col("parse_ok"))).select("id").distinct().count()
    assert(out.select("id").distinct().count() == distinctIds)
    assert(out.count() == distinctIds, "stateful dedup leaked duplicate rows")
  }

  test("watermarked windowed aggregation: finalized windows match batch truth") {
    val base = Files.createTempDirectory("graft-windowed").toString
    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, sfDir))
      .select(col("event_id"), col("ts"), col("raw_value"))
    wire.coalesce(2).write.mode("overwrite").json(s"$base/in")

    StormStream.startWindowedCounts(spark, s"$base/in", s"$base/out", s"$base/cp")
      .awaitTermination()

    // batch truth over the same data
    val enrichedBatch = StormPipeline.enrich(
      StormPipeline.parseRawJson(wire).where(col("parse_ok")))
      .withColumn("event_time",
        to_timestamp(col("event_time_str"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val truth = enrichedBatch
      .groupBy(window(col("event_time"), "1 hour"),
        coalesce(col("severity"), lit("none")).as("severity"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("severity"), col("n"))
    val maxT = enrichedBatch.agg(max(col("event_time"))).head.getTimestamp(0)
    // append mode emits a window once the watermark (max event time -
    // lateness) passes its end: exactly the finalized subset
    val wmMillis = maxT.getTime - 3600 * 1000L
    val finalized = truth.where(
      (col("window_start").cast("long") + 3600) * 1000 <= wmMillis)
    val got = spark.read.parquet(s"$base/out")
    assert(got.count() > 0, "no finalized windows emitted")
    assert(got.exceptAll(finalized).isEmpty && finalized.exceptAll(got).isEmpty)
    // bounded state: the open tail windows are withheld, not leaked
    assert(got.count() < truth.count())
  }

  test("supervised run: restart-with-backoff, readiness, progress metrics") {
    import graft.observability.Metrics
    import graft.streaming.StreamOps

    val base = Files.createTempDirectory("graft-supervised").toString
    val wire = StormPipeline.toRawJson(StormFeed.feed(spark, sfDir))
      .withColumn("raw_value",
        when(col("event_id") % 97 === 0, substring(col("raw_value"), 1, 10))
          .otherwise(col("raw_value")))
      .select(col("event_id"), col("ts"), col("raw_value"))
    wire.coalesce(2).write.mode("overwrite").json(s"$base/in")
    val nTotal = wire.count()
    val nBad = wire.where(col("event_id") % 97 === 0).count()

    val m = new Metrics(spark)
    val listener = new StreamOps.StreamMetrics(Some(m))
    spark.streams.addListener(listener)
    assert(!listener.isReady) // not ready before the first committed batch

    // first attempt dies before starting; the supervisor backs off and retries
    var attempts = 0
    val restarts = StreamOps.runSupervised({ () =>
      attempts += 1
      if (attempts == 1) throw new RuntimeException("transient source failure")
      StormStream.startEnrichment(spark, s"$base/in", s"$base/out", s"$base/cp", Some(m))
    }, maxRestarts = 3, baseBackoffMs = 1)
    assert(restarts == 1 && attempts == 2)

    // drain listener-bus deliveries, then check readiness + rollups
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    assert(listener.isReady)
    val snap = listener.snapshot
    assert(snap("batches") >= 1)
    assert(snap("rows") == nTotal)
    assert(listener.rowsPerSec > 0)
    // duration histogram: every batch landed in exactly one bucket
    assert(StreamOps.durationBucketsMs.map(b => snap(s"batch_ms_le_$b")).sum == snap("batches"))
    // per-batch observed parse counters rolled into the shared Metrics
    assert(m.snapshot("rows_in") == nTotal)
    assert(m.snapshot("poison_pills") == nBad)
    assert(spark.read.parquet(s"$base/out").count() == nTotal - nBad)

    spark.streams.removeListener(listener)
    m.unregister()
  }
}
