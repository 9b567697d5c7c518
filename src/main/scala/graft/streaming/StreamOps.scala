package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicLongArray}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryListener, Trigger}
import scala.util.control.NonFatal
import graft.observability.Metrics

/** Streaming operational surface — the Spark-native equivalent of the
  * reference pipeline's run loop machinery:
  *
  *  - progress metrics: rows/sec + batch-size and batch-duration
  *    histograms (reference internal/observability/metrics.go:42-53),
  *    collected by a [[StreamingQueryListener]] — zero cost on the
  *    executors, the engine already publishes per-batch progress;
  *  - readiness: "first batch committed" (reference pipeline.go:55-60's
  *    ready-after-first-successful-batch signal);
  *  - restart-with-backoff supervision (pipeline.go:68-71,164-173):
  *    exponential backoff, capped attempts, at-least-once safe because
  *    sources are checkpointed and the file sink is idempotent;
  *  - the one way to start a face ([[startForeachBatch]],
  *    [[startParquetSink]]) and the one checkpoint-lineage guard
  *    ([[requireCheckpointMatchesState]]).
  */
object StreamOps {

  /** The micro-batch skeleton every foreachBatch face starts through:
    * `source` → foreachBatch → `body` inside [[graft.Materialize.scoped]]
    * → checkpoint `<checkpointDir>/<face>` → AvailableNow. The scope
    * frees every frame a batch materializes once its writes land (the
    * body must finish its terminal actions before returning), so block
    * residue stays flat over a 24/7 stream. */
  private[graft] def startForeachBatch(source: DataFrame, checkpointDir: String,
      face: String)(body: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Materialize.scoped(body(batch, batchId))
      }
      .option("checkpointLocation", s"$checkpointDir/$face")
      .trigger(Trigger.AvailableNow())
      .start()

  /** The parquet-sink skeleton for stream-native transforms: `out` →
    * append-mode parquet file sink at `outDir` → checkpoint
    * `<checkpointDir>/<face>` → AvailableNow. The file sink commits
    * each batch once, so source replays never duplicate rows. */
  private[graft] def startParquetSink(out: DataFrame, outDir: String,
      checkpointDir: String, face: String): StreamingQuery =
    out.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$checkpointDir/$face")
      .trigger(Trigger.AvailableNow())
      .start()

  /** The checkpoint-lineage guard, and the only code that lists a
    * checkpoint's offsets. A face's state (or output) is keyed to the
    * batch ids of the checkpoint it was written under; a checkpoint
    * with no committed offsets restarts them at 0. Hadoop-FS resolved
    * (a local file check would read every remote checkpoint as fresh)
    * and keyed on committed offsets, not directory existence (a
    * pre-created empty checkpoint is just as lineage-less).
    *
    * Rejects `stateUsed` (evaluated only against a fresh checkpoint)
    * beside a fresh checkpoint. With `lostAs` ("wiped", "republished")
    * it also rejects the inverse: committed offsets beside unused
    * state, where the file source never replays the processed input
    * and the state would undercount forever. `remedy` names the
    * face's way to start over. */
  private[graft] def requireCheckpointMatchesState(spark: SparkSession,
      checkpointDir: String, face: String, caller: String, state: String,
      stateUsed: => Boolean, remedy: String,
      lostAs: Option[String] = None): Unit = {
    val ckpt = s"$checkpointDir/$face"
    val offsets = new org.apache.hadoop.fs.Path(s"$ckpt/offsets")
    val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = !fs.exists(offsets) ||
      !fs.listStatus(offsets).exists(st => !st.getPath.getName.startsWith("."))
    if (fresh && stateUsed)
      throw new IllegalStateException(
        s"$caller: the state at $state is in use but the checkpoint at " +
          s"$ckpt is fresh (no committed offsets): batch ids would restart " +
          "at 0, out of line with the batch ids the state was written " +
          s"under. Restore the original checkpoint, or $remedy.")
    lostAs.foreach { how =>
      if (!fresh && !stateUsed)
        throw new IllegalStateException(
          s"$caller: the checkpoint at $ckpt has committed offsets but the " +
            s"state at $state has no committed batches: it was lost or " +
            s"$how, and already-processed input would never be replayed. " +
            "Restore the state, or start over with a fresh checkpoint.")
    }
  }

  /** Histogram bucket upper bounds (ms / rows). */
  val durationBucketsMs: Array[Long] = Array(10, 100, 1000, 10000, Long.MaxValue)
  val batchSizeBuckets: Array[Long] = Array(1, 100, 10000, 1000000, Long.MaxValue)

  /** Per-query progress rollup. Register with
    * `spark.streams.addListener(m)`; read counters any time. */
  final class StreamMetrics(metrics: Option[Metrics] = None)
      extends StreamingQueryListener {

    private val ready = new AtomicBoolean(false)
    private val batches = new AtomicLong(0)
    private val rows = new AtomicLong(0)
    private val totalDurationMs = new AtomicLong(0)
    private val durationHist = new AtomicLongArray(durationBucketsMs.length)
    private val sizeHist = new AtomicLongArray(batchSizeBuckets.length)

    /** Readiness = at least one batch committed (pipeline.go:55-60). */
    def isReady: Boolean = ready.get

    def snapshot: Map[String, Long] = {
      val d = (0 until durationHist.length())
        .map(i => s"batch_ms_le_${durationBucketsMs(i)}" -> durationHist.get(i))
      val s = (0 until sizeHist.length())
        .map(i => s"batch_rows_le_${batchSizeBuckets(i)}" -> sizeHist.get(i))
      (Map("batches" -> batches.get, "rows" -> rows.get,
        "total_duration_ms" -> totalDurationMs.get) ++ d ++ s)
    }

    /** Mean processing rate over all observed batches. */
    def rowsPerSec: Double = {
      val ms = totalDurationMs.get
      if (ms == 0) 0.0 else rows.get * 1000.0 / ms
    }

    private def bump(hist: AtomicLongArray, bounds: Array[Long], v: Long): Unit = {
      var i = 0
      while (bounds(i) < v) i += 1
      hist.incrementAndGet(i)
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.incrementAndGet()
      rows.addAndGet(p.numInputRows)
      totalDurationMs.addAndGet(p.batchDuration)
      bump(durationHist, durationBucketsMs, p.batchDuration)
      bump(sizeHist, batchSizeBuckets, p.numInputRows)
      ready.set(true)
      // roll per-batch observed parse counters into the shared Metrics
      metrics.foreach { m =>
        Option(p.observedMetrics.get(m.observationName)).foreach(m.record)
      }
    }
  }

  /** Supervise a streaming query with exponential-backoff restart
    * (pipeline.go:68-71,164-173). `start` must build a FRESH query each
    * attempt (same checkpoint dir → resume, not reprocess). Returns the
    * number of restarts performed; rethrows once `maxRestarts` is
    * exhausted. Safe under at-least-once: the source restarts from its
    * checkpointed offsets and the sink is idempotent per batch. */
  def runSupervised(start: () => StreamingQuery, maxRestarts: Int = 5,
      baseBackoffMs: Long = 100, maxBackoffMs: Long = 30000): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      try {
        start().awaitTermination()
        done = true
      } catch {
        case NonFatal(e) if restarts < maxRestarts =>
          val backoff = math.min(baseBackoffMs << restarts, maxBackoffMs)
          restarts += 1
          Thread.sleep(backoff)
        case e: StreamingQueryException => throw e
      }
    }
    restarts
  }

  /** Convenience: supervised enrichment run with metrics + readiness.
    * Returns (listener, restarts) after the AvailableNow query drains. */
  def runEnrichmentSupervised(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, metrics: Option[Metrics] = None): (StreamMetrics, Int) =
    withStreamMetrics(spark, metrics)(runSupervised(() =>
      StormStream.startEnrichmentFrom(StormStream.readWire(spark, inDir),
        outDir, checkpointDir, metrics)))

  /** Config-driven supervised run: paths, restart cap and backoff
    * bounds from [[graft.GraftConfig]] (the reference's env-loaded
    * `config.Load()` + `pipeline.go:68-71` backoff constants). */
  def runEnrichmentSupervised(spark: SparkSession, cfg: graft.GraftConfig,
      metrics: Option[Metrics]): (StreamMetrics, Int) =
    withStreamMetrics(spark, metrics)(runSupervised(() =>
      StormStream.startEnrichmentFrom(
        StormStream.readWire(spark, cfg.sourceDir, cfg.batchSize),
        cfg.sinkDir, cfg.checkpointDir, metrics),
      maxRestarts = cfg.maxRestarts,
      baseBackoffMs = cfg.backoffBaseMs, maxBackoffMs = cfg.backoffMaxMs))

  private def withStreamMetrics(spark: SparkSession, metrics: Option[Metrics])(
      run: => Int): (StreamMetrics, Int) = {
    val listener = new StreamMetrics(metrics)
    spark.streams.addListener(listener)
    try (listener, run)
    finally spark.streams.removeListener(listener)
  }
}
