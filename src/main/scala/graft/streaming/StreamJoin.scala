package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Stream-stream interval join (SURVEY §2 #67): purchases matched to
  * the same user's clicks at most `maxLagSec` earlier — Structured
  * Streaming's two-sided stateful join with bounded state.
  *
  * Both sides are watermarked and the join condition bounds click_ts
  * to [purchase_ts − maxLag, purchase_ts], so the engine can evict a
  * buffered click once the purchase-side watermark passes click_ts +
  * maxLag: state is O(watermark window × arrival rate), not
  * O(stream). Inner joins emit eagerly on match; the watermark delay
  * is the lateness budget — rows later than it MAY be dropped, which
  * is the documented bounded-state trade. The transform is
  * batch==stream (withWatermark is a no-op on static frames);
  * StreamJoinSpec runs it both ways with a delay wider than the data's
  * disorder and asserts row-identical results.
  */
object StreamJoin {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The batch==stream interval-join transform. `delay` is the
    * watermark (lateness budget / state-eviction horizon). */
  def joined(clicks: DataFrame, purchases: DataFrame, maxLagSec: Int,
      delay: String = "10 minutes"): DataFrame = {
    require(maxLagSec > 0, s"maxLagSec must be positive, got $maxLagSec")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    p.join(c, expr(
        s"p_user = c_user AND click_ts <= purchase_ts AND " +
          s"click_ts >= purchase_ts - interval $maxLagSec seconds"))
      .select(col("p_user").as("user_id"), col("event_id"),
        col("purchase_ts"), col("click_ts"), col("click_value"))
  }

  def readEvents(spark: SparkSession, inDir: String,
      maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)

  /** Start the joined sink: one events directory read as two filtered
    * streams. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxLagSec: Int, delay: String): StreamingQuery =
    StreamOps.startParquetSink(joined(
        readEvents(spark, inDir).where(col("event_type") === "click"),
        readEvents(spark, inDir).where(col("event_type") === "purchase"),
        maxLagSec, delay), outDir, checkpointDir, "join")
}
