package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed accessors for the driver-generated parquet tables.
  *
  * Explicit one-parquet-per-table layout (see /root/repo/TESTDATA.md).
  * At 100 TB these would be partitioned directories; `spark.read.parquet`
  * handles both transparently and Catalyst prunes partitions/columns.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped under two physical encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (reads as long nanos behind
    * spark.sql.legacy.parquet.nanosAsLong, set once in GraftSession) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (reads as
    * TIMESTAMP_NTZ). Normalize both to a session-UTC TimestampType so
    * every downstream query sees one stable type:
    *  - long nanos → truncate to micros in integer arithmetic (ns epochs
    *    exceed double's 2^53 mantissa) → timestamp_micros;
    *  - TIMESTAMP_NTZ → cast (wall-clock preserving; session tz is UTC,
    *    matching DuckDB's naive-TIMESTAMP reading on the oracle side);
    *  - already TimestampType → pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Row count of table `name` under `d`, memoized per (dir, table):
    * one scan per JVM instead of one per caller. The production
    * analogue is reading table statistics, not scanning: immutable
    * testdata makes the memo exact here. */
  private val rowCounts = scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  def rowCount(s: SparkSession, d: String, name: String): Long =
    rowCounts.getOrElseUpdate((d, name), load(s, d, name).count())
}
