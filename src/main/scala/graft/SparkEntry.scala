package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One query key: the Spark query over an sf directory and
  * the ANSI SQL that DuckDB runs on the same parquet tables to replay
  * it. A key cannot exist without its oracle. */
final case class QueryKey(spark: (SparkSession, String) => DataFrame, oracle: String)

/** The query contract (SURVEY.md §7). Every key lives in the query
  * family beside the operator it exercises; adding a key is one entry
  * in its family's `keys`. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full storm-enrichment pipeline (SURVEY §2 #10). */
  def entry(spark: SparkSession): DataFrame =
    queries("storm_enrich")(spark, "/root/testdata/sf0.001")

  /** The query families, each owning its keys' Spark bodies and oracles. */
  private[graft] lazy val families: Seq[Seq[(String, QueryKey)]] = Seq(
    graft.analytics.Analytics.keys,
    graft.storm.StormQueries.keys,
    graft.operators.DedupQueries.keys,
    graft.operators.EmbeddingQueries.keys,
    graft.operators.TextQueries.keys,
    graft.operators.CurationQueries.keys,
    graft.operators.PretrainQueries.keys,
    graft.operators.SamplingQueries.keys,
    graft.operators.RetrievalQueries.keys,
    graft.operators.MultimodalQueries.keys)

  private lazy val all: Map[String, QueryKey] = families.flatten.toMap

  /** One per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.spark }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = all.map { case (k, q) => k -> q.oracle }
}
