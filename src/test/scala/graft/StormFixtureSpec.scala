package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.StormSources
import graft.storm.StormPipeline

/** End-to-end enrichment over an in-repo fixture in the NOAA storm
  * report wire shape (src/test/resources/storm_reports_240426.json):
  * hail, tornado and wind records with legacy hundredths hail sizes,
  * `UNK` magnitudes, HHMM times, dist/dir and bare-name locations and
  * trailing NWS office codes. Every expected number below comes from
  * DuckDB SQL over the same file that applies the reference transform
  * rules (tools/storm_fixture_counts.py), not from graft's output.
  *
  * The reference's mock generator ingests with a fixed base date of
  * 2024-04-26T00:00:00Z — mirrored here as the wire `ts`.
  */
class StormFixtureSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = getClass.getResource("/storm_reports_240426.json").getPath

  /** Fixture rows adapted to the wire-feed column contract. */
  private def feed: DataFrame =
    StormSources.rawJson(spark, fixture, multiLine = true)
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("ts", to_timestamp(lit("2024-04-26 00:00:00")))
      .select(
        col("event_id"), col("ts"),
        col("EventType").as("event_type"), col("Size").as("size"),
        col("F_Scale").as("f_scale"), col("Speed").as("speed"),
        col("Location").as("location"), col("County").as("county"),
        col("State").as("state"), col("Lat").as("lat"), col("Lon").as("lon"),
        col("Comments").as("comments"), col("Time").as("time"))

  private lazy val enriched = StormPipeline.enrich(feed).cache()

  test("fixture: 60 records, counts per type") {
    val counts = enriched.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("hail" -> 20L, "tornado" -> 25L, "wind" -> 15L))
  }

  test("fixture: magnitude-column shape per type (validate phase-2 rule)") {
    // hail reports all carry legacy hundredths sizes (>=10 raw -> /100);
    // tornado F_Scale is all UNK -> magnitude 0;
    // wind speeds are numeric mph or UNK
    val hail = enriched.where($"event_type" === "hail")
    assert(hail.where($"magnitude" <= 0 || $"magnitude" >= 10).count() == 0)
    assert(hail.where($"unit" =!= "in").count() == 0)
    val torn = enriched.where($"event_type" === "tornado")
    assert(torn.where($"magnitude" =!= 0.0).count() == 0)
    assert(torn.where($"unit" =!= "f_scale").count() == 0)
    assert(torn.where($"severity".isNotNull).count() == 0) // mag 0 -> null
    val wind = enriched.where($"event_type" === "wind")
    assert(wind.where($"unit" =!= "mph").count() == 0)
    assert(wind.where($"magnitude" < 0 || $"magnitude" > 200).count() == 0)
  }

  test("fixture: severity distribution matches reference transform semantics") {
    val sev = enriched.groupBy(coalesce($"severity", lit("none")).as("s")).count()
      .as[(String, Long)].collect().toMap
    assert(sev == Map("minor" -> 1L, "moderate" -> 16L, "severe" -> 10L, "extreme" -> 5L,
      "none" -> 28L))
    // cross-checks: 32 with severity, 20 with mag >= 1.75
    assert(enriched.where($"severity".isNotNull).count() == 32)
    assert(enriched.where($"magnitude" >= 1.75).count() == 20)
  }

  test("fixture: every comment carries a trailing NWS office code") {
    assert(enriched.where($"source_office" === "").count() == 0)
    assert(enriched.where(length($"source_office") < 3 || length($"source_office") > 5).count() == 0)
  }

  test("fixture: location parsing (39 dist/dir forms, 21 bare names)") {
    assert(enriched.where($"location_distance".isNotNull).count() == 39)
    assert(enriched.where($"location_distance".isNull && $"location_name" =!= "").count() == 21)
    // spot value from the first fixture row: "8 ESE Chappel"
    val r = enriched.where($"location_raw" === "8 ESE Chappel")
      .select("location_name", "location_distance", "location_direction").head()
    assert(r.getString(0) == "Chappel" && r.getDouble(1) == 8.0 && r.getString(2) == "ESE")
  }

  test("fixture: legacy HHMM times graft onto the 2024-04-26 ingest date") {
    assert(enriched.where(!$"event_time_str".startsWith("2024-04-2")).count() == 0)
    assert(enriched.where(substring($"time_bucket_str", 15, 5) =!= "00:00").count() == 0)
    val first = enriched.where($"location_raw" === "8 ESE Chappel").head()
    assert(first.getAs[String]("event_time_str") == "2024-04-26T15:10:00Z")
    assert(first.getAs[String]("time_bucket_str") == "2024-04-26T15:00:00Z")
  }

  test("fixture: IDs deterministic, type-prefixed, all 60 distinct; replay idempotent") {
    val ids = enriched.select("id", "event_type").as[(String, String)].collect()
    assert(ids.length == 60 && ids.map(_._1).distinct.length == 60)
    ids.foreach { case (id, t) => assert(id.startsWith(s"$t-"), s"$id missing $t- prefix") }
    // determinism: an independent second run produces identical IDs
    val again = StormPipeline.enrich(feed).select("id").as[String].collect().toSet
    assert(again == ids.map(_._1).toSet)
    // idempotency: at-least-once redelivery collapses on the ID
    val replayed = StormPipeline.enrich(feed.unionAll(feed))
      .select("id").distinct().count()
    assert(replayed == 60)
  }
}
