package graft.storm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import StormPipeline._

/** Driver-facing storm queries (SURVEY.md §2 #1-15) and their DuckDB
  * oracles. The oracle replays the same enrichment semantics in SQL
  * over the shared feed adapter (StormFeed.adapterSql).
  */
object StormQueries {

  private def enriched(spark: SparkSession, dir: String): DataFrame =
    enrich(StormFeed.feed(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // JSON wire roundtrip + parse stage (ParseRawEvent equivalent)
    "storm_parse" -> ((s, d) => {
      val parsed = parseRawJson(toRawJson(StormFeed.feed(s, d)))
      parsed.select(
        col("event_id"), col("event_type"),
        StormFunctions.magnitudeRaw(col("event_type"), col("size"), col("f_scale"), col("speed")).as("magnitude_raw"),
        StormFunctions.parseFloatOrZero(col("lat")).as("lat"),
        StormFunctions.parseFloatOrZero(col("lon")).as("lon"),
        col("time").as("time_raw"))
        .orderBy(col("event_id"))
    }),
    "storm_unit" -> ((s, d) => enriched(s, d)
      .select(col("event_id"), col("event_type"), col("unit")).orderBy(col("event_id"))),
    "storm_magnitude" -> ((s, d) => {
      val f = StormFeed.feed(s, d)
      val magRaw = StormFunctions.magnitudeRaw(col("event_type"), col("size"), col("f_scale"), col("speed"))
      val etype = StormFunctions.normalizeEventType(col("event_type"))
      val unit = StormFunctions.normalizeUnit(etype, lit(""))
      f.select(col("event_id"), magRaw.as("magnitude_raw"),
          StormFunctions.normalizeMagnitude(etype, magRaw, unit).as("magnitude"))
        .orderBy(col("event_id"))
    }),
    "storm_severity" -> ((s, d) => enriched(s, d)
      .select(col("event_id"), col("event_type"), col("magnitude"), col("severity"))
      .orderBy(col("event_id"))),
    "storm_office" -> ((s, d) => enriched(s, d)
      .select(col("event_id"), col("source_office")).orderBy(col("event_id"))),
    "storm_location" -> ((s, d) => enriched(s, d)
      .select(col("event_id"), col("location_raw"), col("location_name"),
        col("location_distance"), col("location_direction"))
      .orderBy(col("event_id"))),
    "storm_timebucket" -> ((s, d) => enriched(s, d)
      .select(col("event_id"), col("event_time_str"), col("time_bucket_str"))
      .orderBy(col("event_id"))),
    "storm_id" -> ((s, d) => enriched(s, d)
      .select(col("event_id"), col("id")).orderBy(col("event_id"))),
    // flagship: the full pipeline
    "storm_enrich" -> ((s, d) => enriched(s, d).orderBy(col("event_id"))),
    // replayed (at-least-once redelivery) feed -> dedup by deterministic id.
    // Only the dedup key + grouping column ride the shuffle: at 100 TB,
    // dropDuplicates over the full 17-column enriched row would shuffle
    // the whole dataset; pruning first shuffles 2 columns.
    // The redelivery itself is an explode-duplication AFTER the feed
    // adapter (r19-opt): `f.unionAll(f)` re-rendered the synthetic wire
    // strings from the events scan twice, where redelivery means the
    // same wire record ARRIVES twice — every delivered copy still runs
    // the full enrichment and the id dedup (the workload the key
    // exercises), but the fixture's feed synthesis runs once.
    "storm_dedup" -> ((s, d) => {
      val f = StormFeed.feed(s, d)
      val redelivered = f
        .withColumn("__copy", explode(array(lit(1), lit(2)))).drop("__copy")
      // count(DISTINCT id) per type — the oracle's own form. The former
      // dropDuplicates("id") carried event_type through a first()
      // aggregate, whose string buffer forces a SORT-based aggregate
      // (HashAggregate needs fixed-width buffers): the doubled feed was
      // sorted by the sha-hex id before the exchange. Pure grouping
      // hash-aggregates map-side instead; id determines event_type (the
      // id hashes the raw type), so the counts are identical (r19-opt).
      enrich(redelivered)
        .select(col("id"), col("event_type"))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("id")).as("n_unique"))
        .orderBy(col("event_type"))
    }),
    // poison pills: malformed payloads quarantined, never fatal
    "storm_poison" -> ((s, d) => {
      val withJson = toRawJson(StormFeed.feed(s, d))
        .withColumn("raw_value",
          when(col("event_id") % 97 === 0, substring(col("raw_value"), 1, 10))
            .otherwise(col("raw_value")))
      parseRawJson(withJson).agg(
        count(lit(1)).as("n_total"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("n_bad"))
    }),
    // cmd/validate equivalent: integrity counters over the enriched set
    "storm_validate" -> ((s, d) => enriched(s, d).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("event_type") === "", 1L).otherwise(0L)).as("n_invalid_type"),
      sum(when(col("severity").isNull, 1L).otherwise(0L)).as("n_no_severity"),
      sum(when(col("source_office") =!= "", 1L).otherwise(0L)).as("n_with_office"),
      sum(when(col("location_distance").isNotNull, 1L).otherwise(0L)).as("n_loc_parsed"),
      countDistinct(col("id")).as("n_unique_ids"))),
    // cmd/validate phases 3+4 equivalent (main.go:352-541): re-run the
    // transformation through an INDEPENDENT path (JSON wire-serde
    // roundtrip -> parse -> enrich), join on the envelope id, and
    // field-compare every enriched column (float tolerance 1e-9 like
    // the reference's floatEq); plus the GraphQL-schema enum/required
    // checks over the direct output. One joined pass, counters out —
    // the per-record compare is a DataFrame join at any scale.
    "storm_validate2" -> ((s, d) => {
      val f = StormFeed.feed(s, d)
      val direct = enrich(f)
      val rt = enrich(parseRawJson(toRawJson(f)).where(col("parse_ok")))
      val floatCols = Set("magnitude", "lat", "lon", "location_distance")
      val cmpCols = direct.columns.filterNot(_ == "event_id").toSeq
      val eq = cmpCols.map { c =>
        val (a, b) = (col(s"a.$c"), col(s"b.$c"))
        if (floatCols(c)) (a <=> b) || (abs(a - b) < 1e-9) else a <=> b
      }.reduce(_ && _)
      val a = direct.alias("a")
      a.join(rt.alias("b"), "event_id")
        .agg(
          count(lit(1)).as("n_joined"),
          sum(when(eq, 0L).otherwise(1L)).as("n_mismatch"),
          // schema alignment (validate main.go:467-541) on the direct path
          sum(when(col("a.event_type") === "", 1L).otherwise(0L)).as("n_empty_type"),
          sum(when(!col("a.unit").isin("in", "mph", "f_scale") && col("a.unit") =!= "", 1L)
            .otherwise(0L)).as("n_bad_unit"),
          sum(when(col("a.severity").isNotNull &&
            !col("a.severity").isin("minor", "moderate", "severe", "extreme"), 1L)
            .otherwise(0L)).as("n_bad_severity"),
          sum(when(col("a.event_type") =!= "" &&
            !col("a.id").startsWith(concat(col("a.event_type"), lit("-"))), 1L)
            .otherwise(0L)).as("n_bad_id_prefix"),
          sum(when((col("a.magnitude") > 0) =!= col("a.severity").isNotNull, 1L)
            .otherwise(0L)).as("n_mag_sev_incoherent"),
          sum(when(length(col("a.state")) =!= 2, 1L).otherwise(0L)).as("n_bad_state"),
          sum(when(col("a.location_name") === "", 1L).otherwise(0L)).as("n_empty_location"),
          sum(when(col("a.lat") === 0.0 && col("a.lon") === 0.0, 1L).otherwise(0L)).as("n_zero_geo"),
          sum(when(col("a.event_time_str").isNull || col("a.time_bucket_str").isNull, 1L)
            .otherwise(0L)).as("n_missing_time"))
    }),
    // downstream-API style severity rollup per hour bucket dimension
    "storm_rollup" -> ((s, d) => enriched(s, d)
      .groupBy(col("event_type"), coalesce(col("severity"), lit("none")).as("severity"))
      .agg(count(lit(1)).as("n"),
        sum(col("magnitude").cast("decimal(18,4)")).cast("double").as("sum_magnitude"))
      .orderBy(col("event_type"), col("severity"))),
    // geo-grid rollup: storm activity per 0.5-degree cell — the map
    // view a downstream severity dashboard renders. floor(coord*2) is
    // the integer cell id (bit-identical across engines); one
    // partial-aggregated shuffle over (cell, type).
    "storm_geo" -> ((s, d) => enriched(s, d)
      .where(col("event_type") =!= "")
      .groupBy(
        floor(col("lat") * 2).cast("long").as("cell_lat"),
        floor(col("lon") * 2).cast("long").as("cell_lon"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("magnitude").cast("decimal(18,4)")).cast("double").as("sum_magnitude"))
      .orderBy(col("cell_lat"), col("cell_lon"), col("event_type"))),
    // 84: spatial neighborhood self-join — event pairs within 0.02°
    // L∞ (duplicate-report collapse / co-located storm activity).
    // Grid-bucketed (9-cell probe, one hash equi-join on the cell id —
    // no nested loop); the oracle is the naive band theta join, equal
    // because the grid candidate rule is lossless.
    "storm_neighbors" -> ((s, d) => {
      val ev = enriched(s, d).where(col("event_type") =!= "")
        .select(col("event_id"), col("lat"), col("lon"))
      graft.operators.Joins.spatialNeighborPairs(ev,
          col("event_id"), col("lat"), col("lon"), radiusMicroDeg = 20000L)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // cmd/genmock equivalent: deterministic synthetic storm records
    "storm_genmock" -> ((s, d) => {
      val i = col("id")
      val etype = when(i % 3 === 0, "hail").when(i % 3 === 1, "wind").otherwise("tornado")
      val state = when(i % 5 === 0, "TX").when(i % 5 === 1, "OK")
        .when(i % 5 === 2, "KS").when(i % 5 === 3, "NE").otherwise("IA")
      val mag = ((i * 37) % 500).cast("double") / 10.0
      val lat = lit(28.0) + (i % 1000).cast("double") * 0.01
      val lon = lit(-110.0) + (i % 2000).cast("double") * 0.01
      val timeStr = format_string("%04d-%02d-%02dT%02d:%02d:00Z",
        lit(2024), lit(4), lit(26), (i * 7) % 24, (i * 13) % 60)
      s.range(0, 500).select(
        i.as("mock_id"), etype.as("event_type"), mag.as("magnitude"),
        state.as("state"), timeStr.as("time_str"),
        StormFunctions.generateId(etype, state, lat, lon, timeStr, mag).as("gen_id"))
        .orderBy(col("mock_id"))
    }))

  // ---------------------------------------------------------------- oracle

  private val A = StormFeed.adapterSql
  // the Go grammar the Spark kernel gates on, one definition
  private val NUM = graft.expressions.Kernels.DecimalFloatRe
  private val HEX = graft.expressions.Kernels.HexFloatRe
  private val INF = graft.expressions.Kernels.InfRe
  private val LOC = "^([0-9]+(?:\\.[0-9]+)?)\\s+([NSEW]{1,3})\\s+(.+)$"

  /** ParseFloat-or-zero over an already-trimmed SQL expression —
    * DuckDB mirror of Kernels.lenientDouble, Go grammar
    * included: underscores stripped after the validity check, hex
    * floats as ±(int++frac hex digits) · 2^(p − 4·|frac|), and
    * value-overflow (±Inf, Go ErrRange) mapped to 0 like the
    * reference's err != nil branch. */
  private def lenient(x: String): String = {
    val clean = s"replace($x, '_', '')"
    val b = s"replace(regexp_replace($x, '^[+-]', ''), '_', '')"
    val ip = s"regexp_extract($b, '^0[xX]([0-9a-fA-F]*)', 1)"
    val fp = s"regexp_extract($b, '^0[xX][0-9a-fA-F]*\\.([0-9a-fA-F]*)', 1)"
    val ex = s"TRY_CAST(regexp_extract($b, '[pP]([+-]?[0-9]+)$$', 1) AS INT)"
    // mantissas beyond 16 SIGNIFICANT hex digits map to 0.0 on BOTH
    // engines (the shared cutoff Kernels.lenientDouble documents):
    // a plain CAST to UBIGINT would THROW on the 17th digit — crashing
    // the oracle run where Spark's conv would truncate — so the length
    // guard plus TRY_CAST make the two engines degrade identically by
    // construction. Leading zeros are stripped before both the guard
    // and the cast (as the kernel does): they don't consume the
    // 64-bit window, so '0x00000000000000001p0' parses 1.0 like Go.
    // an ALL-zero mantissa strips to '' — TRY_CAST('0x') would yield
    // NULL -> 0.0 here while Spark still computes sign * 0 = -0.0 for
    // "-0x0p0" (Go's ParseFloat also returns -0.0); coalescing the
    // empty significand to '0' keeps the signed-zero on both engines
    val sig = s"COALESCE(NULLIF(regexp_replace($ip || $fp, '^0+', ''), ''), '0')"
    val hv = s"(CASE WHEN $x LIKE '-%' THEN -1.0 ELSE 1.0 END) * " +
      s"CAST(TRY_CAST(('0x' || $sig) AS UBIGINT) AS DOUBLE) * " +
      s"pow(2.0, $ex - 4 * length($fp))"
    s"""CASE WHEN regexp_matches($x, '$NUM') THEN
       |       (CASE WHEN isinf(TRY_CAST($clean AS DOUBLE)) THEN 0.0
       |             ELSE COALESCE(TRY_CAST($clean AS DOUBLE), 0.0) END)
       |     WHEN regexp_matches($x, '$HEX') THEN
       |       (CASE WHEN length($sig) > 16 THEN 0.0
       |             WHEN $hv IS NULL OR isinf($hv) THEN 0.0 ELSE $hv END)
       |     WHEN regexp_matches(lower($x), '$INF') OR lower($x) = 'nan'
       |       THEN COALESCE(TRY_CAST($x AS DOUBLE), 0.0)
       |     ELSE 0.0 END""".stripMargin
  }

  /** Shared enrichment CTE chain in DuckDB SQL, mirroring StormPipeline. */
  private val EN: String = s"""
WITH raw AS ($A),
p2 AS (
  SELECT raw.*,
    CASE event_type WHEN 'hail' THEN size WHEN 'tornado' THEN f_scale
         WHEN 'wind' THEN speed ELSE NULL END AS mag_sel
  FROM raw
),
p2b AS (
  SELECT p2.*,
    regexp_replace(regexp_replace(trim(mag_sel), '^EF', ''), '^F', '') AS mag_stripped
  FROM p2
),
p3 AS (
  SELECT p2b.*,
    CASE WHEN mag_sel IS NULL OR trim(mag_sel) = '' OR upper(trim(mag_sel)) = 'UNK' THEN 0.0
         ELSE ${lenient("mag_stripped")} END AS mag_raw,
    ${lenient("trim(lat)")} AS lat_d,
    ${lenient("trim(lon)")} AS lon_d,
    CASE WHEN event_type IN ('hail','wind','tornado') THEN event_type ELSE '' END AS etype,
    CASE WHEN trim(time) = '' THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
         WHEN regexp_matches(trim(time), '^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}Z$$') THEN trim(time)
         WHEN regexp_matches(trim(time), '^[0-9]{3,4}$$')
              AND TRY_CAST(substr(lpad(trim(time),4,'0'),1,2) AS INT) <= 23
              AND TRY_CAST(substr(lpad(trim(time),4,'0'),3,2) AS INT) <= 59
           THEN strftime(ts, '%Y-%m-%dT') || substr(lpad(trim(time),4,'0'),1,2) || ':' || substr(lpad(trim(time),4,'0'),3,2) || ':00Z'
         ELSE strftime(ts, '%Y-%m-%dT%H:%M:%SZ') END AS event_time_str
  FROM p2b
),
p4 AS (
  SELECT p3.*,
    CASE etype WHEN 'hail' THEN 'in' WHEN 'wind' THEN 'mph'
         WHEN 'tornado' THEN 'f_scale' ELSE '' END AS unit
  FROM p3
),
p5 AS (
  SELECT p4.*,
    CASE WHEN mag_raw = 0 THEN 0.0
         WHEN etype = 'hail' AND unit = 'in' AND mag_raw >= 10 THEN mag_raw / 100.0
         ELSE mag_raw END AS magnitude
  FROM p4
),
en AS (
  SELECT p5.*,
    CASE WHEN magnitude = 0 THEN NULL
         WHEN etype = 'hail' THEN (CASE WHEN magnitude < 0.75 THEN 'minor' WHEN magnitude < 1.5 THEN 'moderate' WHEN magnitude < 2.5 THEN 'severe' ELSE 'extreme' END)
         WHEN etype = 'wind' THEN (CASE WHEN magnitude < 50 THEN 'minor' WHEN magnitude < 74 THEN 'moderate' WHEN magnitude < 96 THEN 'severe' ELSE 'extreme' END)
         WHEN etype = 'tornado' THEN (CASE WHEN magnitude <= 1 THEN 'minor' WHEN magnitude = 2 THEN 'moderate' WHEN magnitude <= 4 THEN 'severe' ELSE 'extreme' END)
         ELSE NULL END AS severity,
    regexp_extract(trim(comments), '\\(([A-Z]{3,5})\\)\\s*$$', 1) AS source_office,
    CASE WHEN trim(location) = '' THEN ''
         WHEN regexp_matches(trim(location), '$LOC') THEN trim(regexp_extract(trim(location), '$LOC', 3))
         ELSE trim(location) END AS location_name,
    CASE WHEN regexp_matches(trim(location), '$LOC') THEN CAST(regexp_extract(trim(location), '$LOC', 1) AS DOUBLE) ELSE NULL END AS location_distance,
    CASE WHEN regexp_matches(trim(location), '$LOC') THEN regexp_extract(trim(location), '$LOC', 2) ELSE NULL END AS location_direction,
    substr(event_time_str, 1, 13) || ':00:00Z' AS time_bucket_str,
    CASE WHEN event_type = '' THEN substr(sha256(event_type || '|' || state || '|' || printf('%.4f', lat_d) || '|' || printf('%.4f', lon_d) || '|' || time || '|' || printf('%.2f', mag_raw)), 1, 16)
         ELSE event_type || '-' || substr(sha256(event_type || '|' || state || '|' || printf('%.4f', lat_d) || '|' || printf('%.4f', lon_d) || '|' || time || '|' || printf('%.2f', mag_raw)), 1, 16) END AS id
  FROM p5
)"""

  val oracleSql: Map[String, String] = Map(
    "storm_parse" ->
      s"""$EN SELECT event_id, event_type, mag_raw AS magnitude_raw,
         |lat_d AS lat, lon_d AS lon, time AS time_raw
         |FROM en ORDER BY event_id""".stripMargin,
    "storm_unit" ->
      s"$EN SELECT event_id, etype AS event_type, unit FROM en ORDER BY event_id",
    "storm_magnitude" ->
      s"$EN SELECT event_id, mag_raw AS magnitude_raw, magnitude FROM en ORDER BY event_id",
    "storm_severity" ->
      s"$EN SELECT event_id, etype AS event_type, magnitude, severity FROM en ORDER BY event_id",
    "storm_office" ->
      s"$EN SELECT event_id, source_office FROM en ORDER BY event_id",
    "storm_location" ->
      s"""$EN SELECT event_id, location AS location_raw, location_name,
         |location_distance, location_direction FROM en ORDER BY event_id""".stripMargin,
    "storm_timebucket" ->
      s"$EN SELECT event_id, event_time_str, time_bucket_str FROM en ORDER BY event_id",
    "storm_id" ->
      s"$EN SELECT event_id, id FROM en ORDER BY event_id",
    "storm_enrich" ->
      s"""$EN SELECT event_id, id, etype AS event_type, lat_d AS lat, lon_d AS lon,
         |magnitude, unit, severity, event_time_str, time_bucket_str, source_office,
         |location AS location_raw, location_name, location_distance, location_direction,
         |state, county
         |FROM en ORDER BY event_id""".stripMargin,
    "storm_dedup" ->
      s"""$EN SELECT etype AS event_type, count(DISTINCT id) AS n_unique
         |FROM en GROUP BY etype ORDER BY etype""".stripMargin,
    "storm_poison" ->
      """SELECT count(*) AS n_total,
        |  CAST(sum(CASE WHEN event_id % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
        |  CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        |FROM events""".stripMargin,
    "storm_validate" ->
      s"""$EN SELECT count(*) AS n_rows,
         |  CAST(sum(CASE WHEN etype = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid_type,
         |  CAST(sum(CASE WHEN severity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_severity,
         |  CAST(sum(CASE WHEN source_office <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_office,
         |  CAST(sum(CASE WHEN location_distance IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_loc_parsed,
         |  count(DISTINCT id) AS n_unique_ids
         |FROM en""".stripMargin,
    // the oracle predicts the validate2 counters independently from the
    // EN truth chain: the roundtrip path must agree per-record with the
    // direct path (serde-lossless -> n_mismatch 0), and every enum /
    // required-field count must match the reference-semantics recompute
    "storm_validate2" ->
      s"""$EN SELECT count(*) AS n_joined,
         |  CAST(0 AS BIGINT) AS n_mismatch,
         |  CAST(sum(CASE WHEN etype = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_type,
         |  CAST(sum(CASE WHEN unit NOT IN ('in','mph','f_scale') AND unit <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_unit,
         |  CAST(sum(CASE WHEN severity IS NOT NULL AND severity NOT IN ('minor','moderate','severe','extreme') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_severity,
         |  CAST(sum(CASE WHEN etype <> '' AND NOT starts_with(id, etype || '-') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_id_prefix,
         |  CAST(sum(CASE WHEN (magnitude > 0) <> (severity IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS n_mag_sev_incoherent,
         |  CAST(sum(CASE WHEN length(state) <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_state,
         |  CAST(sum(CASE WHEN location_name = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_location,
         |  CAST(sum(CASE WHEN lat_d = 0 AND lon_d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_geo,
         |  CAST(sum(CASE WHEN event_time_str IS NULL OR time_bucket_str IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_time
         |FROM en""".stripMargin,
    "storm_rollup" ->
      s"""$EN SELECT etype AS event_type, coalesce(severity, 'none') AS severity,
         |  count(*) AS n,
         |  CAST(sum(CAST(magnitude AS DECIMAL(18,4))) AS DOUBLE) AS sum_magnitude
         |FROM en GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "storm_geo" ->
      s"""$EN SELECT CAST(floor(lat_d * 2) AS BIGINT) AS cell_lat,
         |  CAST(floor(lon_d * 2) AS BIGINT) AS cell_lon,
         |  etype AS event_type, count(*) AS n,
         |  CAST(sum(CAST(magnitude AS DECIMAL(18,4))) AS DOUBLE) AS sum_magnitude
         |FROM en WHERE etype <> ''
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // 84: naive band theta join over the same floor(deg*1e6) integer
    // coordinates — DuckDB plans the BETWEEN bands as an IEJoin, so
    // the replay stays feasible at sf0.1
    "storm_neighbors" ->
      s"""$EN SELECT a.event_id AS id_a, b.event_id AS id_b,
         |  abs(CAST(floor(a.lat_d * 1000000.0) AS BIGINT)
         |    - CAST(floor(b.lat_d * 1000000.0) AS BIGINT)) AS dlat_u,
         |  abs(CAST(floor(a.lon_d * 1000000.0) AS BIGINT)
         |    - CAST(floor(b.lon_d * 1000000.0) AS BIGINT)) AS dlon_u
         |FROM en a JOIN en b
         |  ON a.event_id < b.event_id
         | AND CAST(floor(b.lat_d * 1000000.0) AS BIGINT)
         |   BETWEEN CAST(floor(a.lat_d * 1000000.0) AS BIGINT) - 20000
         |       AND CAST(floor(a.lat_d * 1000000.0) AS BIGINT) + 20000
         | AND CAST(floor(b.lon_d * 1000000.0) AS BIGINT)
         |   BETWEEN CAST(floor(a.lon_d * 1000000.0) AS BIGINT) - 20000
         |       AND CAST(floor(a.lon_d * 1000000.0) AS BIGINT) + 20000
         |WHERE a.etype <> '' AND b.etype <> ''
         |ORDER BY id_a, id_b""".stripMargin,
    "storm_genmock" ->
      s"""WITH g AS (
         |  SELECT i,
         |    CASE WHEN i % 3 = 0 THEN 'hail' WHEN i % 3 = 1 THEN 'wind' ELSE 'tornado' END AS event_type,
         |    CASE WHEN i % 5 = 0 THEN 'TX' WHEN i % 5 = 1 THEN 'OK' WHEN i % 5 = 2 THEN 'KS' WHEN i % 5 = 3 THEN 'NE' ELSE 'IA' END AS state,
         |    CAST((i * 37) % 500 AS DOUBLE) / 10.0 AS magnitude,
         |    28.0 + CAST(i % 1000 AS DOUBLE) * 0.01 AS lat,
         |    -110.0 + CAST(i % 2000 AS DOUBLE) * 0.01 AS lon,
         |    printf('%04d-%02d-%02dT%02d:%02d:00Z', 2024, 4, 26, (i * 7) % 24, (i * 13) % 60) AS time_str
         |  FROM range(0, 500) t(i)
         |)
         |SELECT i AS mock_id, event_type, magnitude, state, time_str,
         |  event_type || '-' || substr(sha256(event_type || '|' || state || '|' || printf('%.4f', lat) || '|' || printf('%.4f', lon) || '|' || time_str || '|' || printf('%.2f', magnitude)), 1, 16) AS gen_id
         |FROM g ORDER BY mock_id""".stripMargin)
}
