package graft.storm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.native

/** Storm-report enrichment, re-expressed as pure Spark `Column`
  * functions (reference: /root/reference/internal/domain/transform.go).
  *
  * Every function here compiles to built-in Catalyst expressions
  * (CASE WHEN, regexp, sha2, date_trunc, format_string) plus one
  * native kernel call, the ParseFloat of [[parseFloatOrZero]] and
  * [[magnitudeRaw]] — no UDFs — so the whole enrichment stays inside
  * whole-stage codegen, gets column pruning / predicate pushdown for
  * free, and is a narrow (shuffle-free) map at any scale.
  *
  * Documented deviations from the reference (SURVEY.md §1):
  *  - IDs format magnitude as %.2f (Go's %g is not portable across
  *    engines); determinism/idempotency is preserved.
  *  - RFC3339 parsing accepts the canonical `...Z` layout (the only
  *    layout the upstream collector emits).
  */
object StormFunctions {

  /** strconv.ParseFloat-or-zero (transform.go:47-58): non-numeric -> 0.
    * Go's grammar (hex floats, underscores, inf/nan) is one native
    * kernel, [[graft.expressions.Kernels.lenientDouble]]; Spark's trim
    * (0x20 only) stays a Column. */
  def parseFloatOrZero(c: Column): Column = coalesce(native.lenientDouble(trim(c)), lit(0.0))

  /** Per-type magnitude column select + parse (transform.go:60-86):
    * hail->Size, tornado->F_Scale, wind->Speed; UNK/empty/invalid -> 0.
    * Prefix stripping is sequential like Go's TrimPrefix("EF") then
    * TrimPrefix("F"): "EF2"->2, "F3"->3, and "EFF3"->3 (both strips
    * fire); "FF2"->0 (one F stripped, "F2" is not numeric). */
  def magnitudeRaw(eventType: Column, size: Column, fScale: Column, speed: Column): Column = {
    val sel = when(eventType === "hail", size)
      .when(eventType === "tornado", fScale)
      .when(eventType === "wind", speed)
    val t = trim(sel)
    val stripped = regexp_replace(regexp_replace(t, "^EF", ""), "^F", "")
    when(sel.isNull || t === "" || upper(t) === "UNK", lit(0.0))
      .otherwise(native.lenientDouble(stripped))
  }

  /** Event-time resolution (transform.go:88-125): RFC3339 `...Z`, else
    * legacy HHMM grafted onto the ingest timestamp's date, else the
    * ingest timestamp itself. */
  def parseEventTime(ingestTs: Column, timeStr: Column): Column = {
    val t = trim(timeStr)
    val rfc = try_to_timestamp(t, lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val padded = lpad(t, 4, "0")
    // casts live inside lazy CASE branches: ANSI mode would otherwise
    // throw on garbage like "9x77" (which must fall back, not fail)
    val digits = t.rlike("^[0-9]{3,4}$")
    val hh = when(digits, substring(padded, 1, 2).cast("int"))
    val mm = when(digits, substring(padded, 3, 2).cast("int"))
    val hhmmValid = digits && hh <= 23 && mm <= 59
    val fromHHMM = make_timestamp(
      year(ingestTs), month(ingestTs), dayofmonth(ingestTs), hh, mm, lit(0))
    when(t === "", ingestTs)
      .otherwise(coalesce(rfc, when(hhmmValid, fromHHMM).otherwise(ingestTs)))
  }

  /** Exact-match event-type whitelist (transform.go:170-177). */
  def normalizeEventType(c: Column): Column =
    when(c.isin("hail", "wind", "tornado"), c).otherwise(lit(""))

  /** Unit defaulting per type (transform.go:179-196). */
  def normalizeUnit(eventType: Column, unit: Column): Column = {
    val u = lower(trim(unit))
    when(u =!= "", u).otherwise(
      when(eventType === "hail", "in")
        .when(eventType === "wind", "mph")
        .when(eventType === "tornado", "f_scale")
        .otherwise(lit("")))
  }

  /** Legacy hundredths-of-inch hail fix (transform.go:198-210). */
  def normalizeMagnitude(eventType: Column, magnitude: Column, unit: Column): Column =
    when(magnitude === 0.0, magnitude)
      .when(eventType === "hail" && unit === "in" && magnitude >= 10.0,
        magnitude / 100.0)
      .otherwise(magnitude)

  /** Four-level severity per type thresholds (transform.go:212-257);
    * null when magnitude is 0 or type unrecognized. */
  def deriveSeverity(eventType: Column, magnitude: Column): Column =
    when(magnitude === 0.0, lit(null).cast("string"))
      .when(eventType === "hail",
        when(magnitude < 0.75, "minor").when(magnitude < 1.5, "moderate")
          .when(magnitude < 2.5, "severe").otherwise("extreme"))
      .when(eventType === "wind",
        when(magnitude < 50.0, "minor").when(magnitude < 74.0, "moderate")
          .when(magnitude < 96.0, "severe").otherwise("extreme"))
      .when(eventType === "tornado",
        when(magnitude <= 1.0, "minor").when(magnitude === 2.0, "moderate")
          .when(magnitude <= 4.0, "severe").otherwise("extreme"))
      .otherwise(lit(null).cast("string"))

  /** NWS office code from trailing "(ABC)" in comments (transform.go:259-273). */
  def extractSourceOffice(comments: Column): Column =
    regexp_extract(trim(comments), "\\(([A-Z]{3,5})\\)\\s*$", 1)

  private val locRe = "^([0-9]+(?:\\.[0-9]+)?)\\s+([NSEW]{1,3})\\s+(.+)$"

  /** "8 ESE Chappel" -> place name; unparseable -> raw (transform.go:275-300). */
  def locationName(location: Column): Column = {
    val p = locationParts(location).toMap
    locationNameFromParts(p("loc_t"), p("loc_dir_s"), p("loc_name_s"))
  }

  /** Distance component; null when unparseable. */
  def locationDistance(location: Column): Column =
    locationDistanceFromParts(locationParts(location).toMap.apply("loc_dist_s"))

  /** Compass direction component; null when unparseable. */
  def locationDirection(location: Column): Column =
    locationDirectionFromParts(locationParts(location).toMap.apply("loc_dir_s"))

  /** One-pass location parse for staged pipelines: trimmed input plus
    * the three locRe capture groups, meant to be select-ed as
    * attribute references once and consumed by the `*FromParts`
    * variants — the standalone trio above re-executes the regex for
    * every output column (~4 passes/row in a collapsed projection). */
  def locationParts(location: Column): Seq[(String, Column)] = {
    val t = trim(location)
    Seq("loc_t" -> t,
      "loc_dist_s" -> regexp_extract(t, locRe, 1),
      "loc_dir_s" -> regexp_extract(t, locRe, 2),
      "loc_name_s" -> regexp_extract(t, locRe, 3))
  }

  /** [[locationName]] over pre-extracted parts. */
  def locationNameFromParts(t: Column, dirPart: Column, namePart: Column): Column =
    when(t === "", lit("")).when(dirPart =!= "", trim(namePart)).otherwise(t)

  /** [[locationDistance]] over pre-extracted parts. */
  def locationDistanceFromParts(distPart: Column): Column =
    when(distPart =!= "", distPart.cast("double")).otherwise(lit(null).cast("double"))

  /** [[locationDirection]] over pre-extracted parts. */
  def locationDirectionFromParts(dirPart: Column): Column =
    when(dirPart =!= "", dirPart).otherwise(lit(null).cast("string"))

  /** Hourly UTC time bucket (transform.go:302-310). */
  def deriveTimeBucket(eventTime: Column): Column = date_trunc("hour", eventTime)

  /** Fixed-scale decimal rendering for the ID payload — ID SPEC v2.
    *
    * Renders the double's SHORTEST-DECIMAL representation
    * (`Double.toString`) rounded HALF_UP to `scale`, with trailing
    * zeros; negative zero renders unsigned ("0.0000"). ~6x cheaper per
    * call than `format_string("%.Nf")` — Java Formatter dominated the
    * whole id path (~3µs per call, three calls per row on the flagship
    * hot map).
    *
    * v1→v2 MIGRATION NOTE: v1 (`format_string("%.Nf")`) formats from
    * the SAME shortest-decimal representation (java.util.Formatter
    * renders doubles through FloatingDecimal, not the exact binary
    * expansion — property-verified), so halfway values like 1.005 mint
    * IDENTICAL ids in both versions ("1.01"). The one divergence class
    * is NEGATIVE ZERO: any payload double in [-0.5·10⁻ⁿ, -0.0] rounds
    * to -0 and v2 renders it unsigned ("0.0000") where v1 kept the
    * sign ("-0.0000") — a feed carrying such a value would mint a
    * different id across the upgrade; re-derive ids (one pass over the
    * lake) when migrating such a feed. The deterministic feed adapter
    * cannot produce them (integer-derived decimals; ids hash-verified
    * identical at three SFs). C-family engines (printf, Go fmt) round
    * the exact binary value instead, so an oracle replay must use a
    * decimal-cast render, not printf — the DuckDB oracle does (SURVEY
    * §1 documents the reference deviation). Pinned by
    * StormFunctionsSpec's halfway/negative-zero property cases. */
  private[graft] def fixed(c: Column, scale: Int): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(18, scale)).cast("string")

  /** Deterministic event ID: sha-256 of the raw key fields, first 8
    * bytes hex, `type-` prefix (transform.go:127-139). Replay-safe /
    * idempotent: the downstream dedup key. Payload doubles render via
    * [[fixed]] (ID spec v2 — see its migration note). */
  def generateId(rawType: Column, state: Column, lat: Column, lon: Column,
      timeRaw: Column, magnitudeRaw: Column): Column = {
    val payload = concat_ws("|",
      rawType, state, fixed(lat, 4), fixed(lon, 4), timeRaw, fixed(magnitudeRaw, 2))
    val short = substring(sha2(payload, 256), 1, 16)
    // `short` stays OUTSIDE the CASE: codegen's subexpression
    // elimination skips conditional branches, so a
    // when(short).otherwise(concat(short)) form would evaluate the
    // sha + renders twice per row. The prefix is the only conditional.
    concat(when(rawType === "", lit("")).otherwise(concat(rawType, lit("-"))), short)
  }

  /** RFC3339 rendering for engine-stable string output columns. */
  def rfc3339(ts: Column): Column = date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
}
