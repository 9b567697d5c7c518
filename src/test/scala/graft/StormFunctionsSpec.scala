package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.storm.StormFunctions._

/** Pins the enrichment semantics to the reference's documented behavior
  * (the reference's internal/domain/transform.go, docs/Enrichment.md).
  */
class StormFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(colExpr: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(colExpr.as("r")).head.get(0)

  test("magnitude select per type, UNK/empty/prefix handling") {
    val rows = Seq(
      ("hail", "1.75", "", ""), ("hail", "UNK", "", ""), ("hail", " ", "", ""),
      ("tornado", "", "EF3", ""), ("tornado", "", "F2", ""), ("tornado", "", "4", ""),
      ("wind", "", "", "62.5"), ("wind", "", "", "junk"), ("squall", "9", "9", "9"))
      .toDF("t", "size", "f", "sp")
      .select(magnitudeRaw($"t", $"size", $"f", $"sp").as("m")).collect().map(_.getDouble(0))
    assert(rows.toSeq == Seq(1.75, 0.0, 0.0, 3.0, 2.0, 4.0, 62.5, 0.0, 0.0))
  }

  test("magnitude prefix strip is sequential (EF then F) like Go TrimPrefix") {
    // transform.go:85-86 strips "EF" then "F": "EFF3" -> "F3" -> "3";
    // "FF2" strips one F -> "F2", not numeric -> 0
    val rows = Seq(
      ("tornado", "", "EFF3", ""), ("tornado", "", "FF2", ""),
      ("tornado", "", "EF", ""), ("tornado", "", "F", ""))
      .toDF("t", "size", "f", "sp")
      .select(magnitudeRaw($"t", $"size", $"f", $"sp").as("m")).collect().map(_.getDouble(0))
    assert(rows.toSeq == Seq(3.0, 0.0, 0.0, 0.0))
  }

  test("ParseFloat leniency: .5 / 5. / exponent / inf / nan forms") {
    // strconv.ParseFloat (transform.go:47-58) accepts these; table cases
    // mirror reference transform_test.go probes
    val vals = Seq(".5", "5.", "1e2", "-2.5e-1", "+3", "Inf", "-inf", "Infinity")
      .toDF("x").select(parseFloatOrZero($"x").as("r")).collect().map(_.getDouble(0))
    assert(vals.toSeq == Seq(0.5, 5.0, 100.0, -0.25, 3.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.PositiveInfinity))
    val nan = Seq("NaN").toDF("x").select(parseFloatOrZero($"x").as("r")).head.getDouble(0)
    assert(nan.isNaN)
    // rejected forms -> 0 (".", bare exponent, garbage)
    val zeros = Seq(".", "e5", "5e", "1.2.3", "", "  ")
      .toDF("x").select(parseFloatOrZero($"x").as("r")).collect().map(_.getDouble(0))
    assert(zeros.forall(_ == 0.0))
  }

  test("ParseFloat Go grammar: hex floats and underscore separators, bit-for-bit") {
    // each expected value is strconv.ParseFloat(s, 64)'s output
    // (transform.go:47-58 maps err != nil -> 0, including ErrRange)
    val cases = StormFunctionsSpec.GoGrammar
    val got = cases.map(_._1).toDF("x")
      .select(parseFloatOrZero($"x").as("r")).collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((s, want), g) =>
      assert(g == want, s"ParseFloat('$s'): got $g want $want")
    }
    // signed zero: Go's ParseFloat("-0x0p0") returns -0.0, and the
    // all-zero mantissa must not trip the leading-zero strip (r12
    // ADVICE: an empty significand made the DuckDB mirror yield +0.0
    // through TRY_CAST('0x') -> NULL while Spark kept -0.0). IEEE ==
    // can't see the sign, so pin the raw bits.
    val zeros = Seq("-0x0p0", "0x0p0", "-0x0.0p5", "-0x00p0")
      .toDF("x").select(parseFloatOrZero($"x").as("r"))
      .collect().map(_.getDouble(0))
    assert(java.lang.Double.doubleToRawLongBits(zeros(0)) ==
      java.lang.Double.doubleToRawLongBits(-0.0), s"-0x0p0 lost its sign: ${zeros(0)}")
    assert(java.lang.Double.doubleToRawLongBits(zeros(1)) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(zeros(2)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(java.lang.Double.doubleToRawLongBits(zeros(3)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("ParseFloat: an exponent outside Int gives 0 instead of failing the query") {
    // ANSI casts threw CAST_INVALID_INPUT on the exponent here, which
    // failed every micro-batch carrying the record; DuckDB's TRY_CAST
    // and Go's ErrRange both give 0
    val got = Seq("0x1p99999999999", "-0x1.8p-99999999999", "0x0p2147483648")
      .toDF("x").select(parseFloatOrZero($"x").as("r")).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.0, 0.0, 0.0))
    val mag = Seq(("hail", "0x1p99999999999", "", "")).toDF("t", "size", "f", "sp")
      .select(magnitudeRaw($"t", $"size", $"f", $"sp")).head.getDouble(0)
    assert(mag == 0.0)
  }

  test("severity thresholds per type (transform.go:212-257)") {
    val cases = Seq(
      ("hail", 0.5, "minor"), ("hail", 0.75, "moderate"), ("hail", 1.5, "severe"),
      ("hail", 2.5, "extreme"), ("wind", 49.0, "minor"), ("wind", 50.0, "moderate"),
      ("wind", 74.0, "severe"), ("wind", 96.0, "extreme"), ("tornado", 1.0, "minor"),
      ("tornado", 2.0, "moderate"), ("tornado", 3.0, "severe"), ("tornado", 5.0, "extreme"))
    val got = cases.toDF("t", "m", "want")
      .select(deriveSeverity($"t", $"m").as("got"), $"want").collect()
    got.foreach { r => assert(r.getString(0) == r.getString(1), s"case $r") }
    // magnitude 0 and unknown type -> null
    assert(one(deriveSeverity(lit("hail"), lit(0.0))) == null)
    assert(one(deriveSeverity(lit("other"), lit(3.0))) == null)
  }

  test("hail legacy hundredths normalization (>=10 in inches / 100)") {
    assert(one(normalizeMagnitude(lit("hail"), lit(175.0), lit("in"))) == 1.75)
    assert(one(normalizeMagnitude(lit("hail"), lit(1.75), lit("in"))) == 1.75)
    assert(one(normalizeMagnitude(lit("wind"), lit(96.0), lit("mph"))) == 96.0)
    assert(one(normalizeMagnitude(lit("hail"), lit(0.0), lit("in"))) == 0.0)
  }

  test("event-type whitelist is exact-match: case/whitespace variants rejected") {
    // reference transform_test.go TestNormalizeEventType table
    val cases = Seq(
      "hail" -> "hail", "wind" -> "wind", "tornado" -> "tornado",
      "torn" -> "", "HAIL" -> "", "Hail" -> "", "  hail  " -> "",
      "WIND" -> "", "TORNADO" -> "", "snow" -> "", "" -> "")
    cases.foreach { case (in, want) =>
      assert(one(normalizeEventType(lit(in))) == want, s"input '$in'")
    }
  }

  test("unit defaulting per type; existing unit lowercased") {
    assert(one(normalizeUnit(lit("hail"), lit(""))) == "in")
    assert(one(normalizeUnit(lit("wind"), lit(""))) == "mph")
    assert(one(normalizeUnit(lit("tornado"), lit(""))) == "f_scale")
    assert(one(normalizeUnit(lit("hail"), lit(" MPH "))) == "mph")
    assert(one(normalizeUnit(lit(""), lit(""))) == "")
  }

  test("source office: trailing (AAA) 3-5 uppercase only") {
    assert(one(extractSourceOffice(lit("Report. (DDC)"))) == "DDC")
    assert(one(extractSourceOffice(lit("Report. (DDC)  "))) == "DDC")
    assert(one(extractSourceOffice(lit("marker 3 (k91)"))) == "")
    assert(one(extractSourceOffice(lit("(TOOLONGX)"))) == "")
    assert(one(extractSourceOffice(lit("(AB)"))) == "")
    assert(one(extractSourceOffice(lit("(DDC) then text"))) == "")
  }

  test("location parse: '<dist> <dir> <name>' vs bare name") {
    val r = Seq("8 ESE Chappel").toDF("l").select(
      locationName($"l"), locationDistance($"l"), locationDirection($"l")).head
    assert(r == Row("Chappel", 8.0, "ESE"))
    val bare = Seq("Fort Worth").toDF("l").select(
      locationName($"l"), locationDistance($"l"), locationDirection($"l")).head
    assert(bare == Row("Fort Worth", null, null))
    assert(one(locationName(lit("2.5 NNW Twin Lakes"))) == "Twin Lakes")
    assert(one(locationName(lit(""))) == "")
  }

  test("event time: RFC3339, legacy HHMM grafted on ingest date, fallbacks") {
    val df = Seq(
      ("2024-04-26T01:02:03Z", "2024-03-01 10:00:00"),
      ("0134", "2024-03-01 10:00:00"),
      ("934", "2024-03-01 10:00:00"),   // 3-digit HHMM -> 09:34
      ("2567", "2024-03-01 10:00:00"),  // invalid hour -> ingest ts
      ("9x77", "2024-03-01 10:00:00"),  // garbage -> ingest ts
      ("", "2024-03-01 10:00:00"))      // blank -> ingest ts
      .toDF("time", "ing")
      .select(rfc3339(parseEventTime(to_timestamp($"ing"), $"time")).as("r"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq(
      "2024-04-26T01:02:03Z", "2024-03-01T01:34:00Z", "2024-03-01T09:34:00Z",
      "2024-03-01T10:00:00Z", "2024-03-01T10:00:00Z", "2024-03-01T10:00:00Z"))
  }

  test("deterministic ID: stable, type-prefixed, distinct across keys") {
    val id1 = one(generateId(lit("hail"), lit("TX"), lit(32.1), lit(-97.5),
      lit("2024-04-26T01:02:03Z"), lit(1.75)))
    val id2 = one(generateId(lit("hail"), lit("TX"), lit(32.1), lit(-97.5),
      lit("2024-04-26T01:02:03Z"), lit(1.75)))
    val id3 = one(generateId(lit("wind"), lit("TX"), lit(32.1), lit(-97.5),
      lit("2024-04-26T01:02:03Z"), lit(1.75)))
    assert(id1 == id2)
    assert(id1 != id3)
    assert(id1.asInstanceOf[String].matches("hail-[0-9a-f]{16}"))
  }

  test("ID spec v2: fixed() pins shortest-decimal HALF_UP, unsigned zero (migration note)") {
    // The ID payload renderer rounds the double's SHORTEST-DECIMAL
    // representation (Double.toString) HALF_UP — NOT the exact binary
    // value like v1's format_string. These are exactly the adversarial
    // inputs where the two diverge (ADVICE r4); pinning them makes the
    // v2 contract explicit rather than empirical on the test feeds.
    def f4(d: Double): String = one(fixed(lit(d), 4)).asInstanceOf[String]
    def f2(d: Double): String = one(fixed(lit(d), 2)).asInstanceOf[String]
    def v1_2(d: Double): String = one(format_string("%.2f", lit(d))).asInstanceOf[String]
    assert(f2(1.005) == "1.01")      // C printf would render "1.00" (binary 1.00499..)
    assert(f2(2.675) == "2.68")      // C printf: "2.67"
    assert(f4(0.00005) == "0.0001")  // halfway at scale, HALF_UP
    // v1 (format_string) formats from the SAME shortest-decimal repr
    // (java.util.Formatter goes through FloatingDecimal, not the exact
    // binary expansion), so halfway cases do NOT change ids across the
    // v1 -> v2 upgrade:
    assert(v1_2(1.005) == "1.01" && v1_2(2.675) == "2.68")
    // ...the ONLY divergence class is negative zero, where v2 drops
    // the sign (BigDecimal has no -0):
    assert(f4(-0.0) == "0.0000")     // v1 rendered "-0.0000"
    assert(f4(-0.00004) == "0.0000") // rounds to -0, renders unsigned
    assert(one(format_string("%.4f", lit(-0.0))).asInstanceOf[String] == "-0.0000")
    // and on the feed's integer-derived domain the renders are plain
    assert(f4(32.1) == "32.1000" && f4(-97.5) == "-97.5000")
    assert(f2(1.75) == "1.75" && f2(0.0) == "0.00")
  }
}

object StormFunctionsSpec {
  /** strconv.ParseFloat's Go grammar: each input with the value
    * strconv.ParseFloat(s, 64) gives (transform.go:47-58 maps
    * err != nil -> 0, including ErrRange). NativeExprSpec reuses it as
    * the table half of the kernel-equality corpus. */
  val GoGrammar: Seq[(String, Double)] = Seq(
    "0x1p-2" -> 0.25, // go doc's own example
    "0x1.8p+3" -> 12.0,
    "0X1P3" -> 8.0, // case-insensitive prefix/exponent
    "0x_1p4" -> 16.0, // the one leading-underscore slot Go allows
    "0x.8p1" -> 1.0, // fraction-only mantissa
    "0x1.p2" -> 4.0, // empty fraction after the point
    "-0x1.8p1" -> -3.0,
    "0xffp0" -> 255.0,
    "0xde_ad_be_efp-4" -> 0xdeadbeefL.toDouble / 16.0,
    "1_000" -> 1000.0,
    "1_000.000_5" -> 1000.0005,
    "1e1_0" -> 1e10, // underscores in the exponent too
    // invalid underscore placement / missing parts / overflow -> 0
    "1__0" -> 0.0, "_100" -> 0.0, "100_" -> 0.0, "1_.5" -> 0.0,
    "1._5" -> 0.0, "0x1p2_" -> 0.0, "0xp2" -> 0.0,
    "0x1" -> 0.0, // hex REQUIRES the binary exponent
    "0x1.8" -> 0.0,
    "1e999" -> 0.0, // value overflow = ErrRange -> err branch -> 0
    "-1e999" -> 0.0,
    "0x1p99999" -> 0.0,
    // mantissa beyond 16 hex digits -> 0.0: the documented shared
    // cutoff (SURVEY §1; Go rounds) — conv's 64-bit window would
    // truncate and DuckDB's plain UBIGINT cast would throw, so both
    // engines pin the explicit guard instead
    "0x11112222333344445p0" -> 0.0,
    "0x1111222233334444p0" -> 0x1111222233334444L.toDouble, // 16 digits still exact
    "0x1.11122223333444455p0" -> 0.0,
    // the cutoff counts SIGNIFICANT digits: leading zeros don't
    // consume the 64-bit window, so Go parses these exactly and so
    // must both engines (r11 ADVICE: the raw-length guard mapped the
    // first to 0.0 while Go says 1.0)
    "0x00000000000000001p0" -> 1.0, // 17 raw digits, 1 significant
    "0x0.000000000000000001p0" -> math.pow(2.0, -72), // frac zeros set the exponent
    "0x000011112222333344445p0" -> 0.0) // 17 SIGNIFICANT digits still 0
}
