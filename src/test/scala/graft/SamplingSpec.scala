package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.sources.Tables

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("stratified sample is deterministic and respects per-stratum thresholds") {
    val rates = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.3)
    val s1 = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"), rates, 0.1)
    val s2 = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"), rates, 0.1)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // every kept row clears its own stratum's threshold
    val bad = s1.where(col("bucket") >=
      when(col("lang") === "en", 500000L)
        .when(col("lang").isin("de", "fr"), 300000L)
        .otherwise(100000L)).count()
    assert(bad == 0)
    assert(s1.where(col("bucket") < 0 || col("bucket") >= Sampling.Buckets).count() == 0)
  }

  test("samples are nested: a lower rate is a strict subset at the same salt") {
    val low = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map.empty, defaultRate = 0.1)
    val high = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map.empty, defaultRate = 0.3)
    assert(low.select("doc_id").exceptAll(high.select("doc_id")).isEmpty)
    assert(low.count() < high.count())
  }

  test("mixture sample: over-budget group downsampled toward its share, others whole") {
    val total = docs.agg(org.apache.spark.sql.functions.sum("n_chars")).first.getLong(0).toDouble
    val mixed = Sampling.mixtureSample(docs, col("doc_id"), col("lang"),
      col("n_chars"), Map.empty, defaultShare = 0.2)
    // under-budget languages (mass < 20% of total) pass through whole
    val masses = docs.groupBy("lang").agg(
      org.apache.spark.sql.functions.sum("n_chars").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptByLang = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docsByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    masses.foreach { case (lang, m) =>
      if (m <= 0.2 * total) assert(keptByLang(lang) == docsByLang(lang),
        s"$lang under budget but rows dropped")
      else assert(keptByLang(lang) < docsByLang(lang),
        s"$lang over budget but nothing dropped")
    }
    // the dominant group's kept DOC fraction tracks its rate (±0.15 at n≈200)
    val en = masses("en")
    val enRate = math.min(1.0, 0.2 * total / en)
    assert(math.abs(keptByLang("en").toDouble / docsByLang("en") - enRate) < 0.15)
    // deterministic
    val again = Sampling.mixtureSample(docs, col("doc_id"), col("lang"),
      col("n_chars"), Map.empty, defaultShare = 0.2)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
  }

  test("mixture sample: a zero-mass group is kept whole, not dropped") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "b", 0L), (4L, "b", 0L)
    ).toDF("doc_id", "grp", "w")
    val kept = Sampling.mixtureSample(df, col("doc_id"), col("grp"), col("w"),
      Map.empty, defaultShare = 0.5)
    assert(kept.where(col("grp") === "b").count() == 2,
      "zero-mass group must pass through whole")
  }

  test("weighted sample: exact size, layout-invariant, biased toward heavy rows") {
    val k = 100
    val picked = Sampling.weightedSample(docs.select(col("doc_id"), col("n_chars")),
      col("doc_id"), col("n_chars"), k)
    assert(picked.count() == k)
    // deterministic under any partitioning (hash draw, not rand())
    val again = Sampling.weightedSample(
      docs.select(col("doc_id"), col("n_chars")).repartition(7),
      col("doc_id"), col("n_chars"), k)
    assert(picked.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
    // weight-proportional: the sample's mean length must exceed the
    // corpus mean (big margin at these weights; a uniform sample would
    // straddle it)
    val corpusMean = docs.agg(avg(col("n_chars"))).head.getDouble(0)
    val sampleMean = picked.agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("weighted sample keys stay discriminating at huge weights (w ~ 1e8)") {
    // u^(1/w) collapses onto 1.0 for w ≳ 1e8 and the old rounded key
    // degenerated to the id tie-break; the -ln(u)/w key must still
    // order by the draw. Two rows with equal weight but different
    // hashes must produce distinct keys.
    import spark.implicits._
    val big = (0L until 1000L).map(i => (i, 100000000L + i)).toDF("doc_id", "w")
    val keys = Sampling.weightedSample(big, col("doc_id"), col("w"), 1000)
      .select("wkey").as[Double].collect()
    assert(keys.distinct.length > 900,
      s"keys collapsed: only ${keys.distinct.length} distinct of 1000")
  }

  test("skew-safe cap == plain cap, including one giant group (2*10^5 rows)") {
    import spark.implicits._
    val giant = spark.range(200000).selectExpr("id AS doc_id", "'big' AS g")
    val small = (500000L until 500120L).map(i => (i, "small")).toDF("doc_id", "g")
    val df = giant.unionByName(small)
    val plain = Sampling.capPerGroup(df, col("doc_id"), col("g"), k = 50)
      .select("doc_id", "g", "rk")
    val safe = Sampling.capPerGroupSkewSafe(df, col("doc_id"), col("g"), k = 50)
      .select("doc_id", "g", "rk")
    assert(plain.exceptAll(safe).isEmpty && safe.exceptAll(plain).isEmpty,
      "skew-safe cap diverged from the plain ranked cap")
    assert(safe.where(col("g") === "big").count() == 50)
    assert(safe.where(col("g") === "small").count() == 50)
  }

  test("skew-safe cap keeps NULL groups (null-safe pre-thin join)") {
    import spark.implicits._
    // capPerGroup's window treats NULL as its own partition; the
    // skew-safe pre-thin joins on the group key and a non-null-safe ===
    // silently dropped every null-group row (ADVICE r4)
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (3L, "a"),
      (10L, null), (11L, null), (12L, null), (13L, null))
      .toDF("doc_id", "g")
    val plain = Sampling.capPerGroup(df, col("doc_id"), col("g"), k = 2)
      .select("doc_id", "g", "rk")
    val safe = Sampling.capPerGroupSkewSafe(df, col("doc_id"), col("g"), k = 2)
      .select("doc_id", "g", "rk")
    assert(safe.where(col("g").isNull).count() == 2,
      "null group must be capped like any other, not dropped")
    assert(plain.exceptAll(safe).isEmpty && safe.exceptAll(plain).isEmpty)
  }

  test("different salts give independent samples; rates land near nominal") {
    val n = docs.count().toDouble
    val a = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map.empty, defaultRate = 0.3, salt = "a")
    val b = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map.empty, defaultRate = 0.3, salt = "b")
    // md5 buckets ≈ uniform: observed rate within ±0.1 of nominal at n=500
    assert(math.abs(a.count() / n - 0.3) < 0.1)
    assert(math.abs(b.count() / n - 0.3) < 0.1)
    // overlap ≈ rate² (independence), far below either sample's size
    val overlap = a.select("doc_id").intersect(b.select("doc_id")).count()
    assert(overlap < a.count() && overlap < b.count())
    assert(math.abs(overlap / n - 0.09) < 0.08)
  }

  test("temperature sampling: exact thresholds, tail kept whole, flattening") {
    import spark.implicits._
    // en mass 90000, de mass 10000 -> sqrt weights 300:100, budget 0.5
    // thr_en = floor(0.5 * 0.75 * (100000/90000) * 1e6) = 416666
    // thr_de = 0.5 * 0.25 * 10 = 1.25 -> clamped to 1 -> kept whole
    val df = ((0L until 90L).map(i => (i, "en", 1000L)) ++
      (100L until 110L).map(i => (i, "de", 1000L)))
      .toDF("doc_id", "lang", "w")
    val got = Sampling.temperatureSample(df, col("doc_id"), col("lang"),
      col("w"), tau = 2.0, budgetFrac = 0.5)
      .select("doc_id", "lang", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"temp:$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1000000L
    }
    val expected = ((0L until 90L).map(i => (i, "en", bucket(i)))
      .filter(_._3 < 416666L) ++
      (100L until 110L).map(i => (i, "de", bucket(i))))
      .sortBy(_._1)
    assert(got.toSeq == expected)
    // all 10 de docs survive (rate clamped to 1); en is downsampled
    assert(got.count(_._2 == "de") == 10)
    assert(got.count(_._2 == "en") < 90)
    // flattening: de's share of kept mass exceeds its 10% raw share
    val deShare = got.count(_._2 == "de").toDouble / got.length
    assert(deShare > 0.10, s"temperature did not flatten: $deShare")
  }

  test("unimaxAllocation: capped branch + water-filling replay on skewed masses") {
    // the shipped testdata's group masses are near-uniform BY
    // CONSTRUCTION (no group's 2-epoch cap falls under the equal
    // share), so the capped branch is exercised here on a skewed
    // fixture: masses 10/20/1000/5000, maxEpochs=2, budget = 50%.
    import spark.implicits._
    val rows = Seq(("A", 10L), ("B", 20L), ("C", 1000L), ("D", 5000L))
      .flatMap { case (g, m) => Seq((g, m)) } // one row per group, mass as weight
    val df = rows.toDF("g", "w")
    val got = graft.operators.Sampling
      .unimaxAllocation(df, org.apache.spark.sql.functions.col("g"),
        org.apache.spark.sql.functions.col("w"), maxEpochs = 2, budgetFrac = 0.5)
      .select("group", "mass", "rank", "capped", "budget", "epochs_bp")
      .as[(String, Long, Long, Boolean, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // hand replay: B = 3015; A,B capped (20, 40); C,D split (3015-60)/2
    assert(got("A") == ("A", 10L, 1L, true, 20L, 20000L))
    assert(got("B") == ("B", 20L, 2L, true, 40L, 20000L))
    assert(got("C") == ("C", 1000L, 3L, false, 1477L, 14770L))
    assert(got("D") == ("D", 5000L, 4L, false, 1477L, 2954L))
    // allocation invariants: spend within budget, caps respected,
    // uncapped budgets equal (the uniformity objective)
    val budgets = got.values.map(_._5)
    assert(budgets.sum <= 3015L)
    got.values.foreach { case (_, m, _, capped, b, _) =>
      if (capped) assert(b == 2 * m) else assert(b <= 2 * m)
    }
    assert(got.values.filterNot(_._4).map(_._5).toSet.size == 1)
  }

  test("unimaxAllocation: uncapped-only corpus splits the budget equally") {
    import spark.implicits._
    val df = Seq(("x", 100L), ("y", 120L), ("z", 110L)).toDF("g", "w")
    val got = graft.operators.Sampling
      .unimaxAllocation(df, org.apache.spark.sql.functions.col("g"),
        org.apache.spark.sql.functions.col("w"), maxEpochs = 2, budgetFrac = 0.5)
      .select("group", "capped", "budget")
      .as[(String, Boolean, Long)].collect()
    // B = 165, share = 55 < 2*100 -> nobody capped, all get 55
    assert(got.forall(!_._2))
    assert(got.forall(_._3 == 55L))
  }

  test("corpus_split: near-dup pairs never straddle splits; proportions sane") {
    val out = SparkEntry.queries("corpus_split")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val splitOf = out.map(t => t._1 -> t._3).toMap
    assert(out.length == graft.sources.Tables.documents(spark, sfDir).count())
    // the leakage property, checked against the RAW pair list (not the
    // cluster ids the split was derived from): no J>=0.5 pair straddles
    val pairs = graft.operators.Dedup.jaccardPairs(
        graft.sources.Tables.documents(spark, sfDir), k = 3, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b), s"leak: $a(${splitOf(a)}) ~ $b(${splitOf(b)})")
    }
    // every cluster is entirely in one split
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $c straddles splits")
    }
    // rough proportions on the doc level (md5 lattice, 90/5/5 target)
    val n = out.length.toDouble
    val frac = out.groupBy(_._3).view.mapValues(_.length / n).toMap
    assert(frac.getOrElse("train", 0.0) > 0.8, frac.toString)
    assert(frac.getOrElse("val", 0.0) < 0.12 && frac.getOrElse("test", 0.0) < 0.12)
  }

  // the reference the histogram cascade must reproduce exactly: a
  // global rank over the SAME total order (score DESC, md5 bucket,
  // id) — fine at spec scale, the very shape topFraction exists to
  // avoid at corpus scale
  private def rankGate(df: org.apache.spark.sql.DataFrame, num: Long, den: Long,
      salt: String): Set[Long] = {
    val n = df.count()
    val k = (num * n / den).toInt
    df.withColumn("__b", Sampling.hashBucket(col("doc_id"), salt))
      .orderBy(col("score").desc, col("__b"), col("doc_id")).limit(k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  private def gateIds(df: org.apache.spark.sql.DataFrame, num: Long, den: Long,
      salt: String): Set[Long] =
    Sampling.topFraction(df, col("score"), col("doc_id"), num, den, salt)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("topFraction == global rank gate on a boundary-straddling tie fixture") {
    import spark.implicits._
    // 10 clear keepers, a 10-doc tie group straddling the cut
    // (k = 15 -> 5 of the ties, lattice-chosen), 10 clear drops
    val rows = (0L until 10L).map(i => (i, 0.9)) ++
      (10L until 20L).map(i => (i, 0.5)) ++
      (20L until 30L).map(i => (i, 0.1))
    val df = rows.toDF("doc_id", "score")
    val got = gateIds(df, 1L, 2L, "cleanml")
    assert(got.size == 15)
    assert(got == rankGate(df, 1L, 2L, "cleanml"))
    assert((0L until 10L).toSet.subsetOf(got), "whole above-cut groups must keep")
    assert(got.intersect((20L until 30L).toSet).isEmpty, "below-cut groups must drop")
  }

  test("topFraction level-3: md5-bucket collision inside the partial bucket") {
    import spark.implicits._
    // find two ids that collide on the cleanml lattice so the partial
    // bucket genuinely holds >1 row and the id-rank tie-break decides
    val probe = (0L until 40000L).toDF("doc_id")
      .withColumn("b", Sampling.hashBucket(col("doc_id"), "cleanml"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (a, b) = probe.groupBy(_._2).values.find(_.length >= 2)
      .map(g => (g(0)._1, g(1)._1))
      .getOrElse(fail("no lattice collision in 40k ids (p < 1e-300)"))
    val lo = math.min(a, b); val hi = math.max(a, b)
    // both colliders tie on score; k = 1 -> quota cuts INSIDE their
    // shared bucket -> keep the smaller id only
    val df = Seq((lo, 0.5), (hi, 0.5)).toDF("doc_id", "score")
    val got = gateIds(df, 1L, 2L, "cleanml")
    assert(got == Set(lo), s"expected Set($lo), got $got")
    assert(got == rankGate(df, 1L, 2L, "cleanml"))
  }

  test("topFraction: exact count, degenerate all-ties corpus, empty quota") {
    import spark.implicits._
    // all 100 docs tie: the entire selection is lattice-driven
    val ties = (0L until 100L).map(i => (i, 0.25)).toDF("doc_id", "score")
    val got = gateIds(ties, 3L, 10L, "cleanml")
    assert(got.size == 30)
    assert(got == rankGate(ties, 3L, 10L, "cleanml"))
    // k = 0 (n < den/num) keeps nothing
    val tiny = Seq((1L, 0.9), (2L, 0.8)).toDF("doc_id", "score")
    assert(gateIds(tiny, 3L, 10L, "cleanml").isEmpty)
    // distinct scores, no straddle ambiguity: plain top-30%
    val dist = (0L until 20L).map(i => (i, i.toDouble / 100.0)).toDF("doc_id", "score")
    assert(gateIds(dist, 3L, 10L, "s2") == (14L until 20L).toSet)
  }

  test("topFraction: off-grid score violates the caller contract and raises") {
    import spark.implicits._
    // 1/3 is not a round(x, 6) product — the guard must raise instead
    // of silently merging distinct scores into one grid tie group
    val offGrid = Seq((1L, 0.5), (2L, 1.0 / 3.0)).toDF("doc_id", "score")
    val e = intercept[Exception] {
      Sampling.topFraction(offGrid, col("score"), col("doc_id"),
        1L, 2L, "s").collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("off the 1e-6 grid")), e.toString)
    // on-grid scores (round(x, 6) products) pass the guard untouched
    val onGrid = Seq((1L, 0.5), (2L, 0.333333)).toDF("doc_id", "score")
    assert(gateIds(onGrid, 1L, 2L, "s") == Set(1L))
    // past the documented 1e6 magnitude bound the guard raises its own
    // diagnostic (double ulp at score*1e6 would swamp the absolute
    // tolerance there — without this, a huge ON-grid score trips the
    // grid error spuriously)
    val huge = Seq((1L, 0.5), (2L, 1e14)).toDF("doc_id", "score")
    val e2 = intercept[Exception] {
      Sampling.topFraction(huge, col("score"), col("doc_id"),
        1L, 2L, "s").collect()
    }
    assert(chain(e2).exists(_.contains("magnitude bound")), e2.toString)
  }

  test("doremiSample == plain-Scala integer replay; hard domains upweighted") {
    // 3 domains x 10 docs with fixed per-domain scores: a easy, b
    // average, c hard (scores in 1e-6 units, higher = easier)
    val rows = for {
      (g, s) <- Seq(("a", -1000000L), ("b", -2000000L), ("c", -3000000L))
      i <- 0 until 10
    } yield (Seq("a", "b", "c").indexOf(g) * 10L + i, g, s)
    val df = rows.toDF("doc_id", "grp", "s_mi")
    val got = Sampling.doremiSample(df, col("doc_id"), col("grp"), col("s_mi"))
      .collect()

    // plain-Scala replay of the documented integer arithmetic
    val doms = Seq(("a", -1000000L), ("b", -2000000L), ("c", -3000000L))
    val (nn, ss) = (30L, doms.map(_._2 * 10).sum)
    def flr(x: Double): Long = math.floor(x).toLong
    val excess = doms.map { case (g, s) =>
      g -> (flr(ss.toDouble / nn) - flr(s * 10.0 / 10.0)) }.toMap
    val factor = excess.view.mapValues(e =>
      1000000L + math.max(-250000L, math.min(250000L, flr(e / 2.0)))).toMap
    var w = doms.map { case (g, _) => g -> 1000000L }.toMap
    for (_ <- 1 to 3) {
      val wr = w.map { case (g, v) => g -> v * factor(g) / 1000000L }
      val sum = wr.values.sum
      w = wr.map { case (g, v) => g -> v * 1000000L / sum }
    }
    val thr = w.map { case (g, v) =>
      val quota = nn * 500000L / 1000000L * v / 1000000L
      g -> math.min(1000000L, quota * 1000000L / 10L)
    }
    // hard > average > easy in both weights and thresholds
    assert(w("c") > w("b") && w("b") > w("a"), w.toString)
    assert(thr("c") >= thr("b") && thr("b") >= thr("a"), thr.toString)
    got.foreach { r =>
      val g = r.getAs[String]("grp")
      assert(r.getAs[Long]("w_mi") == w(g), s"$g: w ${r.getAs[Long]("w_mi")} != ${w(g)}")
      assert(r.getAs[Long]("thr") == thr(g))
      assert(r.getAs[Long]("excess_mi") == excess(g))
      assert(r.getAs[Long]("bucket") < thr(g))
    }
    // membership is exactly the lattice: replay md5 per doc
    val md = java.security.MessageDigest.getInstance("MD5")
    val kept = rows.filter { case (id, g, _) =>
      val hex = md.digest(s"drm:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1000000L < thr(g)
    }.map(_._1).toSet
    assert(got.map(_.getAs[Long]("doc_id")).toSet == kept)
  }

  test("doremiSample: NULL-domain rows drop (oracle inner-join parity)") {
    // two real domains plus docs with a NULL domain: the NULL rows
    // must never appear in the output (the oracle's membership join
    // is `JOIN ... USING (source)`, which drops NULL keys) — but they
    // DO count toward the corpus totals, like SQL's GROUP BY NULL
    // group, so the surviving domains' weights match the oracle's.
    val rows: Seq[(Long, Option[String], Long)] =
      (0 until 10).map(i => (i.toLong, Some("x"), -1000000L)) ++
      (10 until 20).map(i => (i.toLong, Some("y"), -3000000L)) ++
      (20 until 25).map(i => (i.toLong, None: Option[String], -2000000L))
    val df = rows.toDF("doc_id", "grp", "s_mi")
    val got = Sampling.doremiSample(df, col("doc_id"), col("grp"), col("s_mi"))
      .collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[String]("grp") != null),
      "NULL-domain rows must be dropped by the membership join")
    // weights reflect a 25-doc corpus (NULL group counted in totals):
    // identical to running doremiWeights over the 3-group counters
    val want = Sampling.doremiWeights(
        df.groupBy(col("grp").as("__g"))
          .agg(count(lit(1)).as("__n"), sum(col("s_mi")).as("__s")),
        rounds = 3, etaDen = 2L)
      .collect().filter(_.getAs[String]("__g") != null)
      .map(r => r.getAs[String]("__g") -> r.getAs[Long]("__w")).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("w_mi") == want(r.getAs[String]("grp")))
    }
  }

  test("doremiSample: uniform scores give uniform weights (no spurious drift)") {
    val rows = for (g <- Seq("x", "y"); i <- 0 until 20)
      yield (Seq("x", "y").indexOf(g) * 20L + i, g, -5000000L)
    val got = Sampling.doremiSample(rows.toDF("doc_id", "grp", "s_mi"),
      col("doc_id"), col("grp"), col("s_mi")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("excess_mi") == 0L)
      assert(r.getAs[Long]("w_mi") == 500000L)
      assert(r.getAs[Long]("thr") == 500000L)
    }
  }
}
