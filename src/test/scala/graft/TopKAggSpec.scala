package graft

import org.apache.spark.sql.functions._
import graft.expressions.native

/** Specs for the bounded-heap top-k aggregate (#115): selection
  * equality with the window form under every partitioning, tie and
  * null semantics, SQL registration. The shuffle-bound mechanism is
  * measured in HotKeyStressSpec. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(rows: Seq[(String, Long, Long)], k: Int)
      : Map[String, Seq[(Long, Long)]] =
    rows.groupBy(_._1).view.mapValues(
      _.map(t => (t._2, t._3)).sortBy { case (v, id) => (-v, id) }.take(k)).toMap

  test("equals the window top-k under 1/3/16-partition layouts, ties to lower id") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 3000).map { i =>
      (s"g${i % 7}", rnd.nextInt(50).toLong, i.toLong) } // heavy value ties
    val want = windowTopK(rows, 4)
    Seq(1, 3, 16).foreach { parts =>
      val got = rows.toDF("g", "v", "id").repartition(parts)
        .groupBy($"g").agg(native.topK($"v", $"id", 4).as("top"))
        .select($"g", $"top").as[(String, Seq[(Long, Long)])]
        .collect().toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (g, w) => assert(got(g) == w, s"parts=$parts group $g") }
    }
  }

  test("groups smaller than k return whole groups, sorted") {
    val got = Seq(("a", 5L, 1L), ("a", 9L, 2L), ("b", 1L, 3L))
      .toDF("g", "v", "id")
      .groupBy($"g").agg(native.topK($"v", $"id", 10).as("top"))
      .as[(String, Seq[(Long, Long)])].collect().toMap
    assert(got("a") == Seq((9L, 2L), (5L, 1L)))
    assert(got("b") == Seq((1L, 3L)))
  }

  test("null value or id rows are skipped") {
    val got = Seq((Some(3L), Some(1L)), (None, Some(2L)), (Some(9L), None),
        (Some(4L), Some(4L)))
      .toDF("v", "id")
      .agg(native.topK($"v", $"id", 10).as("top"))
      .as[Seq[(Long, Long)]].head()
    assert(got == Seq((4L, 4L), (3L, 1L)))
  }

  test("extreme values: Long.MinValue/MaxValue rank correctly (no negation overflow)") {
    val got = Seq((Long.MinValue, 1L), (5L, 2L), (3L, 3L), (Long.MaxValue, 4L))
      .toDF("v", "id")
      .agg(native.topK($"v", $"id", 3).as("top"))
      .as[Seq[(Long, Long)]].head()
    assert(got == Seq((Long.MaxValue, 4L), (5L, 2L), (3L, 3L)))
  }

  test("SQL surface: graft_topk registered via extensions") {
    spark.range(100).select(($"id" % 10).as("g"), ($"id" * 37 % 101).as("v"), $"id")
      .createOrReplaceTempView("tk_in")
    val rows = spark.sql(
      "SELECT g, graft_topk(v, id, 2) AS top FROM tk_in GROUP BY g").collect()
    assert(rows.length == 10)
    rows.foreach(r => assert(r.getSeq[Any](1).size == 2))
  }

  test("type mismatch is an analysis-time error naming the function, not a runtime CCE") {
    spark.range(10).selectExpr("CAST(id AS STRING) AS s", "id")
      .createOrReplaceTempView("tk_bad")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(s, id, 2) FROM tk_bad").collect()
    }
    assert(ex.getMessage.contains("graft_topk"))
  }

  test("argument count is an analysis-time error naming the function") {
    spark.range(10).createOrReplaceTempView("tk_arity")
    for (q <- Seq("SELECT graft_topk(id, id) FROM tk_arity",
        "SELECT graft_topk(id, id, 2, 99) FROM tk_arity")) {
      val ex = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(ex.getMessage.contains("graft_topk: expects 3 arguments"), q)
    }
  }
}
