package graft

import org.apache.spark.sql.functions._
import graft.operators.Classify
import graft.sources.Tables
import graft.ReferenceForms.topTokenCountHof

/** Trained linear quality classifier (SURVEY §2 #128). */
class ClassifySpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)

  test("r19 HOF-free measurement pass matches the HOF reference exactly") {
    import graft.functions.Text
    import spark.implicits._
    // the pre-r19 reference composition (aggregate/filter HOFs + the
    // bigram transform), column for column
    val src = docs.unionByName(Seq(
      (900001L, "", "x", "src", 0L),
      (900002L, " \t\n ", "x", "src", 4L),
      (900003L, "one", "x", "src", 3L),
      (900004L, "the the the and a of", "x", "src", 20L),
      (900005L, "Tok1 tok1 TOK1 tok2 999 !!!", "x", "src", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val staged = src
      .select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("tk"))
      .withColumn("bg", Text.bigramsOf(col("tk")))
    val enArr = array(Text.stopwords.head._2.map(lit): _*)
    val ref = staged.select(col("doc_id"),
      size(col("tk")).cast("long").as("n"),
      aggregate(col("tk"), lit(0L), (a, t) => a + length(t)).as("tot_len"),
      size(filter(col("tk"), t => t.rlike("[a-z]"))).cast("long").as("n_alpha"),
      size(filter(col("tk"), t => array_contains(enArr, t))).cast("long").as("stop_hits"),
      topTokenCountHof(col("tk")).cast("long").as("top_n"),
      size(col("bg")).cast("long").as("n_bg"),
      size(array_distinct(col("bg"))).cast("long").as("n_bg_d"))
    val now = Classify.measuredOf(src)
    val cols = Seq("n", "tot_len", "n_alpha", "stop_hits", "top_n", "n_bg", "n_bg_d")
    val joined = ref.as("r").join(now.as("m"), Seq("doc_id"))
    val bad = joined.where(cols.map(c => !(col(s"r.$c") <=> col(s"m.$c")))
      .reduce(_ || _))
    assert(ref.count() == now.count() && bad.isEmpty,
      s"measured drifted: ${bad.collect().take(3).mkString("; ")}")
  }

  test("training is deterministic: identical weights and scores across runs") {
    val f = Classify.features(docs)
    val w1 = Classify.trainWeights(f)
    val w2 = Classify.trainWeights(f)
    assert(w1.toSeq == w2.toSeq, "re-training drifted")
    val s1 = Classify.scores(docs).collect().map(_.toSeq).toSeq
    val s2 = Classify.scores(docs).collect().map(_.toSeq).toSeq
    assert(s1 == s2, "re-scoring drifted")
  }

  test("the probe beats majority voting against its rule labels") {
    val out = Classify.scores(docs).collect()
    assert(out.length == docs.count())
    val posRate = out.count(_.getBoolean(3)).toDouble / out.length
    val majority = math.max(posRate, 1.0 - posRate)
    val acc = out.count(r => r.getBoolean(2) == r.getBoolean(3)).toDouble / out.length
    assert(acc > majority,
      f"probe accuracy $acc%.3f does not beat majority $majority%.3f - " +
        "the trained weights are degenerate")
    // scores live on the [0,1] 1e-6 grid and are not constant
    out.foreach { r =>
      val s = r.getDouble(1)
      assert(s >= 0.0 && s <= 1.0 && math.abs(s * 1e6 - math.rint(s * 1e6)) < 1e-6)
    }
    assert(out.map(_.getDouble(1)).distinct.length > 10, "near-constant scores")
  }

  test("each gradient step reduces training loss from the w=0 start") {
    val f = Classify.features(docs)
    def loss(w: Array[Double]): Double = {
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
      val p = least(greatest(lit(0.25) * z + lit(0.5), lit(0.0)), lit(1.0))
      f.select(pow(p - col("y"), 2).as("l")).agg(avg(col("l"))).head().getDouble(0)
    }
    val l0 = loss(Array(0.0, 0.0, 0.0, 0.0, 0.0))
    val lT = loss(Classify.trainWeights(f))
    assert(lT < l0, f"training did not reduce loss: $l0%.4f -> $lT%.4f")
  }
}
