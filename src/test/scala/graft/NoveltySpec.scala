package graft

import org.apache.spark.sql.functions._

/** Planted fixtures for corpus_novelty (first-occurrence 8-gram
  * novelty) and invariants for text_fertility. */
class NoveltySpec extends SparkSpec {
  import spark.implicits._

  test("corpus_novelty: full repeat scores 0, fresh content 1, short docs 1") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ") // 20 tokens, 13 grams
    val docs = Seq(
      1L -> base,                       // owns all its grams
      2L -> base,                       // exact repeat -> novelty 0
      // 10 fresh tokens + doc 1's first 10 tokens: the 3 grams fully
      // inside the copied half belong to doc 1
      3L -> ((1 to 10).map(i => s"f$i").mkString(" ") + " " +
        (1 to 10).map(i => s"w$i").mkString(" ")),
      4L -> "too short for grams"       // < 8 tokens -> novelty 1.0
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("corpus_novelty")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((13L, 13L, 1.0)))
    assert(out(2L) == ((13L, 0L, 0.0)), s"exact repeat must be 0-novel: ${out(2L)}")
    // doc 3: 13 grams; those fully inside w1..w10 are w1..w3-start
    // grams = 3; everything touching an f-token is new -> 10 novel
    assert(out(3L)._1 == 13L && out(3L)._2 == 10L &&
      math.abs(out(3L)._3 - 10.0 / 13.0) < 1e-6,
      s"half-copied doc wrong: ${out(3L)}")
    assert(out(4L) == ((0L, 0L, 1.0)))
  }

  test("text_fertility: per-lang conservation against the raw corpus") {
    val out = SparkEntry.queries("text_fertility")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val totTokens = doc
      .select(explode(graft.functions.Text.tokensOrEmpty(col("text"))).as("t"))
      .count()
    assert(out.map(_.getLong(2)).sum == totTokens,
      "per-lang word counts must partition the corpus token count")
    out.foreach { r =>
      val (words, subs) = (r.getLong(2), r.getLong(3))
      assert(subs >= words, s"fertility below 1 is impossible: $r")
      assert(r.getDouble(4) >= 1.0 && r.getDouble(5) >= 1.0)
    }
  }

  test("text_entropy: uniform = ln(k), repeated = 0, bounded by ln(n_distinct)") {
    val docs = Seq(
      1L -> "a b c d",                 // uniform over 4 -> ln 4
      2L -> "same same same same",     // one distinct -> 0
      3L -> "x x x y",                 // 3/4 ln(4/3) + 1/4 ln 4
      4L -> ""                         // empty -> 0 with zero counts
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-entropy").toString
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(math.abs(out(1L)._3 - math.log(4.0)) < 2e-6, s"uniform: ${out(1L)}")
    assert(out(2L) == ((4L, 1L, 0.0)))
    val h3 = 0.75 * math.log(4.0 / 3.0) + 0.25 * math.log(4.0)
    assert(math.abs(out(3L)._3 - h3) < 2e-6, s"mixed: ${out(3L)}")
    assert(out(4L) == ((0L, 0L, 0.0)))
    // corpus-wide bound: H <= ln(n_distinct) (+ grid slack)
    SparkEntry.queries("text_entropy")(spark, sfDir)
      .collect().foreach { r =>
        val (nd, h) = (r.getLong(2), r.getDouble(3))
        assert(h >= 0.0 &&
          (nd <= 1 || h <= math.log(nd.toDouble) + 1e-4), s"bound violated: $r")
      }
  }
}
