package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

class TextSpec extends SparkSpec {

  test("PII redaction: emails, IPv4, digit runs scrubbed to typed tokens") {
    import spark.implicits._
    val got = Seq(
      "write to jane.doe+x@example.org or bob@sub.host.co today",
      "server at 10.0.255.7 answered; card 4111111111111111 leaked",
      "v1.2.3 is not an ip, 12345678 is short, 123456789 is not",
      "clean text stays untouched").toDF("text")
      .select(graft.functions.Text.redactPii(org.apache.spark.sql.functions.col("text")))
      .as[String].collect()
    assert(got(0) == "write to <EMAIL> or <EMAIL> today")
    assert(got(1) == "server at <IP> answered; card <NUM> leaked")
    assert(got(2) == "v1.2.3 is not an ip, 12345678 is short, <NUM> is not")
    assert(got(3) == "clean text stays untouched")
  }
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).head.get(0)

  test("tokenization: normalization, empty text, bpe-ish counts") {
    assert(one(Text.tokenCount(lit("  The   quick  fox "))) == 3)
    assert(one(Text.tokenCount(lit(""))) == 0)
    assert(one(Text.tokenCount(lit("   "))) == 0)
    assert(one(Text.bpeTokenCount(lit("don't stop123 now."))) == 7)
    // don | ' | t | stop | 123 | now | .
    assert(one(Text.estTokensByChars(lit("abcdefgh"))) == 2L)
  }

  test("r19 quality rewrites match the HOF/regex reference forms exactly") {
    // the r19-opt forms (translate punct count, arithmetic token-length
    // sum, single-regex stopword hits) must be BIT-identical to the
    // expressions they replaced — these feed oracle-pinned outputs
    // (text_quality, corpus_clean*, pretrain composites, langid gates)
    val mtlRef = {
      val n = Text.tokenCount(col("text"))
      val totalLen = aggregate(Text.tokens(col("text")), lit(0L), (acc, t) => acc + length(t))
      when(n === 0, lit(0.0)).otherwise(totalLen.cast("double") / n.cast("double"))
    }
    val punctRef = {
      val n = length(col("text"))
      when(n === 0, lit(0.0)).otherwise(
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double") /
          n.cast("double"))
    }
    def hitsRef(words: Seq[String]) = {
      val arr = array(words.map(lit): _*)
      size(filter(Text.tokens(col("text")), t => array_contains(arr, t)))
    }
    val langIdRef = {
      val scored = Text.stopwords.map { case (lang, ws) => (lit(lang), hitsRef(ws)) }
      val (bestLang, bestScore) = scored.reduceLeft[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)] {
        case ((bl, bs), (l, s)) => (when(s > bs, l).otherwise(bl), greatest(bs, s))
      }
      when(bestScore > 0, bestLang).otherwise(lit("und"))
    }
    val adversarial = Seq(
      "", "   ", "\t\n\f\r", "the", "of", " of", "a",
      "the the a and andy a-and the", // adjacent stopwords + near-misses
      "the cat and the dog of the house is that",
      "el perro y la casa que es un gato",
      "的 是 了 在 我 有 和 不",          // zh single-char tokens
      "naïve café résumé — ünïcödé!!",   // multi-byte chars in punct count
      "@#$% ^&*! ~~~ ??? !!!",
      "a" * 600 + " b",                  // long token, len cap
      "xy\fz\rw\tq\nv",            // every \s class member inside text
      "that that that that that",        // multiplicity
      "mixed 123 numbers 456 and, punct; the end.",
      null)
    // non-foldable source (plan-shape gotcha): run through a parquet-free
    // but non-literal frame so ConstantFolding can't bypass codegen
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(adversarial.map(org.apache.spark.sql.Row(_)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val bad = df.select(
      when(mtlRef <=> Text.meanTokenLen(col("text")), 0).otherwise(1).as("m"),
      when(punctRef <=> Text.punctRatio(col("text")), 0).otherwise(1).as("p"),
      when(hitsRef(Text.stopwords.head._2) <=>
        Text.stopwordHits(col("text"), Text.stopwords.head._2), 0).otherwise(1).as("s"),
      when(langIdRef <=> Text.langId(col("text")), 0).otherwise(1).as("l"))
      .agg(sum(col("m")), sum(col("p")), sum(col("s")), sum(col("l"))).head()
    assert((0 to 3).map(bad.getLong) == Seq(0L, 0L, 0L, 0L), s"mismatches: $bad")
  }

  test("language ID picks dominant stopword language; und for no hits") {
    assert(one(Text.langId(lit("the cat and the dog of the house"))) == "en")
    assert(one(Text.langId(lit("el perro y la casa que es un gato"))) == "es")
    assert(one(Text.langId(lit("der hund und die katze ist von zu"))) == "de")
    assert(one(Text.langId(lit("xyzzy plugh qwerty"))) == "und")
  }

  test("quality: clean prose scores higher than punctuation soup") {
    val clean = one(Text.qualityScore(lit(
      "the quick brown fox jumps over the lazy dog and runs to the river " * 8)))
      .asInstanceOf[Double]
    val soup = one(Text.qualityScore(lit("@#$% ^&*! ~~~ ??? !!!"))).asInstanceOf[Double]
    assert(clean > 0.8)
    assert(soup < 0.3)
    assert(one(Text.punctRatio(lit(""))) == 0.0)
  }

  test("chunking: window arithmetic, overlap, and empty-doc edge") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 150).map(i => s"t$i").mkString(" ")), // 150 tokens -> 4 chunks
      (2L, "only three tokens"),
      (3L, ""),            // no tokens -> no chunks
      (4L, "  \t \n ")     // whitespace-only -> no chunks
    ).toDF("doc_id", "text")
    val chunks = graft.functions.Text.chunk(df, col("text"), chunkSize = 64, overlap = 16)
    val byDoc = chunks.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // starts at 0,48,96,144 for 150 tokens; single short chunk for 3
    assert(byDoc == Map(1L -> 4L, 2L -> 1L))
    // n_tokens matches the actual token count of each chunk_text
    val bad = chunks.where(size(graft.functions.Text.rawTokens(col("chunk_text")))
      =!= col("n_tokens")).count()
    assert(bad == 0)
    // consecutive full chunks overlap by exactly 16 tokens
    val c = chunks.where(col("doc_id") === 1L).orderBy("chunk_start").collect()
    val first = c(0).getAs[String]("chunk_text").split(" ")
    val second = c(1).getAs[String]("chunk_text").split(" ")
    assert(first.takeRight(16).sameElements(second.take(16)))
    // tail chunk is short, never empty
    assert(c.last.getAs[Int]("n_tokens") == 150 - 144)
  }

  test("packing: packs respect the offset quota, full packs fill the budget") {
    import spark.implicits._
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val chunks = graft.functions.Text.chunk(docsDf, col("text"), 64, 16)
    val packed = graft.functions.Text.packChunks(chunks, budget = 256, nShards = 16)
    val stats = packed.groupBy("shard", "pack_id")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"))
    // a pack's starting offsets span < budget, so total tokens stay
    // under budget + one max-size chunk
    assert(stats.where(col("tok") >= 256 + 64).count() == 0)
    // every non-final pack of a shard is at least budget-full minus one
    // chunk (no sparse packs in the middle of a shard)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
    val nonFinal = stats.withColumn("maxp",
        org.apache.spark.sql.functions.max("pack_id").over(w))
      .where(col("pack_id") < col("maxp"))
    assert(nonFinal.where(col("tok") < 256 - 64).count() == 0)
    // deterministic
    val again = graft.functions.Text.packChunks(chunks, 256, 16)
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
  }

  test("fixText: NFD composes, zero-width/control scrub, CRLF, mojibake, scrub-before-NFC order") {
    def fx(s: String): String = one(Text.fixText(lit(s))).asInstanceOf[String]
    // NFD combining marks compose to the precomposed form
    assert(fx("Café au thé") == "Café au thé")
    // already-NFC text is untouched (fast path)
    assert(fx("Café au thé") == "Café au thé")
    // zero-width family scrubbed
    assert(fx("a​b‌c‍d⁠e﻿f­g") == "abcdefg")
    // C0 controls go, \t and \n stay, CRLF/CR become LF
    assert(fx("ab\tc\r\nd\ref") == "ab\tc\nd\ne f".replace(" ", ""))
    // mojibake repairs (and Ã¯ is deliberately not in the table)
    assert(fx("itâ€™s Ã©lan â€” naÃ¯ve") == "it’s élan — naÃ¯ve")
    // à-mojibake is Ã+NBSP; Ã+ASCII-space is legitimate text and
    // must NOT be rewritten (word-final Ã, e.g. Portuguese IRMÃ)
    assert(fx("voil\u00C3\u00A0 tout") == "voilà tout")
    assert(fx("IRM\u00C3 DELE") == "IRM\u00C3 DELE")
    // scrub-before-NFC: e + ZWNJ + combining acute must compose
    assert(fx("e‌́") == "é")
    // dedup-key composition point: fingerprints unify after fixText
    val nfd = Text.fingerprint64(Text.fixText(lit("Café")))
    val nfc = Text.fingerprint64(Text.fixText(lit("Café")))
    assert(one(nfd) == one(nfc))
    // Unicode-version tripwire classes (the normPlanted -6 row, pinned
    // here codepoint-by-codepoint on the Spark side):
    // Hangul L+V+T and LV+T both compose to the syllable
    assert(fx("\u1100\u1161\u11A8") == "\uAC01", "jamo L+V+T")
    assert(fx("\uAC00\u11A8") == "\uAC01", "jamo LV+T")
    // non-Latin composition paths
    assert(fx("\u0438\u0306") == "\u0439", "Cyrillic breve")
    assert(fx("\u03B9\u0308\u0301") == "\u0390", "Greek dialytika tonos")
    // canonical reorder THEN compose: acute(230) written before
    // cedilla(202) must reorder, then the pair composes all the way
    // to U+1E09 (c-cedilla-acute has a precomposed form)
    assert(fx("c\u0301\u0327") == "\u1E09", "reorder before compose")
    // composition exclusion: U+0958 is excluded, must stay decomposed
    assert(fx("\u0915\u093C") == "\u0915\u093C", "exclusion stays decomposed")
    // U+1DFA (ccc 218, Unicode 12) written after acute(230): the
    // canonical order swaps them, and the acute still composes with
    // e across the lower-ccc mark (218 < 230 does not block) —
    // é + U+1DFA. A table predating Unicode 12 gives U+1DFA ccc 0,
    // making it a BLOCKER: no reorder, no composition, bytes stay
    // e+0301+1DFA — so engine disagreement here trips the hash
    assert(fx("e\u0301\u1DFA") == "\u00E9\u1DFA", "ccc-218 reorder")
  }

  test("text_normalize query: corpus rows identity, planted rows repaired, flags consistent") {
    val out = SparkEntry.queries("text_normalize")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
    // 500 corpus + 6 planted
    assert(out.length == 506)
    val (planted, corpus) = out.partition(_._1 < 0)
    // the synthetic corpus is ASCII: identity, nothing flagged
    assert(corpus.forall(r => !r._3 && !r._4))
    // every planted row changed; only -5 and -3 had mojibake
    assert(planted.forall(_._3))
    assert(planted.filter(_._4).map(_._1).toSeq.sorted == Seq(-5L, -3L))
    val byId = planted.map(r => r._1 -> r._2).toMap
    assert(byId(-1L) == "Café au thé")
    // -6: every tripwire class landed on its pinned NFC form
    assert(byId(-6L) == "jamo \uAC01 lvt \uAC01 cyr \u0439 greek \u0390 reorder \u1E09 excl \u0915\u093C ccc218 \u00E9\u1DFA")
    assert(byId(-2L) == "zerowidthandjoinershere")
    assert(byId(-4L).contains("é") && !byId(-4L).contains("\r"))
    // -5: NBSP form repaired, ASCII-space form untouched
    assert(byId(-5L) == "IRM\u00C3 DELE voil\u00E0tout")
  }

  test("fingerprints: normalization-invariant, 64-bit variant stable") {
    val a = one(Text.fingerprint(lit("Hello   World")))
    val b = one(Text.fingerprint(lit("hello world ")))
    assert(a == b)
    val f1 = one(Text.fingerprint64(lit("Hello   World")))
    val f2 = one(Text.fingerprint64(lit("hello world")))
    assert(f1 == f2)
    assert(one(Text.fingerprint64(lit("different"))) != f1)
  }

  test("retrieval_pack: greedy prefix is budget-maximal and rank-contiguous") {
    val out = SparkEntry.queries("retrieval_pack")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      // ranks are a contiguous prefix of the retrieval ranking
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"q=$q gap")
      // cumulative sums are consistent and within budget
      var cum = 0L
      sorted.foreach { case (_, _, _, n, c) => cum += n; assert(c == cum) }
      assert(cum <= 120, s"q=$q over budget: $cum")
    }
  }

  test("pack_stats: shard rollup consistent with the underlying chunk stream") {
    val rows = graft.SparkEntry.queries("pack_stats")(spark, sfDir).collect()
    assert(rows.length == 16)
    val chunks = graft.functions.Text.chunk(
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")),
      col("text"), chunkSize = 64, overlap = 16)
    assert(rows.map(_.getAs[Long]("n_chunks")).sum == chunks.count())
    assert(rows.map(_.getAs[Long]("total_tokens")).sum ==
      chunks.agg(sum(col("n_tokens")).cast("long")).head().getLong(0))
    rows.foreach { r =>
      // overrun bounded by one max-size chunk; fill is the exact ratio
      assert(r.getAs[Long]("max_pack_tokens") < 256 + 64)
      assert(r.getAs[Long]("n_overrun") <= r.getAs[Long]("n_packs"))
      assert(r.getAs[Long]("fill_ppm") ==
        r.getAs[Long]("total_tokens") * 1000000L /
          (r.getAs[Long]("n_packs") * 256L))
      assert(r.getAs[Long]("fill_ppm") > 0 &&
        r.getAs[Long]("fill_ppm") < 1250000L)
    }
  }

  test("licenseHits: counts distinct phrases, case-insensitive; prose traps score 0") {
    import spark.implicits._
    val got = Seq(
      // MIT header: 3 phrases (mit license / permission is hereby
      // granted / without warranty of any kind)
      "MIT License. Permission is hereby granted, free of charge. " +
        "THE SOFTWARE IS PROVIDED WITHOUT WARRANTY OF ANY KIND.",
      // Apache header: 2 (all rights reserved / licensed under the
      // apache license)
      "Copyright 2024. All rights reserved. Licensed under the " +
        "Apache License, Version 2.0.",
      "// SPDX-License-Identifier: BSD-3-Clause",
      // trap: "copyright" alone is not a phrase; prose stays clean
      "the copyright office reported registrations rose this year",
      // repetition of ONE phrase still counts once (distinct phrases)
      "mit license mit license MIT LICENSE"
    ).toDF("text").select(Text.licenseHits($"text")).as[Long].collect()
    assert(got.toSeq == Seq(3L, 2L, 1L, 0L, 1L))
  }

  test("watermarkGreens == plain-JVM md5 replay; <2-token guard") {
    import spark.implicits._
    def jvmGreens(toks: Seq[String]): Long =
      toks.zip(toks.drop(1)).count { case (a, b) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"wm:$a|$b".getBytes("UTF-8"))
          .map(x => f"${x & 0xff}%02x").mkString.take(8)
        java.lang.Long.parseLong(hex, 16) % 100 < 25
      }.toLong
    val chain = ("start tok3 tok4 tok7 tok19 tok0 tok6 tok1 tok2 " +
      "tok10 tok3 tok4 tok7").split(" ").toSeq
    val fix = Seq(
      (1L, chain),
      (2L, Seq("alpha", "beta", "gamma", "delta", "epsilon")),
      (3L, Seq("solo")),   // < 2 tokens: guard, 0
      (4L, Seq.empty[String])
    ).toDF("doc_id", "tk")
    val got = fix.select($"doc_id", Text.watermarkGreens($"tk", 25).as("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == chain.length - 1L, "constructed chain is all-green")
    assert(got(1L) == jvmGreens(chain))
    assert(got(2L) == jvmGreens(Seq("alpha", "beta", "gamma", "delta", "epsilon")))
    assert(got(3L) == 0L && got(4L) == 0L)
  }
}
