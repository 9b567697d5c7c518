package graft

import org.apache.spark.sql.functions._
import graft.operators.{Lines, Pretrain}
import graft.functions.Text

/** Composed pretraining-prep flagship (SURVEY §2 #140): the
  * cross-operator contract the per-operator oracles can't see —
  * fixText's "runs BEFORE any dedup keying" composition point. */
class PretrainSpec extends SparkSpec {
  import spark.implicits._

  // the corpus_pretrain planted pair, re-stated here: -12 NFC/clean,
  // -11 the same text in NFD form + a mojibake token + CRLF endings
  private val nfc = (-12L,
    "café crème brûlée élan planted paragraph one\n" +
      "planted unique line two here\nplanted unique line three here")
  private val nfd = (-11L,
    "café crème brûlée Ã©lan planted paragraph one\r\n" +
      "planted unique line two here\r\nplanted unique line three here")

  test("NFD/mojibake near-dup pair dedups ONLY with the normalize stage") {
    val pair = Seq(nfc, nfd).toDF("doc_id", "text")
    // WITH stage 1 (the full prep): the pair unifies onto one line/
    // paragraph key — exactly one survivor, the keep-first (-12)
    val withNorm = Pretrain.prepText(pair)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(withNorm == Set(-12L),
      s"normalized pair must collapse to the keep-first doc: $withNorm")
    // WITHOUT stage 1 (raw chain: lines + paragraphs only): the texts
    // differ byte-wise, so both survive — the drift the composed
    // pipeline exists to catch
    val rawLined = Lines.cleanLines(pair)
      .select(col("doc_id"), col("clean_text").as("text"))
    val rawPared = Lines.dedupParagraphs(rawLined)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(rawPared == Set(-12L, -11L),
      s"un-normalized pair must NOT dedup (fixture vacuous otherwise): $rawPared")
    // and the unification really is textual identity after fixText
    val fx = pair.select(Text.fixText(col("text"))).as[String].collect()
    assert(fx(0) == fx(1), "fixText must unify the planted pair")
  }

  test("composed pipeline: stage contracts hold end-to-end on the sf corpus") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val src = doc.select(col("doc_id"), col("text"), col("lang"))
    val bench = doc.where(col("doc_id") % 20 === 7)
      .select(col("doc_id"), col("text"))
    val out = Pretrain.run(src, bench).collect()
    assert(out.nonEmpty, "pipeline produced an empty corpus")
    // manifest invariants: positions are dense 1..n per shard
    val byShard = out.groupBy(_.getLong(0))
    byShard.foreach { case (sid, rows) =>
      val ps = rows.map(_.getLong(1)).sorted.toSeq
      assert(ps == (1L to ps.length).toSeq, s"shard $sid positions not dense: $ps")
    }
    val ids = out.map(_.getLong(2)).toSet
    // no benchmark doc survives decontamination
    val benchIds = bench.select(col("doc_id")).as[Long].collect().toSet
    assert(ids.intersect(benchIds).isEmpty,
      "benchmark docs leaked through decontamination")
    // every survivor is a blocklist-clean page
    val badIds = Lines.badwordAudit(doc).where(!col("kept"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ids.intersect(badIds).isEmpty,
      "blocklisted pages leaked into the manifest")
    // the gate kept at most 30% of the deduped corpus
    assert(ids.size <= (doc.count() * 3) / 10,
      s"gate fraction violated: ${ids.size}")
  }

  test("examples: packs respect training order, budget overrun bounded by one chunk") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val src = doc.select(col("doc_id"), col("text"), col("lang"))
    val bench = doc.where(col("doc_id") % 20 === 7)
      .select(col("doc_id"), col("text"))
    val packs = Pretrain.examples(src, bench, budget = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packs.nonEmpty, "no examples produced")
    // offset-quota bound: pack k spans running offsets
    // [first ≥ k·B, first ≥ (k+1)·B), and each boundary lands within
    // one chunk (< 64 tokens) of its quota — so every pack except a
    // shard's LAST holds within ±one-chunk of the budget
    val byShard = packs.groupBy(_._1)
    byShard.foreach { case (sid, ps) =>
      val sorted = ps.sortBy(_._2)
      // pack ids dense from 0
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"shard $sid pack ids not dense: ${sorted.map(_._2).toSeq}")
      sorted.dropRight(1).foreach { case (_, pid, _, toks) =>
        assert(toks > 256 - 64 && toks < 256 + 64,
          s"shard $sid pack $pid tokens $toks outside (budget-chunk, budget+chunk)")
      }
    }
    // conservation: Σ pack_tokens == Σ chunk tokens of the manifest
    // docs' CLEANED text (no chunk lost or duplicated by the packing)
    val cleaned = Pretrain.prepText(src.select(col("doc_id"), col("text")))
      .join(Pretrain.run(src, bench).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    val total = graft.functions.Text.chunk(cleaned, col("text"))
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(packs.map(_._4).sum == total,
      s"pack tokens ${packs.map(_._4).sum} != chunk tokens $total")
  }

  test("examplesBpe: budget in trained-BPE tokens, character fallback for OOV") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val src = doc.select(col("doc_id"), col("text"), col("lang"))
    val bench = doc.where(col("doc_id") % 20 === 7)
      .select(col("doc_id"), col("text"))
    val bpe = Pretrain.examplesBpe(src, bench, doc, budget = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bpe.nonEmpty, "no BPE examples produced")
    // the pack invariants carry over, in BPE units: dense ids, and
    // every non-final pack within one chunk's worth of the budget — a
    // 64-word chunk costs at most 64·max_word_len BPE tokens, but the
    // overrun is still bounded by ONE chunk's n_bpe
    bpe.groupBy(_._1).foreach { case (sid, ps) =>
      val sorted = ps.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"shard $sid BPE pack ids not dense: ${sorted.map(_._2).toSeq}")
      sorted.dropRight(1).foreach { case (_, pid, _, toks) =>
        assert(toks > 0, s"shard $sid pack $pid empty")
      }
    }
    // BPE budgets are REAL: after 8 merges a word still costs >1 token
    // on average, so the BPE pack count must exceed the whitespace
    // pack count for the same budget (each chunk costs strictly more)
    val ws = Pretrain.examples(src, bench, budget = 256).count()
    assert(bpe.length > ws,
      s"BPE packs ${bpe.length} not > whitespace packs $ws - the budget " +
        "is not being measured in subword tokens")
    // unit pin on the counting itself: trained segments for in-vocab
    // words, character count for OOV (what a real tokenizer does)
    val seg = graft.operators.Pretrain
      .bpeSegmentsOf(doc.select(col("doc_id"), col("text")), rounds = 8)
    val segMap = seg.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).size).toMap
    val probe = Seq((1L, "the the zzqqxx")).toDF("doc_id", "text")
    val counted = probe
      .select(explode(Text.tokens(col("text"))).as("token"))
      .join(seg.select(col("token"), size(col("sy")).cast("long").as("n_sub")),
        Seq("token"), "left")
      .agg(sum(coalesce(col("n_sub"), length(col("token")).cast("long"))))
      .head().getLong(0)
    val want = 2L * segMap.getOrElse("the", "the".length) + 6L
    assert(counted == want, s"unit count $counted != $want " +
      s"(the=${segMap.get("the")}, zzqqxx OOV -> 6 chars)")
  }

  test("tokenizer lake: indexed packs == in-session; republish re-resolves") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val src = doc.select(col("doc_id"), col("text"), col("lang"))
    val bench = doc.where(col("doc_id") % 20 === 7)
      .select(col("doc_id"), col("text"))
    val lake = java.nio.file.Files
      .createTempDirectory("graft-tok-lake").toString
    val v0 = Pretrain.publishTokenizerLake(doc, lake)
    assert(v0 == 0)
    // the round trip is invisible: published-tokenizer packs must be
    // byte-identical to training in-session (same corpus, same rounds)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("shard_id"), col("pack_id"))
        .collect().map(_.toSeq).toSeq
    val got = rows(Pretrain.examplesBpeIndexed(spark, lake, src, bench))
    val want = rows(Pretrain.examplesBpe(src, bench, doc))
    assert(got == want, "published-tokenizer packs diverged from in-session")
    // the published group carries both artifacts from ONE training
    // run: merges has 8 ordered steps, segments re-derives n_sub
    val ver = graft.sources.StormSinks.currentVersionName(spark, lake)
    val merges = graft.sources.StormSinks
      .readGroupTableAt(spark, lake, ver, "merges")
    assert(merges.select(col("step")).as[Int].collect().sorted.toSeq
      == (1 to 8), "merge table steps not 1..8")
    assert(graft.sources.StormSinks
      .readGroupTableAt(spark, lake, ver, "meta").head().getInt(0) == 8)
    // republish on a DIFFERENT tokenizer corpus: the probe resolves
    // the new pointer, and the packs change (different vocabulary →
    // different segment costs) — a stale-pointer probe would not
    val v1 = Pretrain.publishTokenizerLake(
      doc.where(col("doc_id") % 3 === 0), lake, bpeRounds = 2)
    assert(v1 == 1)
    val got2 = rows(Pretrain.examplesBpeIndexed(spark, lake, src, bench))
    val want2 = rows(Pretrain.examplesBpe(src, bench,
      doc.where(col("doc_id") % 3 === 0), bpeRounds = 2))
    assert(got2 == want2, "republished tokenizer not re-resolved")
    assert(got2 != got, "v1 tokenizer produced v0's packs — stale pointer?")
  }

  test("yieldReport: monotone funnel, endpoints pinned to raw input and manifest") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val src = doc.select(col("doc_id"), col("text"), col("lang"))
    val bench = doc.where(col("doc_id") % 20 === 7)
      .select(col("doc_id"), col("text"))
    val rep = Pretrain.yieldReport(src, bench).collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("0_raw", "1_blocklist",
      "2_line_clean", "3_paragraph_dedup", "4_cluster_dedup",
      "5_classifier_gate", "6_decontaminate", "7_temperature_sample"))
    val counts = rep.map(_.getAs[Long]("n_docs"))
    assert(counts.head == doc.count())
    // every stage only removes documents
    counts.zip(counts.tail).foreach { case (a, b) =>
      assert(b <= a, s"stage grew the corpus: $a -> $b")
    }
    // the classifier gate keeps exactly floor(3n/10) of its input
    assert(counts(5) == counts(4) * 3L / 10L,
      s"gate kept ${counts(5)} of ${counts(4)}")
    // the funnel's tail is the manifest the trainer reads
    assert(counts.last == Pretrain.run(src, bench).count())
  }

  test("curriculum: every doc placed once, phases band quality, positions dense") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val cur = Pretrain.curriculum(doc, nShards = 4).collect()
    assert(cur.length == doc.count())
    assert(cur.map(_.getAs[Long]("doc_id")).distinct.length == cur.length)
    cur.foreach { r =>
      val (p, q) = (r.getAs[Long]("phase"), r.getAs[Double]("quality"))
      val want = if (q >= 0.75) 0L else if (q >= 0.5) 1L
                 else if (q >= 0.25) 2L else 3L
      assert(p == want, s"doc ${r.getAs[Long]("doc_id")}: quality $q in phase $p")
      assert(r.getAs[Long]("shard_id") >= 0 && r.getAs[Long]("shard_id") < 4)
    }
    // positions are 1..n dense within each (phase, shard)
    cur.groupBy(r => (r.getAs[Long]("phase"), r.getAs[Long]("shard_id")))
      .foreach { case (_, rows) =>
        val pos = rows.map(_.getAs[Long]("pos")).sorted
        assert(pos.head == 1L && pos.last == pos.length.toLong)
      }
    // the salted shuffle actually mixes: within some shard, doc ids
    // are not in ascending id order
    val anyShard = cur.filter(r => r.getAs[Long]("phase") == cur.head.getAs[Long]("phase")
      && r.getAs[Long]("shard_id") == cur.head.getAs[Long]("shard_id"))
      .sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id"))
    if (anyShard.length > 3)
      assert(anyShard.zip(anyShard.tail).exists { case (a, b) => a > b },
        "within-shard order looks like raw id order — salt not applied")
  }

  test("sftExamples: mask boundary, truncation, and drop rules") {
    import org.apache.spark.sql.functions._
    val fix = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")),   // 20 toks: kept whole
      (2L, (1 to 8).map(i => s"w$i").mkString(" ")),    // == promptTokens: drops
      (3L, (1 to 9).map(i => s"w$i").mkString(" ")),    // 1 response token
      (4L, (1 to 200).map(i => s"w$i").mkString(" ")),  // truncates to maxLen
      (5L, ""),                                         // empty: drops
      (6L, "   ")                                       // whitespace-only: drops
    ).toDF("doc_id", "text")
    val out = graft.operators.Pretrain.sftExamples(fix,
      promptTokens = 8, maxLen = 96).orderBy($"doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // 20 toks -> 22 rendered, prompt span 10, target 12
    assert(byId(1L).getAs[Long]("n_tokens") == 22L)
    assert(byId(1L).getAs[Long]("n_kept") == 22L)
    assert(byId(1L).getAs[Long]("n_target") == 12L)
    // 9 toks -> exactly one trainable token
    assert(byId(3L).getAs[Long]("n_target") == 1L)
    // 200 toks -> 202 rendered, truncated to 96 kept, 86 target
    assert(byId(4L).getAs[Long]("n_tokens") == 202L)
    assert(byId(4L).getAs[Long]("n_kept") == 96L)
    assert(byId(4L).getAs[Long]("n_target") == 86L)
    // the rendered stream is the template verbatim (re-derive doc 1)
    val expect1 = ("<|user|> " + (1 to 8).map(i => s"w$i").mkString(" ")
      + " <|assistant|> " + (9 to 20).map(i => s"w$i").mkString(" "))
    val sha1 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(expect1.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(byId(1L).getAs[String]("text_sha") == sha1)
    // mask stream: 10 zeros then ones
    val mask1 = ((1 to 22).map(i => if (i <= 10) "0" else "1")).mkString(",")
    val msha1 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(mask1.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(byId(1L).getAs[String]("mask_sha") == msha1)
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private def md5Mod(salt: String, id: Long, mod: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$id".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % mod
  }

  test("fimExamples: segment arithmetic, PSM rendering replay, rate-0 passthrough") {
    val fix = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 25).map(i => s"w$i").mkString(" ")),
      (3L, "solo"),
      (4L, ""),      // empty: n=0, always plain, sha("")
      (5L, (1 to 7).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    // rate 100: applied wherever the two sha cuts differ; full replay
    val out = Pretrain.fimExamples(fix, ratePct = 100)
      .orderBy($"doc_id").collect()
    out.foreach { r =>
      val (id, n) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"))
      val toks = if (n == 0) Seq.empty[String]
        else fix.where($"doc_id" === id).head.getString(1).split("\\s+").toSeq
      val (ca, cb) = (md5Mod("fima", id, n + 1), md5Mod("fimb", id, n + 1))
      val (p, q) = (math.min(ca, cb), math.max(ca, cb))
      val applied = p < q // gate is always true at rate 100
      assert(r.getAs[Boolean]("fim_applied") == applied)
      assert(r.getAs[Long]("n_prefix") + r.getAs[Long]("n_middle") +
        r.getAs[Long]("n_suffix") == n)
      val want = if (applied)
        (Seq("<|fim_pre|>") ++ toks.take(p.toInt) ++ Seq("<|fim_suf|>") ++
          toks.drop(q.toInt) ++ Seq("<|fim_mid|>") ++
          toks.slice(p.toInt, q.toInt)).mkString(" ")
      else toks.mkString(" ")
      assert(r.getAs[String]("text_sha") == sha256Hex(want),
        s"doc $id rendered stream drifted (p=$p q=$q)")
      if (applied) {
        assert(r.getAs[Long]("n_prefix") == p)
        assert(r.getAs[Long]("n_middle") == q - p)
        assert(r.getAs[Long]("n_suffix") == n - q)
      } else {
        assert(r.getAs[Long]("n_prefix") == n)
        assert(r.getAs[Long]("n_middle") == 0L)
        assert(r.getAs[Long]("n_suffix") == 0L)
      }
    }
    // rate 0: nothing applies; rendered == raw token stream
    val plain = Pretrain.fimExamples(fix, ratePct = 0)
      .orderBy($"doc_id").collect()
    assert(plain.forall(!_.getAs[Boolean]("fim_applied")))
    assert(plain.find(_.getAs[Long]("doc_id") == 4L).get
      .getAs[String]("text_sha") == sha256Hex(""))
    assert(plain.find(_.getAs[Long]("doc_id") == 1L).get
      .getAs[String]("text_sha") ==
        sha256Hex((1 to 10).map(i => s"w$i").mkString(" ")))
  }

  test("stitchContexts == plain-Scala offset-quota replay; over-budget doc overflows alone") {
    val fix = Seq(
      // source a: 4 docs of 3 tokens — budget 8 puts docs 1-3 in
      // context 0 (cum_prev 0,3,6 < 8) and doc 4 in context 1
      (1L, "a", "w1 w2 w3"), (2L, "a", "w4 w5 w6"),
      (3L, "a", "w7 w8 w9"), (4L, "a", "wa wb wc"),
      // source b: a 20-token doc overflows its own context; the next
      // doc starts context 2 (cum_prev 20 -> 20/8 = 2)
      (5L, "b", (1 to 20).map(i => s"x$i").mkString(" ")),
      (6L, "b", "y1 y2"),
      (7L, "c", "")   // empty doc: 0 tokens, its own context 0
    ).toDF("doc_id", "source", "text")
    val got = Pretrain.stitchContexts(fix, budget = 8)
      .orderBy($"source", $"context_id").collect()
    val byKey = got.map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("context_id")) -> r).toMap
    assert(got.map(r => (r.getAs[String]("source"),
      r.getAs[Long]("context_id"))).toSeq ==
      Seq(("a", 0L), ("a", 1L), ("b", 0L), ("b", 2L), ("c", 0L)))
    assert(byKey(("a", 0L)).getAs[Long]("n_docs") == 3L)
    assert(byKey(("a", 0L)).getAs[Long]("n_tokens") == 9L)
    assert(byKey(("a", 0L)).getAs[Long]("first_doc") == 1L)
    assert(byKey(("a", 0L)).getAs[Long]("last_doc") == 3L)
    assert(byKey(("a", 1L)).getAs[Long]("n_docs") == 1L)
    assert(byKey(("b", 0L)).getAs[Long]("n_tokens") == 20L)
    assert(byKey(("b", 2L)).getAs[Long]("n_docs") == 1L)
    // the stitched text is the ordered separator-join, byte-exact
    assert(byKey(("a", 0L)).getAs[String]("text_sha") ==
      sha256Hex("w1 w2 w3<|doc|>w4 w5 w6<|doc|>w7 w8 w9"))
    assert(byKey(("c", 0L)).getAs[String]("text_sha") == sha256Hex(""))
  }

  test("dpoPairs == plain-Scala pairing replay; disjoint; margin gate bites") {
    import graft.functions.Text
    val stop = "the and is of to in " // stopword mass lifts quality
    val fix = Seq(
      (1L, ("alpha beta gamma delta " + stop) * 12),  // long, clean
      (2L, ("epsilon zeta " + stop) * 5),             // mid length
      (3L, "!!! ??? %%% ###"),                        // punct-heavy junk
      (4L, "x"),                                      // single char
      (5L, ("eta theta iota " + stop) * 8),
      (6L, "kappa lambda")
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = Pretrain.dpoPairs(fix, buckets = 1, topK = 2, minMargin = 0.01)
      .orderBy($"pair_rank").collect()
    // independent replay: score with the same public scorer, pair in Scala
    val q = fix.select($"doc_id", Text.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val best = q.toSeq.sortBy { case (id, s) => (-s, id) }
    val worst = q.toSeq.sortBy { case (id, s) => (s, -id) }
    val want = (0 until 2).flatMap { i =>
      val (cid, cq) = best(i); val (rid, rq) = worst(i)
      if (2 * (i + 1) <= q.size && cq - rq >= 0.01)
        Some((i + 1L, cid, rid, cq, rq)) else None
    }
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, (rank, cid, rid, cq, rq)) =>
      assert(r.getAs[Long]("pair_rank") == rank)
      assert(r.getAs[Long]("chosen_id") == cid)
      assert(r.getAs[Long]("rejected_id") == rid)
      assert(r.getAs[Double]("chosen_q") == cq)
      assert(r.getAs[Double]("rejected_q") == rq)
      assert(r.getAs[Double]("margin") > 0)
    }
    // chosen and rejected sets never overlap (structural disjointness)
    val ch = got.map(_.getAs[Long]("chosen_id")).toSet
    val rj = got.map(_.getAs[Long]("rejected_id")).toSet
    assert(ch.intersect(rj).isEmpty)
    // an impossible margin filters everything
    assert(Pretrain.dpoPairs(fix, buckets = 1, topK = 2,
      minMargin = 10.0).count() == 0L)
    // a 1-doc group can never pair with itself
    val solo = Seq((9L, "only doc")).toDF("doc_id", "text")
      .withColumn("source", lit("lonely"))
    assert(Pretrain.dpoPairs(solo, buckets = 1, topK = 2,
      minMargin = 0.0).count() == 0L)
  }
}
