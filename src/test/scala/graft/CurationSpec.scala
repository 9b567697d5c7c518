package graft

import org.apache.spark.sql.functions._
import graft.operators.{Classify, Knn, Dedup, Pretrain, Sampling}
import graft.sources.Tables

/** Specs for the round-8 curation operators: hard-negative mining
  * (#103), nearest-centroid classification (#104), CCNet perplexity
  * bucketing (#105), SoftDeDup down-weighted sampling (#106). Each is
  * replayed independently in plain Scala against the operator output. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def md5Bucket(salt: String, id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$id".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) % 1000000L
  }

  test("hardNegatives: k per query, no same-label hit, = brute-force replay") {
    val e = Tables.embeddings(spark, sfDir)
    val labelOf = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val got = Knn.hardNegatives(e, e.where($"vec_id" < 5), k = 5).collect()
    assert(got.length == 25)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("neg_label") != labelOf(q).toLong,
        s"same-label vector surfaced as a negative for query $q")
      assert(r.getAs[Long]("neg_label") == labelOf(r.getAs[Long]("vec_id")).toLong)
    }
    // brute-force truth: unfiltered top-k then drop same-label, re-rank
    val all = Knn.cosineTopK(e, e.where($"vec_id" < 5), k = Int.MaxValue)
      .select($"query_id", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    val want = all.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.filter(r => labelOf(r._2) != labelOf(q))
        .sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
        .map { case ((_, v, c), i) => (q, i + 1, v, c) }.toSeq
    }.toSet
    val gotSet = got.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSet
    assert(gotSet == want)
  }

  test("classifyByCentroid: centroids + argmax replay, agree flag consistent") {
    val e = Tables.embeddings(spark, sfDir)
    val vecs = e.select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Seq[Float])].collect()
    // exact integer-grid label centroids, replayed in plain Scala
    val cents: Map[Long, Array[Double]] = vecs.groupBy(_._2.toLong).map {
      case (lab, rows) =>
        val d = rows.head._3.length
        val sums = Array.fill(d)(0L)
        rows.foreach(r => r._3.zipWithIndex.foreach { case (x, i) =>
          sums(i) += math.floor(x.toDouble * 1000000.0 + 0.5).toLong })
        lab -> sums.map(s => s.toDouble / (rows.length.toDouble * 1000000.0))
    }
    def cos(a: Seq[Float], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i).toDouble
        nb += b(i) * b(i)
      }
      val raw = dot / (math.sqrt(na) * math.sqrt(nb))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Knn.classifyByCentroid(e).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("label"), r.getAs[Long]("pred_label"),
          r.getAs[Double]("cos"), r.getAs[Boolean]("agree"))).toMap
    assert(got.size == vecs.length)
    vecs.foreach { case (id, lab, emb) =>
      val scored = cents.toSeq.map { case (cl, c) => (cl, cos(emb, c)) }
      val (wantPred, wantCos) = scored.minBy { case (cl, c) => (-c, cl) }
      val (gLab, gPred, gCos, gAgree) = got(id)
      assert(gLab == lab.toLong && gPred == wantPred && gCos == wantCos)
      assert(gAgree == (gLab == gPred))
    }
    // resubstitution accuracy should beat 10-class chance (0.1) by a
    // wide margin on label-structured synthetic embeddings (~0.37 on
    // this testdata — the labels are only weakly separable by design)
    val acc = got.values.count(_._4).toDouble / got.size
    assert(acc > 0.2, s"nearest-centroid accuracy $acc at chance level")
  }

  test("text_ccnet: score-rule replay, head/middle/tail ~thirds, keep = not tail") {
    val sc = Classify.lmScores(Tables.documents(spark, sfDir))
      .select($"doc_id", $"avg_logprob").as[(Long, Double)].collect()
    val n = sc.length
    val si = sc.map { case (id, s) => (id, math.round(s * 1e6)) }
    val gt = si.map(_._2).groupBy(identity).map { case (s, xs) => s -> xs.length }
    def bucket(s: Long): Int = {
      val cum = gt.collect { case (s2, c) if s2 > s => c }.sum
      ((cum * 3L) / n).toInt
    }
    val got = SparkEntry.queries("text_ccnet")(spark, sfDir).collect()
    assert(got.length == n)
    val names = Seq("head", "middle", "tail")
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val want = bucket(si.find(_._1 == id).get._2)
      assert(r.getAs[String]("ppl_bucket") == names(want))
      assert(r.getAs[Boolean]("keep") == (want < 2))
    }
    // with (near-)distinct scores each bucket holds ~n/3
    val sizes = got.groupBy(_.getAs[String]("ppl_bucket")).view.mapValues(_.length)
    names.foreach(b => assert(math.abs(sizes(b) - n / 3.0) <= n * 0.05 + 2,
      s"bucket $b size ${sizes(b)} far from n/3 of $n"))
  }

  test("sample_softdedup: singletons always kept, cluster members by 1/c lattice") {
    val doc = Tables.documents(spark, sfDir)
    val labels = Dedup.clusters(Dedup.jaccardPairs(doc, k = 3, threshold = 0.5))
      .as[(Long, Long)].collect().toMap
    val ids = doc.select($"doc_id").as[Long].collect()
    val clusterOf = ids.map(id => id -> labels.getOrElse(id, id)).toMap
    val size = clusterOf.values.groupBy(identity).map { case (c, xs) => c -> xs.size }
    val want = ids.filter { id =>
      val c = size(clusterOf(id))
      md5Bucket("soft", id) < 1000000L / c
    }.toSet
    val got = SparkEntry.queries("sample_softdedup")(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == want)
    // every singleton rides through whole (threshold = full lattice)
    val singletons = ids.filter(id => size(clusterOf(id)) == 1).toSet
    assert(singletons.subsetOf(got))
    // multi-doc clusters are actually down-weighted at this SF: fewer
    // kept members than total members across clusters of size >= 2
    val multi = ids.filter(id => size(clusterOf(id)) >= 2)
    assert(multi.nonEmpty && multi.count(got) < multi.length)
  }

  test("corpus_gopher: integer rule replay, rules actually discriminate") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val en = graft.functions.Text.stopwords.head._2.toSet
    val got = SparkEntry.queries("corpus_gopher")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == docs.length)
    var passes = 0
    docs.foreach { case (id, text) =>
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val tk = if (norm.isEmpty) Array.empty[String] else norm.split(" ")
      val bg = tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toArray
      val n = tk.length.toLong
      val totLen = tk.map(_.length.toLong).sum
      val nAlpha = tk.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val stopHits = tk.count(en).toLong
      val topN = if (n == 0) 0L else tk.groupBy(identity).values.map(_.length).max.toLong
      val nBg = bg.length.toLong
      val nBgD = bg.distinct.length.toLong
      val want = Map(
        "r_len" -> (n >= 30 && n <= 100000),
        "r_meanlen" -> (totLen >= 3 * n && totLen <= 10 * n && n > 0),
        "r_alpha" -> (5 * nAlpha >= 4 * n && n > 0),
        "r_stop" -> (stopHits >= 2),
        "r_toptok" -> (5 * topN <= n),
        "r_dupbg" -> ((nBg - nBgD) * 5 <= nBg))
      val row = got(id)
      want.foreach { case (rule, w) =>
        assert(row.getAs[Boolean](rule) == w, s"doc $id rule $rule") }
      assert(row.getAs[Boolean]("pass") == want.values.forall(identity))
      if (row.getAs[Boolean]("pass")) passes += 1
    }
    assert(passes > 0 && passes < docs.length,
      s"gopher rules don't discriminate: $passes/${docs.length} pass")
  }

  test("softdedup lattice helper agrees with Spark-side hashBucket") {
    val df = (0L until 50L).toDF("id")
    val sparkB = df.select($"id", Sampling.hashBucket($"id", "soft").as("b"))
      .as[(Long, Long)].collect().toMap
    (0L until 50L).foreach(id => assert(sparkB(id) == md5Bucket("soft", id)))
  }

  test("corpus_drift: PSI terms conserve counts and totals are nonnegative") {
    val doc = graft.sources.Tables.documents(spark, sfDir)
    val n = doc.count()
    val cut = math.floor(n * 0.7).toLong
    val out = SparkEntry.queries("corpus_drift")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (feat, rows) =>
      // count conservation: every doc lands in exactly one bucket/side
      assert(rows.map(_._3).sum == cut, s"$feat ref mass")
      assert(rows.map(_._4).sum == n - cut, s"$feat cur mass")
      // PSI >= 0 analytically ((p-q) and ln(p/q) share sign); allow
      // one grid step of slack per bucket for the 1e-6 rounding
      val total = rows.map(_._5).sum
      assert(total >= -rows.length, s"$feat PSI went negative: $total")
      // at least one feature should register SOME drift signal at
      // this corpus (terms not all exactly zero)
    }
    assert(out.map(_._5).exists(_ != 0L), "all PSI terms zero - vacuous")
  }

  test("BPE trainer: greedy left-to-right merges, overlap runs, lowest-pair ties") {
    // adversarial fixture: "aaaa"/"aaa" exercise overlapping (a,a)
    // runs (greedy merges positions 1,3,... like the sequential scan:
    // aaa -> [aa][a], NOT [a][aa]), and rounds 2-4 are all weight-1
    // ties resolved by the lexicographically lowest (l, r)
    val doc = Seq((0L, "aaaa aaa ab")).toDF("doc_id", "text")
    val got = Pretrain.bpeTrainOf(doc, rounds = 4)
      .orderBy($"step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "a", "a", 5L),   // aaaa contributes 3 overlapping pairs, aaa 2
      (2, "a", "b", 1L),   // tie at 1: ("a","b") < ("aa","a") < ("aa","aa")
      (3, "aa", "a", 1L),  // aaa became [aa][a] (greedy), not [a][aa]
      (4, "aa", "aa", 1L)  // aaaa became [aa][aa]
    ), s"merge chain mismatch: ${got.toSeq}")
    // determinism: an independent run reproduces the chain exactly
    val again = Pretrain.bpeTrainOf(doc.repartition(3), rounds = 4)
      .orderBy($"step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
  }

  test("BPE apply: final segmentation reflects the whole merge chain") {
    // same fixture as the trainer test — after 4 merges every word
    // collapses to one symbol: aaaa via (a,a) then (aa,aa); aaa via
    // (a,a) then (aa,a); ab via (a,b)
    val doc = Seq((0L, "aaaa aaa ab")).toDF("doc_id", "text")
    val segs = Pretrain.bpeSegmentsOf(doc, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(segs == Map(
      "aaaa" -> List("aaaa"), "aaa" -> List("aaa"), "ab" -> List("ab")),
      s"got $segs")
    // fewer rounds leave partial merges: after round 1 only (a,a)
    val seg1 = Pretrain.bpeSegmentsOf(doc, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(seg1 == Map(
      "aaaa" -> List("aa", "aa"), "aaa" -> List("aa", "a"), "ab" -> List("a", "b")),
      s"got $seg1")
  }

  test("keep-one dupcut: elected copy survives intact, every other occurrence cut") {
    val shared = "a b c d e f g h" // one duplicated 8-token window
    val doc = Seq(
      (0L, shared + " x0 y0 z0"), // canonical owner (lowest doc_id)
      (1L, "q0 " + shared),       // loses its copy
      (2L, shared + " x0 y0 z0")  // full copy of doc 0: every window non-canonical
    ).toDF("doc_id", "text")
    val got = Dedup.dupcutKeepOneOf(doc).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    def sha(s: String) =
      java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 0 owns every one of its windows (docs 0/2 identical → all 4
    // window elections land on doc 0): nothing cut, even though its
    // tokens are ALSO covered by duplicated windows — election beats
    // cut. doc 1 keeps only its unique prefix token. doc 2 is fully cut.
    assert(got == Seq(
      (0L, 11L, 0L, sha(shared + " x0 y0 z0")),
      (1L, 9L, 8L, sha("q0")),
      (2L, 11L, 11L, sha(""))), s"got $got")
    // contrast: the cut-all variant would shred doc 0's shared span too
  }
}
