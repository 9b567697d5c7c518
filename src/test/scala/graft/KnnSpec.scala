package graft

import org.apache.spark.sql.functions._
import graft.operators.Knn
import graft.sources.Tables

class KnnSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: parallel=1, orthogonal=0, antiparallel=-1") {
    val df = Seq(
      (Seq(1f, 0f, 2f), Seq(2f, 0f, 4f), 1.0),
      (Seq(1f, 0f, 0f), Seq(0f, 3f, 0f), 0.0),
      (Seq(1f, 1f, 0f), Seq(-1f, -1f, 0f), -1.0)
    ).toDF("a", "b", "want")
    df.select(Knn.cosine($"a", $"b").as("got"), $"want").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("brute-force top-k: k rows per query, self excluded, descending") {
    val e = Tables.embeddings(spark, sfDir)
    val top = Knn.cosineTopK(e, e.where($"vec_id" < 3), k = 5).collect()
    assert(top.length == 15)
    top.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(!rows.exists(_.getAs[Long]("vec_id") == q))
      val scores = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
  }

  test("embedding near-dup: exact precision, nonzero recall vs brute force") {
    val e = Tables.embeddings(spark, sfDir)
    val t = 0.35
    val got = Knn.embeddingPairs(e, threshold = t)
      .select("vec_a", "vec_b", "cos").collect()
    // precision = 1: every returned pair clears the threshold
    got.foreach(r => assert(r.getDouble(2) >= t))
    // brute-force truth for recall
    val all = Knn.cosineTopK(e, e, k = Int.MaxValue)
    val truth = all.where($"cos" >= t && $"query_id" < $"vec_id")
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val gotSet = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSet.subsetOf(truth))
    if (truth.nonEmpty) {
      val recall = (truth & gotSet).size.toDouble / truth.size
      assert(recall >= 0.2, s"embedding LSH recall $recall collapsed")
    }
  }

  test("autoBandBits: occupancy-targeted — 4 bits at test scale, ~20 at 1e9") {
    assert(Knn.autoBandBits(500) == 4)
    assert(Knn.autoBandBits(2000) == 4)
    assert(Knn.autoBandBits(1000000) == 10)
    assert(Knn.autoBandBits(1000000000L) == 20)   // ~1e6 buckets, ~1k rows each
    assert(Knn.autoBandBits(100000000000L) == 24) // clamped ceiling
  }

  test("IVF near-dup: precision exact, pairs are a subset of brute-force truth") {
    val e = Tables.embeddings(spark, sfDir)
    val t = 0.35
    val got = Knn.ivfPairs(e, threshold = t, nCells = 16)
      .select("vec_a", "vec_b", "cos").collect()
    got.foreach(r => assert(r.getDouble(2) >= t))
    val all = Knn.cosineTopK(e, e, k = Int.MaxValue)
    val truth = all.where($"cos" >= t && $"query_id" < $"vec_id")
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val gotSet = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSet.subsetOf(truth))
    if (truth.nonEmpty) assert(gotSet.nonEmpty, "IVF found no pairs at all")
  }

  test("IVF ANN: k rows per query, self excluded, candidates from probed cells only") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 10)
    val got = Knn.ivfTopK(e, q, k = 5, nCells = 16, nProbe = 16) // probe ALL cells
    val exact = Knn.cosineTopK(e, q, k = 5)
    // probing every cell makes IVF exhaustive -> must equal brute force
    assert(got.exceptAll(exact).isEmpty && exact.exceptAll(got).isEmpty)
    val probed = Knn.ivfTopK(e, q, k = 5, nCells = 16, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    probed.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.length <= 5 && !rows.exists(_._2 == qid))
    }
  }

  test("LSH ANN: candidates only, reasonable recall vs exact on testdata") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 10)
    val exact = Knn.cosineTopK(e, q, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Knn.lshTopK(e, q, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall collapsed — bucketing broken?")
    // every approx hit must be a real corpus vector with a computable score
    assert(approx.forall(_._2 >= 0))
  }

  test("k-means: partition-layout-invariant, valid cells, assignment is argmax") {
    val e = Tables.embeddings(spark, sfDir)
    val a = Knn.kmeansAssignments(e, k = 8, iters = 2)
      .select("vec_id", "cell_id", "cos")
    // exact-integer centroid arithmetic => bit-identical results on any
    // partitioning (the property that makes the oracle replay possible)
    val b = Knn.kmeansAssignments(e.repartition(7), k = 8, iters = 2)
      .select("vec_id", "cell_id", "cos")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val rows = a.collect()
    assert(rows.length == e.count())
    val cells = rows.map(_.getAs[Long]("cell_id")).distinct
    assert(cells.forall(c => c >= 0 && c < 8))
    assert(cells.length > 1, "k-means collapsed to one cell")
  }

  test("k-means trainer: final plan shape constant in iters (per-round materialization)") {
    val e = Tables.embeddings(spark, sfDir)
    // without per-round centroid materialization round r's plan nests
    // rounds 1..r−1 (O(iters²) corpus passes on execution); with it
    // the final plan is exactly one corpus scan + the last round's
    // materialized (ExistingRDD) centroid table, at ANY iters
    def shape(iters: Int): (Int, Boolean) = {
      val p = Knn.kmeansAssignments(e, k = 8, iters = iters)
        .queryExecution.executedPlan.toString
      ("(FileScan|Scan) parquet".r.findAllIn(p).length, p.contains("ExistingRDD"))
    }
    val (scans2, rdd2) = shape(2)
    val (scans8, rdd8) = shape(8)
    assert(rdd2 && rdd8, "per-round centroids not materialized")
    assert(scans2 == scans8 && scans8 <= 1,
      s"k-means final plan grew with iters: $scans2 scans @2 vs $scans8 @8")
    // results at higher iters stay bit-deterministic across partitionings
    val a = Knn.kmeansAssignments(e, k = 8, iters = 5).select("vec_id", "cell_id", "cos")
    val b = Knn.kmeansAssignments(e.repartition(7), k = 8, iters = 5)
      .select("vec_id", "cell_id", "cos")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("semantic dedup: kept set has no same-cell lower-id neighbor >= threshold") {
    val e = Tables.embeddings(spark, sfDir)
    val t = 0.35
    val kept = Knn.semanticKeep(e, k = 8, iters = 2, threshold = t)
    val assigned = Knn.kmeansAssignments(e, k = 8, iters = 2)
    // every kept vector: no kept-or-dropped lower-id neighbor in its
    // cell clears the threshold
    val a = assigned.select($"cell_id", $"vec_id".as("vec_a"), $"embedding".as("emb_a"))
    val b = assigned.select($"cell_id", $"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    val offending = kept.join(
      a.join(b, Seq("cell_id")).where($"vec_a" < $"vec_b")
        .where(round(Knn.cosine($"emb_a", $"emb_b"), 6) >= t)
        .select($"vec_b".as("vec_id")).distinct(),
      Seq("vec_id"))
    assert(offending.count() == 0)
    assert(kept.count() > 0 && kept.count() < e.count(),
      "semantic dedup dropped nothing or everything")
  }

  test("int8 quantization: values in range, round-trip error <= scale/2") {
    val e = Tables.embeddings(spark, sfDir)
    val q = Knn.quantizeInt8(e)
    assert(q.count() == e.count())
    // every component within int8 symmetric range
    assert(q.where(exists(col("q"), x => x > 127 || x < -127)).count() == 0)
    // dequantized error bound: |x - q*scale_raw| <= scale_raw/2 per
    // component (use the un-rounded scale = max|x|/127)
    val err = q
      .withColumn("mx", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .where(col("mx") > 0)
      .withColumn("bad",
        exists(zip_with(col("embedding"), col("q"),
            (x, qi) => abs(x.cast("double") - qi * col("mx") / lit(127.0))),
          d => d > col("mx") / lit(127.0) / 2 + lit(1e-12)))
      .where(col("bad")).count()
    assert(err == 0, "quantization error exceeded half a step")
    // zero vector edge: all-zero quantizes to zeros with scale 0
    import spark.implicits._
    val z = Seq((1L, Array.fill(4)(0f))).toDF("vec_id", "embedding")
    val zq = Knn.quantizeInt8(z).select("scale", "q").head
    assert(zq.getDouble(0) == 0.0 && zq.getSeq[Int](1).forall(_ == 0))
  }

  test("graph_knn matches an independent same-cell top-3 replay") {
    // plain-Scala IVF replay: centroids = first autoCells(n) vectors
    // (max(16, ceil(sqrt(n))) — the corpus-size-derived cell count the
    // shipped keys use), assignment by rounded-cosine argmax (ties to
    // the lowest cell), then per vector the top-3 same-cell neighbors
    // by (cos desc, nb_id) — sequential-sum doubles match the kernel
    // and DuckDB bit-for-bit
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos6(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nc = Knn.autoCells(vecs.length.toLong)
    assert(nc == math.max(16, math.ceil(math.sqrt(vecs.length.toDouble)).toInt))
    val cents = vecs.filter(_._1 < nc)
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.map { case (cid, c) => (cos6(v, c), -cid) }.max._2 * -1
    }.toMap
    val byId = vecs.toMap
    val expected = vecs.flatMap { case (id, v) =>
      vecs.filter(o => o._1 != id && cellOf(o._1) == cellOf(id))
        .map(o => (o._1, cos6(v, byId(o._1))))
        .sortBy { case (nb, c) => (-c, nb) }.take(3).zipWithIndex
        .map { case ((nb, c), i) => (id, i + 1, nb, c) }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("graph_knn")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq)

    // graph_clusters: mutual-top-3 edges + union-find over the same
    // replayed neighbor lists must reproduce the min-label components,
    // with singletons labelled by themselves
    val top3 = expected.groupBy(_._1)
      .view.mapValues(_.map(_._3).toSet).toMap
    val mutual = expected.flatMap { case (a, _, b, _) =>
      if (a < b && top3.getOrElse(b, Set.empty[Long]).contains(a)) Some((a, b)) else None
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedClu = vecs.map(_._1).map(id => (id, find(id))).sortBy(_._1)
    val gotClu = SparkEntry.queries("graph_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotClu.toSeq == expectedClu.toSeq)
    assert(mutual.nonEmpty, "testdata produced no mutual edges — weak test")
  }

  test("mmrRerank == plain-Scala greedy MMR replay; diversity actually bites") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val vecs = e.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosI(a: Array[Double], b: Array[Double]): Long =
      math.round(BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    val queries = vecs.keys.filter(_ < 10).toSeq.sorted
    val expected = queries.flatMap { q =>
      val cand = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cosI(vecs(c), vecs(q))))
        .sortBy { case (c, r) => (-r, c) }.take(10)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      val chosen = scala.collection.mutable.Set.empty[Long]
      (1 to 5).foreach { t =>
        val best = cand.filterNot(c => chosen(c._1)).map { case (c, r) =>
          val ms = if (chosen.isEmpty) 0L
            else chosen.map(s => cosI(vecs(c), vecs(s))).max
          (c, 7L * r - 3L * ms)
        }.minBy { case (c, m) => (-m, c) }
        sel += ((q, best._1, t)); chosen += best._1
        val mmr = sel.last
        assert(mmr._3 == t)
      }
      sel.map { case (qq, c, t) => (qq, t, c) }
    }.toSet
    val got = Knn.mmrRerank(e, e.where($"vec_id" < 10), k = 5, pool = 10)
      .select($"query_id", $"rk", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected)
    // diversity property: on at least one query the MMR set differs
    // from the pure relevance top-5 (else the re-rank is a no-op here)
    val top5 = Knn.cosineTopK(e, e.where($"vec_id" < 10), k = 5)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._3)) != top5,
      "MMR should reorder at least one query's set on this corpus")
  }

  test("mmrRerank at k=50: flat plan (per-step materialization) and pool-bounded time") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 3)
    // without per-step materialization the greedy loop's plan DOUBLES
    // per step (selected_{t-1} appears twice in selected_t) — k=50
    // would be 2^49 nested re-executions. With it, the final frame is
    // one sort over the last materialized union: zero joins, zero
    // windows, plan flat in k.
    val t0 = System.nanoTime()
    val out = Knn.mmrRerank(e, q, k = 50, pool = 60)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), "steps not materialized")
    assert(!plan.contains("Join") && "Window".r.findAllIn(plan).isEmpty,
      s"final MMR frame should read the materialized trajectory only:\n$plan")
    val rows = out.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 3 * 50)
    // per-query ranks are exactly 1..50, no repeats
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to 50))
      assert(rs.map(_.getAs[Long]("vec_id")).distinct.length == 50)
    }
    // generous wall bound: 50 tiny steps over materialized pools — a
    // re-execution blowup would be hours, not seconds
    assert(secs < 120, f"k=50 MMR took $secs%.1fs — step re-execution came back?")
  }

  test("diversify: drops exactly each cell's most-prototypical quarter") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val k = graft.operators.Knn.autoCells(e.count())
    val assigned = graft.operators.Knn.kmeansAssignments(e, k, iters = 2)
      .select(col("vec_id"), col("cell_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val kept = graft.operators.Knn.diversify(e, k, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keptIds = kept.map(_._1).toSet
    assigned.groupBy(_._2).foreach { case (cell, members) =>
      val cellKept = members.filter(m => keptIds.contains(m._1))
      assert(cellKept.length == members.length - members.length / 4,
        s"cell $cell: ${members.length} members, ${cellKept.length} kept")
      if (members.length / 4 > 0) {
        // every dropped member is at least as prototypical (by the
        // (cos DESC, vec_id) order) as every kept one
        val dropped = members.filterNot(m => keptIds.contains(m._1))
        val worstDropped = dropped.map(m => (-m._3, m._1)).max
        val bestKept = cellKept.map(m => (-m._3, m._1)).min
        assert(worstDropped._1 < bestKept._1 ||
          (worstDropped._1 == bestKept._1 && worstDropped._2 < bestKept._2),
          s"cell $cell: kept a more-prototypical member than one dropped")
      }
    }
    assert(kept.nonEmpty && kept.length < assigned.length)
  }

  test("retrievalEval: hand-computed fixture (hits, MRR, nDCG via the gain table)") {
    // query 0 (label 1, (1,0)); candidates ranked 1:id1(rel) 2:id2
    // 3:id3(rel) 4:id4 — hits=2, first_rel=1, dcg=g1+g3=1.5e6,
    // idcg=prefix(2)=1630929
    val e = Seq(
      (0L, Seq(1f, 0f), 1),
      (1L, Seq(1f, 0f), 1),
      (2L, Seq(0.8f, 0.6f), 0),
      (3L, Seq(0.6f, 0.8f), 1),
      (4L, Seq(0f, 1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val r = Knn.retrievalEval(e, e.where($"vec_id" === 0), k = 10).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_rel") == 2L)
    assert(row.getAs[Long]("hits") == 2L)
    assert(row.getAs[Long]("first_rel") == 1L)
    assert(row.getAs[Long]("dcg_i") == 1500000L)
    assert(row.getAs[Long]("idcg_i") == 1630929L)
    assert(row.getAs[Double]("recall") == 1.0)
    assert(row.getAs[Double]("mrr") == 1.0)
    assert(math.abs(row.getAs[Double]("ndcg") - 0.9197212141055803) < 1e-6)
  }

  test("contrastiveTriplets: fixture — nearest same-label positive, hard negatives, margins") {
    // anchor 0 (label 1): positive must be id1 (closest same-label;
    // id4 is same-label but farther), negatives id2 (cos 1.0) then
    // id5 (cos ~0.39, beats id3's 0.0) by hardness.
    // anchor 5 (label 9, no other member): no positive -> no rows.
    val e = Seq(
      (0L, Seq(1f, 0f), 1),
      (1L, Seq(0.9f, 0.1f), 1),
      (2L, Seq(1f, 0f), 0),
      (3L, Seq(0f, 1f), 0),
      (4L, Seq(0.5f, 0.5f), 1),
      (5L, Seq(0.3f, 0.7f), 9)
    ).toDF("vec_id", "embedding", "label")
    val got = Knn.contrastiveTriplets(e,
      e.where($"vec_id" === 0 || $"vec_id" === 5), nNeg = 2).collect()
    assert(got.length == 2, got.mkString("; "))
    assert(got.forall(_.getAs[Long]("anchor_id") == 0L))
    assert(got.forall(_.getAs[Long]("pos_id") == 1L))
    val byRk = got.sortBy(_.getAs[Long]("neg_rk"))
    assert(byRk.map(_.getAs[Long]("neg_id")).toSeq == Seq(2L, 5L))
    byRk.foreach { r =>
      val m = BigDecimal(r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("margin") == m)
    }
    // negatives ordered hardest-first: margin grows with rank
    assert(byRk.head.getAs[Double]("margin") <= byRk.last.getAs[Double]("margin"))
  }

  test("contrastiveTriplets on testdata: nNeg rows per anchor, one scan, bounded") {
    val e = Tables.embeddings(spark, sfDir)
    val df = Knn.contrastiveTriplets(e, e.where($"vec_id" < 10), nNeg = 3)
    val got = df.collect()
    assert(got.length == 30)
    got.groupBy(_.getAs[Long]("anchor_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("neg_rk")).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rows.map(_.getAs[Long]("pos_id")).distinct.length == 1)
    }
    // the materialized rank frame means ONE parquet scan in the plan
    val plan = df.queryExecution.executedPlan.toString
    val scans = "(FileScan|Scan) parquet".r.findAllIn(plan).length
    assert(scans <= 1, s"expected the corpus scanned once, saw $scans")
  }

  test("annRecall == plain recomputation from the two rankings; bounds hold") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 10)
    val n = e.count()
    val got = Knn.annRecall(e, q, ks = Seq(1, 5, 10), nProbe = 4,
      corpusSize = n).collect()
    assert(got.length == 30)
    // independent recomputation from the two rankings' collected rows
    val exact = Knn.cosineTopK(e, q, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk"))).toSeq
    val approx = Knn.ivfTopK(e, q, 10, nProbe = 4, corpusSize = n).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk"))).toSeq
    got.foreach { r =>
      val (qid, k) = (r.getAs[Long]("query_id"), r.getAs[Long]("k"))
      val ex = exact.filter(t => t._1 == qid && t._3 <= k).map(_._2).toSet
      val ap = approx.filter(t => t._1 == qid && t._3 <= k).map(_._2).toSet
      val hits = (ex & ap).size.toLong
      assert(r.getAs[Long]("hits") == hits, s"q=$qid k=$k")
      assert(r.getAs[Double]("recall") ==
        BigDecimal(hits.toDouble / k).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // hits monotone non-decreasing in k per query
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val h = rows.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("hits"))
      assert(h.zip(h.tail).forall { case (a, b) => a <= b })
    }
  }

  test("rankingRecall over IVF-PQ == plain recomputation (quantization audit)") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 10)
    val n = e.count()
    val pq = graft.operators.Pq.ivfPqTopK(e, q, k = 5, corpusSize = n)
    val got = Knn.rankingRecall(e, q, ks = Seq(1, 5), pq).collect()
    assert(got.length == 20)
    val exact = Knn.cosineTopK(e, q, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk"))).toSeq
    val approx = pq.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk"))).toSeq
    got.foreach { r =>
      val (qid, k) = (r.getAs[Long]("query_id"), r.getAs[Long]("k"))
      val ex = exact.filter(t => t._1 == qid && t._3 <= k).map(_._2).toSet
      val ap = approx.filter(t => t._1 == qid && t._3 <= k).map(_._2).toSet
      assert(r.getAs[Long]("hits") == (ex & ap).size.toLong, s"q=$qid k=$k")
    }
  }

  test("retrievalEval: NULL-label candidates score as irrelevant, never null the row") {
    // candidate 3 has a NULL label: it must count as rel=0 (the
    // oracle's CASE 0-codes it), not null hits/dcg/recall for the query
    val e = Seq(
      (0L, Seq(1f, 0f), Some(1)),
      (1L, Seq(1f, 0f), Some(1)),
      (2L, Seq(0.8f, 0.6f), Some(0)),
      (3L, Seq(0.9f, 0.4f), None)
    ).toDF("vec_id", "embedding", "label")
    val r = Knn.retrievalEval(e, e.where($"vec_id" === 0), k = 10).collect()
    assert(r.length == 1)
    assert(!r.head.isNullAt(r.head.fieldIndex("hits")))
    assert(r.head.getAs[Long]("hits") == 1L)   // only id1 is relevant
    assert(r.head.getAs[Double]("recall") == 1.0) // n_rel = 1, hit at rank 1
    assert(r.head.getAs[Double]("ndcg") == 1.0)
  }

  test("retrievalEval invariants on testdata: one row per query, metrics bounded") {
    val e = Tables.embeddings(spark, sfDir)
    val rows = Knn.retrievalEval(e, e.where($"vec_id" < 10), k = 10).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (hits, nRel) = (r.getAs[Long]("hits"), r.getAs[Long]("n_rel"))
      assert(hits >= 0 && hits <= math.min(10L, nRel))
      assert(r.getAs[Long]("dcg_i") <= r.getAs[Long]("idcg_i"))
      Seq("recall", "mrr", "ndcg").foreach { m =>
        val v = r.getAs[Double](m)
        assert(v >= 0.0 && v <= 1.0, s"$m=$v out of range")
      }
      // a query with a first-rank relevant hit has mrr 1.0
      if (r.getAs[Long]("first_rel") == 1L) assert(r.getAs[Double]("mrr") == 1.0)
    }
  }

  test("rankingEval: exact ranking scores perfect; disjoint ranking scores zero") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 5)
    // identity audit: the exact top-5 graded against itself is a
    // perfect ranking — recall 1, MRR 1, nDCG 1, hits == n_rel
    val self = Knn.cosineTopK(e, q, k = 5)
      .select($"query_id", $"rk", $"vec_id")
    val perfect = Knn.rankingEval(e, q, k = 5, self).collect()
    assert(perfect.length == 5)
    perfect.foreach { r =>
      assert(r.getAs[Long]("hits") == r.getAs[Long]("n_rel"))
      assert(r.getAs[Double]("recall") == 1.0)
      assert(r.getAs[Double]("mrr") == 1.0)
      assert(r.getAs[Double]("ndcg") == 1.0)
    }
    // a ranking of vectors that can never be in the exact top-5
    // (fabricated ids) scores zeroed metrics, but every query still
    // gets its row (n_rel comes from the exact side)
    import spark.implicits._
    val bogus = (0L until 5L).flatMap(qid =>
      (1 to 5).map(rk => (qid, rk, -1000L - rk)))
      .toDF("query_id", "rk", "vec_id")
    val zero = Knn.rankingEval(e, q, k = 5, bogus).collect()
    assert(zero.length == 5)
    zero.foreach { r =>
      assert(r.getAs[Long]("hits") == 0L)
      assert(r.getAs[Long]("first_rel") == 0L)
      assert(r.getAs[Double]("recall") == 0.0)
      assert(r.getAs[Double]("mrr") == 0.0)
      assert(r.getAs[Double]("ndcg") == 0.0)
    }
  }

  test("outliers: flags exactly the far-from-centroid tail; std-0 cells flag nothing") {
    // cell A: five identical [1,0] vectors + one deviant [0.8,0.6];
    // cell B: two identical [0,1]. Seed = first k by vec_id, so id 0
    // ([1,0]) and id 1 ([0,1]) found the two cells. With a 5-vs-1
    // two-valued cosine set the deviant's z is exactly -sqrt(5) ≈
    // -2.2360: below the 2.0 threshold; the five majors sit at
    // +1/sqrt(5) ≈ 0.447. B has std 0 → z 0, nothing flagged.
    val e = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 0f)),
      (3L, Seq(1f, 0f)), (4L, Seq(1f, 0f)), (5L, Seq(1f, 0f)),
      (6L, Seq(0.8f, 0.6f)), (7L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Knn.outliers(e, k = 2, iters = 1, zThresh = 2.0)
      .orderBy($"vec_id").collect()
    assert(out.length == 8)
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[Long]("vec_id")).toSeq == Seq(6L),
      "exactly the planted deviant must flag")
    assert(math.abs(byId(6L).getAs[Double]("z") + math.sqrt(5.0)) < 1e-3)
    for (id <- Seq(0L, 2L, 3L, 4L, 5L))
      assert(math.abs(byId(id).getAs[Double]("z") - 1.0 / math.sqrt(5.0)) < 1e-3)
    // std-0 cell: z defined as 0, never flagged
    for (id <- Seq(1L, 7L)) {
      assert(byId(id).getAs[Double]("z") == 0.0)
      assert(!byId(id).getAs[Boolean]("is_outlier"))
    }
  }

  test("truncRecall: full-dim truncation is recall 1.0; prefix dims stay in [0,1]") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 5)
    // dims = the full width -> the "approximate" ranking IS the exact
    // ranking, so recall must be exactly 1.0 at every cutoff
    val dims = e.select(size(col("embedding"))).head.getInt(0)
    Knn.truncRecall(e, q, ks = Seq(1, 5), dims = dims).collect().foreach { r =>
      assert(r.getAs[Double]("recall") == 1.0,
        s"full-dim trunc must be exact: $r")
    }
    // a real prefix cut: well-formed recall, hits consistent with it
    Knn.truncRecall(e, q, ks = Seq(1, 5), dims = 16).collect().foreach { r =>
      val k = r.getAs[Long]("k")
      val hits = r.getAs[Long]("hits")
      assert(hits >= 0 && hits <= k)
      assert(math.abs(r.getAs[Double]("recall") - hits.toDouble / k) < 1e-9)
    }
  }
}
