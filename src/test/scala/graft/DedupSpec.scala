package graft

import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Dedup}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about spark shuffles and partition pruning"),
    (3L, "THE QUICK  brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0 mod case/ws
    (4L, "unrelated text regarding minhash signatures and jaccard estimation")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized copies") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length == 4) // 0+3 collapse
    val dupGroup = g.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("canonical_id") == 0L)
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    // 16 bands × 2 rows: collision probability ~1 for J >= 0.5 pairs
    val pairs = Dedup.minhashPairs(docs, k = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhashPairsAgainst == symmetric pairs restricted to cross (batch, corpus)") {
    // the asymmetric band join must find exactly the symmetric join's
    // cross-boundary pairs (same signatures, same banding, same
    // verify) — no corpus-corpus pair, no missed batch-corpus pair
    val corpus = docs.where($"doc_id" <= 2)
    val batch = docs.where($"doc_id" > 2)
    val asym = Dedup.minhashPairsAgainst(corpus, batch,
        k = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
      .select("doc_new", "doc_old", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sym = Dedup.minhashPairs(docs, k = 3, bands = 16, rowsPerBand = 2,
        threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a <= 2) != (b <= 2) }
      .map { case (a, b, j) => if (a > 2) (a, b, j) else (b, a, j) }.toSet
    assert(asym == sym, s"asym=$asym sym=$sym")
    assert(asym.exists { case (n, o, j) => n == 3L && o == 0L && j == 1.0 },
      "the exact re-ingest (3 vs 0) must surface with jaccard 1.0")
    assert(asym.forall { case (n, o, _) => n > 2 && o <= 2 })
  }

  test("containmentPairs: finds the quote-inside-page case Jaccard misses, directed") {
    import spark.implicits._
    val quote = "the storm surge flooded the coastal road before dawn"
    val page = quote + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val cdocs = Seq((0L, quote), (1L, page),
      (2L, "entirely unrelated content about query optimizers and joins"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(cdocs, k = 3, threshold = 0.8)
      .select("doc_a", "doc_b", "containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every 3-shingle of the quote appears in the page: containment 1.0,
    // and only in the quote→page direction (the page is NOT in the quote)
    assert(cont.toSeq == Seq((0L, 1L, 1.0)), cont.toSeq.toString)
    // jaccard at the same threshold misses it (|page| >> |quote|)
    val jac = Dedup.jaccardPairs(cdocs, k = 3, threshold = 0.8).collect()
    assert(jac.isEmpty, jac.toSeq.toString)
  }

  test("simhash: identical text -> distance 0; near-dup closer than unrelated") {
    val sims = docs.select($"doc_id", Dedup.simhash64Sha($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sims(0L) == sims(3L)) // normalization collapses case/ws
    val d01 = java.lang.Long.bitCount(sims(0L) ^ sims(1L))
    val d02 = java.lang.Long.bitCount(sims(0L) ^ sims(2L))
    assert(d01 < d02, s"near-dup distance $d01 not below unrelated $d02")
    val pairs = Dedup.simhashPairs(docs, maxHamming = math.max(d01, 1))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("sha-based pair pipelines: pigeonhole recall is exact vs brute force") {
    // simhashPairs must return EXACTLY the hamming<=k pairs (lossless
    // pigeonhole) — brute-force truth over the 5-doc corpus
    val sims = docs.select($"doc_id", Dedup.simhash64Sha($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    val truth = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == truth)
  }

  test("jaccard inverted-index join matches hand-computed overlap") {
    val pairs = Dedup.jaccardPairs(docs, k = 2, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 3L)) == 1.0) // identical after normalization
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    // doc0/doc1: 14 tokens -> 13 distinct bigrams each, 12 shared => 12/14
    assert(math.abs(pairs((0L, 1L)) - 12.0 / 14.0) < 1e-6)
  }

  test("PPJoin positional filter: prunes candidates, loses no pair (brute-force truth)") {
    // heavy-shared-vocabulary corpus: 40 docs are 30-word windows
    // rotating through a 60-word ring, so neighbors are true near-dups
    // (J well over 0.5) while mid-distance rotations share plenty of
    // PREFIX shingles yet sit far below the threshold — exactly the
    // candidate class the positional bound exists to kill.
    val rows = (0L until 40L).map { i =>
      (i, (0 until 30).map(j => f"w${(i + j) % 60}%02d").mkString(" "))
    }
    val d = rows.toDF("doc_id", "text")
    val t = 0.5
    val candPrefix = Dedup.jaccardCandidates(d, k = 2, threshold = t, positional = false).count()
    val candPos = Dedup.jaccardCandidates(d, k = 2, threshold = t, positional = true).count()
    info(s"candidates: prefix+size=$candPrefix, +positional=$candPos " +
      f"(${100.0 * (candPrefix - candPos) / candPrefix}%.1f%% pruned)")
    assert(candPos < candPrefix, "positional filter should prune on this corpus")
    // lossless: verified output == brute-force exact Jaccard over the
    // SAME shingle definition (sets pulled through Dedup.shingles)
    val sets = d.select($"doc_id", Dedup.shingles($"text", 2).as("sh"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size.toDouble
      j = inter / (sets(a).size + sets(b).size - inter)
      if j >= t
    } yield (a, b)).toSet
    val got = Dedup.jaccardPairs(d, k = 2, threshold = t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    assert(truth.nonEmpty, "corpus must actually contain over-threshold pairs")
  }

  test("containment positional filter: prunes candidates, loses no pair (brute-force truth)") {
    // same rotating-window corpus as the Jaccard PPJoin test, plus a
    // planted quote-inside-page pair (the asymmetric case itself)
    val quote = (100 to 107).map(i => f"q$i").mkString(" ")
    val rows = (0L until 40L).map { i =>
      (i, (0 until 30).map(j => f"w${(i + j) % 60}%02d").mkString(" "))
    } :+ (200L, quote) :+
      (201L, quote + " " + (0 until 40).map(j => s"page$j").mkString(" "))
    val d = rows.toDF("doc_id", "text")
    val t = 0.6
    val candPrefix = Dedup.containmentCandidates(d, k = 2, threshold = t, positional = false).count()
    val candPos = Dedup.containmentCandidates(d, k = 2, threshold = t, positional = true).count()
    info(s"candidates: prefix+size=$candPrefix, +positional=$candPos " +
      f"(${100.0 * (candPrefix - candPos) / candPrefix}%.1f%% pruned)")
    assert(candPos < candPrefix, "positional filter should prune on this corpus")
    val sets = d.select($"doc_id", Dedup.shingles($"text", 2).as("sh"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a != b
      c = (sets(a) & sets(b)).size.toDouble / sets(a).size
      if c >= t
    } yield (a, b)).toSet
    val got = Dedup.containmentPairs(d, k = 2, threshold = t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    assert(truth((200L, 201L)), "planted quote-in-page must be a true containment")
  }

  test("clusters: connected components with min-id labels") {
    // chain 1-2-3 + pair 10-11 + pair (5,1) joining the chain via 1
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (1L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: a 200-node chain converges (pointer jumping, O(log) rounds)") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(chain, maxIter = 12) // 2^12 >> 200, log-round proof
      .as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("shingles: set semantics, short-text degenerate case") {
    val sh = Seq((1L, "a b")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text", 3).as("s")).head.getSeq[String](0)
    assert(sh == Seq("a b"))
  }

  test("decontaminate: flags exactly the docs sharing an 8-gram, clean() drops them") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark's 8-gram "beta..iota" inside other text
      (1L, "intro words beta gamma delta epsilon zeta eta theta iota trailing"),
      // shares 7 consecutive tokens only — below the k=8 bar
      (2L, "beta gamma delta epsilon zeta eta theta other words here"),
      (3L, "completely unrelated text with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val flagged = Decontaminate.flag(corpus, bench, k = 8)
      .as[(Long, Long)].collect().toMap
    assert(flagged == Map(1L -> 1L))
    val kept = Decontaminate.clean(corpus, bench, k = 8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 3L)))
    // the benchmark side is broadcast: corpus never shuffles for the probe
    val plan = Decontaminate.flag(corpus, bench, k = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark probe not broadcast:\n$plan")
  }

  test("incrementalClusters: a batch doc bridging two published clusters merges them") {
    import spark.implicits._
    // corpus: two near-dup clusters {1,2} and {10,11}, far apart
    val ta = "alpha beta gamma delta epsilon zeta"
    val tb = "omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, ta), (2L, ta + " eta"),
      (10L, tb), (11L, tb + " phi"),
      (20L, "completely unrelated content nothing shared here at all")
    ).toDF("doc_id", "text")
    val labels = graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(corpus, k = 2, threshold = 0.4))
    val got0 = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got0(2) == 1 && got0(11) == 10)
    // batch: doc 30 is a hybrid near-dup of BOTH cluster anchors
    // (high overlap with each), doc 40 is novel
    val batch = Seq(
      (30L, ta + " " + tb),
      (40L, "another novel document with fresh words only")
    ).toDF("doc_id", "text")
    val inc = graft.operators.Dedup.incrementalClusters(
        corpus, labels, batch, k = 2, threshold = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full recompute truth over the union
    val full = graft.operators.Dedup.clusters(
        graft.operators.Dedup.jaccardPairs(corpus.unionByName(batch),
          k = 2, threshold = 0.4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = Seq(1L, 2L, 10L, 11L, 20L, 30L, 40L)
    ids.foreach { id =>
      assert(inc(id) == full.getOrElse(id, id),
        s"doc $id: incremental=${inc(id)} full=${full.getOrElse(id, id)}")
    }
    // the merge actually happened: both old clusters now share label 1
    assert(inc(30) == 1 && inc(11) == 1 && inc(10) == 1,
      s"bridge merge failed: $inc")
    assert(inc(40) == 40 && inc(20) == 20)
  }

  test("incrementalClustersDelta: upsert into full-coverage labels == full output, changed-only rows") {
    import spark.implicits._
    val ta = "alpha beta gamma delta epsilon zeta"
    val tb = "omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, ta), (2L, ta + " eta"),
      (10L, tb), (11L, tb + " phi"),
      (20L, "completely unrelated content nothing shared here at all")
    ).toDF("doc_id", "text")
    // the delta contract's full-coverage base: CC labels + explicit
    // self rows (the publishClusterLake invariant)
    val paired = graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(corpus, k = 2, threshold = 0.4))
    val labels = corpus.select(col("doc_id")).join(paired, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val batch = Seq(
      (30L, ta + " " + tb),
      (40L, "another novel document with fresh words only")
    ).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delta = m(graft.operators.Dedup.incrementalClustersDelta(
      corpus, labels, batch, k = 2, threshold = 0.4))
    val full = m(graft.operators.Dedup.incrementalClusters(
      corpus, labels, batch, k = 2, threshold = 0.4))
    // upsert law: base overridden by delta == the full output
    assert(m(labels) ++ delta == full,
      s"upsert(base, delta) != full: delta=$delta full=$full")
    // changed-only: the untouched singleton emits no delta row; every
    // remapped corpus doc and every batch doc does
    assert(!delta.contains(20L), s"unchanged doc in delta: $delta")
    assert(delta.keySet == Set(2L, 10L, 11L, 30L, 40L) ||
      delta.keySet == Set(10L, 11L, 30L, 40L), // 1 is the min label: 1,2 may both stay
      s"unexpected delta keys: ${delta.keySet}")
    // replay: against the post-commit COLLAPSED state (corpus ∪ batch,
    // upserted labels), the re-derived delta upserts to a no-op
    val replay = m(graft.operators.Dedup.incrementalClustersDelta(
      corpus.unionByName(batch), full.toSeq.toDF("doc_id", "cluster_id"),
      batch, k = 2, threshold = 0.4))
    assert((full ++ replay) == full, s"replay delta changed labels: $replay")
  }

  test("incrementalClustersDelta: legacy PARTIAL labels stay effective-label-correct") {
    import spark.implicits._
    // a lake published before the full-coverage invariant: labels hold
    // paired docs only — doc 10 is an unpaired singleton with NO row
    val ta = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, ta), (2L, ta + " eta"),
      (10L, "omicron pi rho sigma tau upsilon")).toDF("doc_id", "text")
    val partial = graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(corpus, k = 2, threshold = 0.4))
    assert(partial.where(col("doc_id") === 10L).count() == 0,
      "fixture vacuous: doc 10 must be unlabeled")
    // batch doc 3 (< 10) near-dups the unlabeled doc: the quotient
    // moves node 10 to label 3, and the delta MUST carry that row —
    // dropping it would diverge from a full recompute forever
    val batch = Seq((3L, "omicron pi rho sigma tau phi")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delta = m(graft.operators.Dedup.incrementalClustersDelta(
      corpus, partial, batch, k = 2, threshold = 0.4))
    val full = m(graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(corpus.unionByName(batch),
        k = 2, threshold = 0.4)))
    val effective = m(partial) ++ delta
    for (id <- Seq(1L, 2L, 3L, 10L))
      assert(effective.getOrElse(id, id) == full.getOrElse(id, id),
        s"doc $id: effective=${effective.getOrElse(id, id)} full=${full.getOrElse(id, id)}")
    assert(delta.get(10L).contains(3L),
      s"unlabeled corpus endpoint's remap missing from delta: $delta")
  }

  test("lake-indexed probe: pairs and labels identical to in-session, batch-sized rank only") {
    val all = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val indexed = all.where(col("doc_id") < 300)
    val prior = all.where(col("doc_id") >= 300 && col("doc_id") < 400)
    val batch = all.where(col("doc_id") >= 400)
    val lake = java.nio.file.Files.createTempDirectory("graft-jlake").toString
    Dedup.publishJaccardLake(indexed, lake, k = 3, threshold = 0.5)
    val bIds = batch.select(col("doc_id"))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // pairs: frozen-order lake probe == in-session union rank (both
    // are lossless prefix filters ahead of the same exact verify)
    val inSession = pairSet(Dedup.jaccardPairsTouching(all, bIds, 3, 0.5))
    val fresh = prior.unionByName(batch)
    val probe = Dedup.jaccardPairsTouchingLake(spark, lake, fresh, bIds, 3, 0.5)
    assert(pairSet(probe) == inSession, "lake probe pairs differ from in-session")
    assert(inSession.nonEmpty, "fixture vacuous: no batch-touching pairs")
    // publisher side: the FULL pair set derived from the index == the
    // in-session corpus rank (so the seed CC never ranks twice)
    assert(pairSet(Dedup.jaccardPairsLake(spark, lake, threshold = 0.5)) ==
      pairSet(Dedup.jaccardPairs(indexed, k = 3, threshold = 0.5)),
      "index-derived full pairs differ from in-session jaccardPairs")
    // the corpus-sized rank stage is ABSENT from the per-ingest plan:
    // the fresh-side rank is materialized once (batch-sized, eager),
    // so the probe plan itself carries ZERO windows — vs the
    // in-session form, which windows over the full union's postings
    val plan = Dedup.jaccardPairsTouchingLake(spark, lake, fresh, bIds, 3, 0.5)
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).isEmpty,
      s"probe plan must not rank the corpus:\n$plan")
    assert(plan.toLowerCase.contains("parquet"),
      "probe must read the published columnar index")
    // labels: the lake merge == the in-session merge over the same state
    val labels0 = Dedup.clusters(Dedup.jaccardPairs(indexed, k = 3, threshold = 0.5))
    val labels1 = graft.Materialize.once(
      Dedup.incrementalClusters(indexed, labels0, prior, k = 3, threshold = 0.5))
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLake = labelMap(
      Dedup.incrementalClustersLake(spark, lake, labels1, prior, batch,
        k = 3, threshold = 0.5))
    val viaSession = labelMap(
      Dedup.incrementalClusters(indexed.unionByName(prior), labels1, batch,
        k = 3, threshold = 0.5))
    assert(viaLake == viaSession, "lake-indexed labels differ from in-session")
    assert(viaLake.size == all.count(), "label table must cover every doc")
  }

  test("capBuckets engagement is observable: dropped_buckets/rows metrics fire on a crowd") {
    // the bandBucketCap recall contract promises operators SEE the cap
    // engage (a >cap near-dup family loses pairs silently otherwise):
    // every capBuckets call publishes graft.capBuckets.N observed
    // metrics through the listener bus / Spark UI
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.capBuckets."))
            seen.add((row.getLong(0), row.getLong(1)))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 4200 copies of one text: every band bucket holds 4200 > 4096
      val crowd = spark.range(4200).select(col("id").as("doc_id"),
        lit("identical crowd content shared across every copy of this document").as("text"))
      val pairs = Dedup.minhashPairs(crowd, k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.5)
      assert(pairs.count() == 0, "the whole crowd must be capped out")
      // listener delivery is async — poll up to 15s
      val deadline = System.nanoTime() + 15000000000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val hits = seen.toArray(Array.empty[(Long, Long)])
      assert(hits.exists { case (buckets, rows) => buckets > 0 && rows >= 4200L },
        s"no capBuckets engagement metric observed; got ${hits.toSeq}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("bloom lake: published probe == in-session probe; republish swaps atomically") {
    import spark.implicits._
    val doc = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val corpus = doc.where($"doc_id" <= 30)
    val batch = doc.where($"doc_id" > 30 && $"doc_id" <= 45)
      .unionAll(corpus.limit(5).select(($"doc_id" + 1000L).as("doc_id"), $"text"))
    val lake = java.nio.file.Files.createTempDirectory("graft-bloom-lake").toString
    Dedup.publishBloomLake(corpus, lake)
    val fromLake = Dedup.bloomProbeLake(spark, lake, batch)
      .orderBy($"doc_id").collect().toSeq
    val inSession = Dedup.bloomProbe(Dedup.bloomIndex(corpus), batch)
      .orderBy($"doc_id").collect().toSeq
    assert(fromLake == inSession)
    assert(fromLake.count(_.getBoolean(1)) >= 5, "re-ingested members must read true")
    // republish over a GROWN corpus: new members become visible, old
    // members stay (bits only accumulate within a version; the swap
    // is the versioned-pointer publish, so readers never see a blend)
    val grown = doc.where($"doc_id" <= 45)
    Dedup.publishBloomLake(grown, lake)
    val after = Dedup.bloomProbeLake(spark, lake,
      grown.select(($"doc_id" + 9000L).as("doc_id"), $"text"))
    assert(after.where(!$"maybe_dup").count() == 0,
      "every grown-corpus member must read true after republish")
  }

  test("publishJaccardLake: a failed publish throws and leaves no checkpoint behind") {
    // a lake dir under a regular file cannot be created
    val notADir = java.nio.file.Files.createTempFile("graft-jlake-file", "")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](
      Dedup.publishJaccardLake(docs, s"$notADir/lake", k = 2, threshold = 0.5))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"failed publish left checkpointed RDDs $left")
  }

  test("keepBest: elects the longest member, min-id on ties, counts members") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq(
      (1L, "short text"),
      (2L, "the much longer member of cluster one wins"),
      (3L, "mid length text here"),
      (10L, "same LENGTH a"),   // normalizes to 13 chars
      (11L, "SAME length b"),   // same normalized length -> tie, min id
      (99L, "an unclustered doc that must not appear")
    ).toDF("doc_id", "text")
    val out = Dedup.keepBest(labels, docs).orderBy($"cluster_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("cluster_id") == 1L)
    assert(out(0).getAs[Long]("kept_id") == 2L)
    assert(out(0).getAs[Long]("n_members") == 3L)
    assert(out(1).getAs[Long]("kept_id") == 10L, "tie must break to min doc_id")
    assert(out(1).getAs[Long]("n_members") == 2L)
  }
}
