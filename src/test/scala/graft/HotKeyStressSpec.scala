package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling}

/** PB-shaped adversarial-skew stress: one giant key among small ones —
  * the shape that OOMs per-key buffering operators at cluster scale.
  * Each case pins BOTH correctness on the hot key and the scale
  * mechanism (bounded shuffle volume / spill-not-OOM execution),
  * measured from real task metrics rather than asserted in prose, so
  * the hot-key claims in SURVEY §5 are continuously enforced.
  *
  * Sizes are test-JVM-scaled (10⁶-row hot keys, 4 cores, 8g heap) but
  * the MECHANISMS under test are size-independent: a windowed funnel
  * either spills or it buffers per key; a pre-thin either bounds the
  * shuffle or it doesn't; a prefix filter either posts hot shingles or
  * it doesn't.
  */
class HotKeyStressSpec extends SparkSpec {

  /** Run `action`, returning (result, max per-stage peakExecutionMemory
    * bytes, total shuffle-write records, total disk spill bytes). */
  private def metered[A](action: => A): (A, Long, Long, Long) = {
    val peak = new AtomicLong(0)
    val shuffleRecs = new AtomicLong(0)
    val spill = new AtomicLong(0)
    val l = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        peak.getAndAccumulate(m.peakExecutionMemory, math.max)
        shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = action
      Thread.sleep(500) // listener bus drains async
      (r, peak.get, shuffleRecs.get, spill.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("funnel: one 10^6-event user completes in bounded execution memory") {
    // one adversarial user emits a million events across the stages;
    // a per-user collect_list would buffer all of them in ONE aggregate
    // row — the chained window minimums must instead stream/spill
    val n = 1000000L
    val hot = spark.range(n).select(
      lit("whale").as("user_id"),
      when(col("id") % 3 === 0, "click").when(col("id") % 3 === 1, "view")
        .otherwise("purchase").as("et"),
      (col("id") * 1000L).as("t"))
    val small = spark.range(300).select(
      concat(lit("u"), col("id") % 100).as("user_id"),
      when(col("id") % 3 === 0, "click").when(col("id") % 3 === 1, "view")
        .otherwise("purchase").as("et"),
      (col("id") * 7919L).as("t"))
    val events = hot.unionByName(small)
    val (rows, peak, _, _) = metered {
      graft.analytics.Analytics.funnelStages(events).collect()
    }
    // the whale clicks at id=0, views at id=1, purchases at id=2 —
    // full funnel despite a million events in its window partition
    val whale = rows.find(_.getString(0) == "whale")
    assert(whale.exists(_.getInt(1) == 3), s"whale funnel wrong: $whale")
    // mechanism: execution memory stays far below the raw hot-key
    // payload; the window spills to disk instead of buffering the key
    // (peak is page-quantized per consumer — the bound is loose but a
    // collect_list of 10^6 rows in one buffer would blow through it)
    assert(peak < (1L << 30), s"peakExecutionMemory $peak >= 1 GiB")
  }

  test("capPerGroupSkewSafe: 10^6-row hot group shuffles thousands of rows, not the group") {
    val n = 1000000L
    val hot = spark.range(n).select(col("id").as("doc_id"), lit("hot").as("g"))
    val small = spark.range(2000000, 2000200).select(col("id").as("doc_id"),
      concat(lit("s"), col("id") % 7).as("g"))
    val df = hot.unionByName(small)
    val (safeRows, _, shuffled, _) = metered {
      Sampling.capPerGroupSkewSafe(df, col("doc_id"), col("g"), k = 50)
        .select("doc_id", "g", "rk").collect()
    }
    // correctness: exact per-group output, identical to the unthinned
    // ranked window (which pays a full 10^6-row shuffle to rank)
    val plain = Sampling.capPerGroup(df, col("doc_id"), col("g"), k = 50)
      .select("doc_id", "g", "rk").collect()
    assert(safeRows.map(_.toSeq).toSet == plain.map(_.toSeq).toSet)
    assert(safeRows.count(_.getString(1) == "hot") == 50)
    // mechanism: the md5 pre-thin admits ~factor*k rows of the hot
    // group (Binomial mean 500), so TOTAL shuffled records across all
    // stages stay thousands — the unthinned form shuffles the full
    // 10^6-row group into one window partition
    assert(shuffled < 100000L,
      s"skew-safe cap shuffled $shuffled records — pre-thin not engaged")
  }

  test("spatialNeighborPairs: one urban-dense cell stays pair-work, never pair-shuffle") {
    // 3000 points inside ONE grid cell (the Manhattan-downtown shape) +
    // a sparse scatter elsewhere. The O(c²) same-cell pair evaluation is
    // inherent to the semantics; the scale claim under test is that it
    // happens STREAMING through the hash join — the shuffle only ever
    // carries the 9× probe replication (~10·n rows), never the n² pairs,
    // so a hot cell costs CPU, not memory or shuffle volume.
    val r = 20000L // 0.02° cells; any two points in one cell are L∞-close
    val hot = spark.range(3000).select(col("id").as("pid"),
      (lit(40.0) + col("id") * 5.0e-9).as("plat"),     // all inside one cell
      (lit(-74.0) + col("id") * 5.0e-9).as("plon"))
    val sparsePts = spark.range(3000, 3200).select(col("id").as("pid"),
      (lit(10.0) + (col("id") % 50) * 1.0).as("plat"), // ≥1° apart: no pairs
      (lit(20.0) + (col("id") % 40) * 1.0).as("plon"))
    val pts = hot.unionByName(sparsePts)
    val (cnt, peak, shuffled, _) = metered {
      graft.operators.Joins
        .spatialNeighborPairs(pts, col("pid"), col("plat"), col("plon"), r)
        .count()
    }
    // correctness: exactly the C(3000,2) hot-cell pairs (sparse points
    // are ≥1° from everything; hot points are pairwise within r on both
    // axes by construction)
    assert(cnt == 3000L * 2999L / 2, s"expected all hot-cell pairs, got $cnt")
    // mechanism: shuffle volume ~ 9·n probes + n home rows (+ partial-agg
    // count rows) — nothing within an order of magnitude of the 4.5M
    // pairs the join evaluates
    assert(shuffled < 100000L,
      s"neighbors shuffled $shuffled records — pairs reached a shuffle")
    assert(peak < (1L << 30), s"peakExecutionMemory $peak >= 1 GiB")
  }

  test("spatialNeighborPairs: AQE skew split spreads a hot cell across tasks") {
    // the scaladoc's "hot cells are ordinary join skew — AQE splits
    // them" claim, proven mechanically: with test-scaled skew thresholds
    // the final adaptive plan marks the sort-merge join skew=true (the
    // hot cell's partition is split into multiple tasks) and the result
    // is unchanged. At cluster scale the default 256 MB threshold plays
    // this role; only the threshold is scaled here, not the mechanism.
    val r = 20000L
    val hot = spark.range(2000).select(col("id").as("pid"),
      (lit(40.0) + col("id") * 5.0e-9).as("plat"),
      (lit(-74.0) + col("id") * 5.0e-9).as("plon"))
    val confs = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = graft.operators.Joins
        .spatialNeighborPairs(hot, col("pid"), col("plat"), col("plon"), r)
      // drive q's OWN QueryExecution (df.count() plans a separate
      // aggregate query and would leave this plan un-finalized)
      assert(q.queryExecution.toRdd.count() == 2000L * 1999L / 2)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"hot-cell join partition was not skew-split:\n${plan.take(800)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("fuzzyPairsDist1: 10^5-key vocabulary joins shuffled, not broadcast") {
    // corpus-scale shape: 100k distinct 8-char keys (26^8 space — hash
    // scatter, no accidental hot variants) + 50 planted one-substitution
    // near-duplicates. The variants subtree must materialize ONCE and
    // the self-join must plan as a shuffled join on the variant — the
    // un-materialized form re-ran the explode per side and broadcast the
    // entire right side, which at this row count is already a >40 MB
    // broadcast and at corpus scale an OOM.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def w8(seed: org.apache.spark.sql.Column) = concat(
      (1 to 8).map(j => substring(lit(alpha),
        (pmod(hash(seed * 31 + j), lit(26)) + 1).cast("int"), lit(1))): _*)
    val base = spark.range(100000).select(col("id"), w8(col("id")).as("w"))
    // ids 200000+i: copy of word i with the first char substituted
    val planted = spark.range(50).select((col("id") + 200000).as("id"),
      concat(lit("Z"), substring(w8(col("id")), 2, 7)).as("w"))
    val words = base.unionByName(planted)
    val (pairs, peak, _, _) = metered {
      graft.operators.Joins.fuzzyPairsDist1(words, col("id"), col("w"))
        .where(col("id_b") >= 200000).collect()
    }
    // every planted pair surfaces (substitution ⇒ shared deletion variant)
    assert(pairs.count(r => r.getLong(1) == r.getLong(0) + 200000) == 50,
      s"planted near-dups missing: ${pairs.length} pairs")
    assert(peak < (1L << 30), s"peakExecutionMemory $peak >= 1 GiB")
    val q = graft.operators.Joins.fuzzyPairsDist1(words, col("id"), col("w"))
    q.queryExecution.toRdd.count() // finalize the adaptive plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), "variants not materialized once")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"),
      s"fuzzy join degenerated:\n${plan.take(500)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"fuzzy join did not shuffle on the variant:\n${plan.take(500)}")
  }

  test("pagerankInt: a 2*10^4-degree hub at iters=10 stays bounded and bit-exact") {
    // one pathological hub (the celebrity-document shape of a real
    // similarity graph) and a deep iteration count. Claims under test:
    // the checkpoint cadence keeps plan depth independent of iters
    // (the final frame is a self-contained materialized scan), task
    // memory stays bounded despite every src-partition row landing on
    // the hub's key, and the integer arithmetic replays bit-exactly —
    // a star graph's closed-form replay needs two Longs per round.
    val m = 20000L
    val pairs = spark.range(1, m + 1)
      .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val (rows, peak, _, _) = metered {
      graft.operators.Graph.pagerankInt(pairs, iters = 10).collect()
    }
    val r = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    // exact replay: deg(hub)=m, deg(sat)=1, n=m+1
    val massScale = 1000000000000L
    val base = massScale / (m + 1)
    val teleport = 15L * base / 100L
    var (rh, rs) = (base, base)
    for (_ <- 1 to 10) {
      val nh = teleport + (85L * (m * rs)) / 100L
      val ns = teleport + (85L * (rh / m)) / 100L
      rh = nh; rs = ns
    }
    assert(r(0L) == rh, s"hub rank ${r(0L)} != replay $rh")
    assert(r(1L) == rs && r(m) == rs, s"satellite rank ${r(1L)} != replay $rs")
    assert(r.size == m + 1)
    assert(peak < (1L << 30), s"peakExecutionMemory $peak >= 1 GiB")
    // plan depth is iters-independent: the result is a materialized scan
    val q = graft.operators.Graph.pagerankInt(pairs, iters = 10)
    val nNodes = { var c = 0; q.queryExecution.analyzed.foreach(_ => c += 1); c }
    assert(nNodes <= 4, s"pagerank result plan has $nNodes nodes — lineage leaked")
  }

  test("containment: a 2000-doc hot header generates no hot-shingle candidates") {
    // same boilerplate shape as the jaccard case, for the ONE-SIDED
    // prefix: the container side posts its full shingle list (hot
    // header included), but candidates only form where a PROBE's
    // prefix — its rarest shingles — matches, so the hot header never
    // pairs anything. 10 planted quotes (each fully contained in its
    // page, C = 1.0) are the only true inclusions.
    import spark.implicits._
    val pages = spark.range(2000).select(col("id").cast("long").as("doc_id"),
      concat(lit("storm warning issued for the county today "),
        concat_ws(" ", (0 to 11).map(j => concat(lit(s"w${j}q"), col("id"))): _*))
        .as("text"))
    // quote i = the unique tail of page i (its rarest shingles)
    val quotes = spark.range(10).select((col("id") + 50000).cast("long").as("doc_id"),
      concat_ws(" ", (4 to 11).map(j => concat(lit(s"w${j}q"), col("id"))): _*)
        .as("text"))
    val docs = pages.unionByName(quotes)
    val (pairs, _, shuffled, _) = metered {
      graft.operators.Dedup.containmentPairs(docs, k = 3, threshold = 0.9).collect()
    }
    val planted = pairs.filter(r => r.getLong(0) >= 50000)
    assert(planted.length == 10, s"expected 10 planted inclusions, got ${planted.length}")
    assert(planted.forall(r => r.getLong(1) == r.getLong(0) - 50000 && r.getDouble(2) == 1.0))
    // no page is contained in anything (pages share only the hot header)
    assert(pairs.length == 10, s"hot header generated pairs: ${pairs.length}")
    // shuffle volume ~ postings + prefixes + verified pairs, never the
    // ~2*10^6 hot-header candidate pairs a naive shingle join would emit
    assert(shuffled < 400000L,
      s"containment shuffled $shuffled records — hot shingles reached the join")
  }

  test("jaccard verify: a 2000-doc hot vocabulary generates no hot-shingle candidates") {
    // every doc shares a hot 3-word header (hot bigrams, df=2000) but
    // carries enough unique shingles that the AllPairs prefix never
    // posts a hot one; 10 planted duplicate pairs are the only true
    // near-dups. A naive shingle join would emit ~2*10^6 candidate
    // pairs from the hot bigrams alone.
    import spark.implicits._
    val base = spark.range(2000).select(col("id").cast("long").as("doc_id"),
      concat(lit("storm warning issued "),
        concat_ws(" ", (0 to 7).map(j => concat(lit(s"u${j}x"), col("id"))): _*))
        .as("text"))
    val dups = spark.range(10).select((col("id") + 10000).cast("long").as("doc_id"),
      concat(lit("storm warning issued "),
        concat_ws(" ", (0 to 7).map(j => concat(lit(s"u${j}x"), col("id"))): _*))
        .as("text"))
    val docs = base.unionByName(dups)
    val (pairs, _, shuffled, _) = metered {
      Dedup.jaccardPairs(docs, k = 2, threshold = 0.5).collect()
    }
    // exactly the planted duplicates (jaccard 1.0), nothing from the
    // hot header
    assert(pairs.length == 10, s"expected 10 planted pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(1) == r.getLong(0) + 10000), pairs.take(3).toSeq.toString)
    assert(pairs.forall(_.getDouble(2) == 1.0))
    // mechanism: shuffle volume ~ postings + prefix + verified pairs —
    // orders of magnitude below the 2*10^6 hot-bigram candidate pairs
    assert(shuffled < 400000L,
      s"jaccard shuffled $shuffled records — hot shingles reached the prefix join")
  }

  test("TopKAgg: a 10^6-row hot group shuffles O(k·maps), result == window top-k") {
    // the window form shuffles every row of the hot group into one
    // sort partition; the bounded-heap aggregate's partial states
    // combine map-side, so at most k pairs per (map partition, group)
    // reach the exchange
    import spark.implicits._
    val n = 1000000L
    val hot = spark.range(n).select(lit("hot").as("g"),
      ((col("id") * 2654435761L) % 1000003L).as("v"), col("id").as("rid"))
    val cold = spark.range(500).select(concat(lit("c"), col("id") % 50).as("g"),
      col("id").as("v"), (col("id") + 5000000L).as("rid"))
    val data = hot.unionByName(cold)
    val k = 5
    val (rows, _, shuffled, _) = metered {
      data.groupBy(col("g"))
        .agg(graft.expressions.native.topK(col("v"), col("rid"), k).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), (col("pos") + 1).as("rk"),
          col("col.value").as("v"), col("col.id").as("rid"))
        .collect()
    }
    // result identical to the window formulation (computed via the
    // same total order in plain Scala on the generator formulas)
    val hotTop = (0L until n).map(i => ((i * 2654435761L) % 1000003L, i))
      .sortBy { case (v, id) => (-v, id) }.take(k)
    val gotHot = rows.filter(_.getString(0) == "hot")
      .sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(gotHot == hotTop, s"hot-group top-k wrong: $gotHot vs $hotTop")
    assert(rows.count(_.getString(0) != "hot") == 50 * 5) // 50 cold groups x k rows
    // mechanism: the exchange carries k pairs per (map partition,
    // group), not the 10^6-row hot group
    assert(shuffled < 10000L,
      s"TopKAgg shuffled $shuffled records — partial heaps aren't combining map-side")
  }

  test("incrementalClusters probe: a tiny batch against a big corpus stays batch-bounded") {
    // 4000-doc published corpus, 5-doc batch (each a near-dup of one
    // corpus doc). The one-sided prefix probe must price the merge at
    // batch-scale: total shuffle volume ~ postings/prefix build (one
    // linear pass) + batch-bounded candidates + the tiny quotient CC —
    // NOT the ~corpus-squared jaccard candidate work a full recompute
    // would redo, and the candidate join's output must touch only
    // batch pairs.
    import spark.implicits._
    def mk(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 to 7).map(j => concat(lit(s"w${j}q"), idc)): _*)
    // corpus = 2000 planted duplicate PAIRS (docs i and i+2000 match):
    // a full recompute re-verifies all 2000 pairs and runs CC over a
    // 4000-node label table; the incremental path inherits all of that
    // from the published labels and only pays for the batch
    val corpus = spark.range(4000).select(col("id").cast("long").as("doc_id"),
      mk(col("id") % 2000).as("text"))
    val batch = spark.range(5).select((col("id") + 100000).cast("long").as("doc_id"),
      mk(col("id")).as("text")) // dup of corpus docs 0-4
    val labels = graft.operators.Dedup.clusters(
      graft.operators.Dedup.jaccardPairs(corpus, k = 2, threshold = 0.5))
    val (out, _, shuffledInc, _) = metered {
      graft.operators.Dedup.incrementalClusters(corpus, labels, batch,
        k = 2, threshold = 0.5).collect()
    }
    val m = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(m(100000L + i) == i.toLong, s"batch doc $i should join cluster $i")
    }
    assert(m.size == 4005)
    // bound: the full-recompute candidate path over 4005 docs measures
    // far more shuffle than the incremental probe on the same data
    val (_, _, shuffledFull, _) = metered {
      graft.operators.Dedup.clusters(graft.operators.Dedup.jaccardPairs(
        corpus.unionByName(batch), k = 2, threshold = 0.5)).collect()
    }
    // both paths pay the same linear posting/prefix index build
    // (~60k records here — the documented corpus-linear piece, which
    // persists in the lake at scale); everything BEYOND it is what the
    // incremental form avoids: candidate verify over 2000 corpus pairs
    // + log-diameter CC over a 4000-node label table vs a 5-candidate
    // probe + a 10-node quotient CC. Assert a clear margin on the
    // totals; the index-build floor keeps it from being 10x at this
    // fixture size.
    assert(shuffledInc.toDouble * 1.3 < shuffledFull,
      s"incremental probe shuffled $shuffledInc vs full recompute $shuffledFull")
  }

  test("lake probe fresh-set dial: a 20%-of-corpus fresh set drops the broadcast, rows identical") {
    // The fresh side of jaccardPairsTouchingLake grows until the next
    // republish; its shadow anti-joins used to FORCE a broadcast of
    // the fresh ids regardless of size — a publish-cadence time bomb
    // at corpus scale. The dial keeps the hint while fresh is small
    // and switches to a plain shuffle anti-join beyond
    // spark.graft.dedup.freshBroadcastMax. Fixture: 1000-doc published
    // corpus, 200-doc fresh backlog (20%, simulating a neglected
    // cadence), 5-doc batch of planted near-dups.
    import spark.implicits._
    def mk(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 to 7).map(j => concat(lit(s"w${j}f"), idc)): _*)
    val corpus = spark.range(1000).select(col("id").cast("long").as("doc_id"),
      mk(col("id")).as("text"))
    val fresh = spark.range(200).select((col("id") + 5000).cast("long").as("doc_id"),
      mk(col("id") + 10000).as("text")) // distinct content, no corpus dups
    val batch = spark.range(5).select((col("id") + 9000).cast("long").as("doc_id"),
      mk(col("id")).as("text")) // near-dups of corpus docs 0-4
    val dir = java.nio.file.Files.createTempDirectory("graft-fresh-dial").toString
    graft.operators.Dedup.publishJaccardLake(corpus, dir, k = 2, threshold = 0.5)
    def run(): Array[org.apache.spark.sql.Row] =
      graft.operators.Dedup.jaccardPairsTouchingLake(spark, dir,
        fresh.unionByName(batch), batch.select(col("doc_id")),
        k = 2, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b")).collect()
    def hintCount(): Int = {
      val df = graft.operators.Dedup.jaccardPairsTouchingLake(spark, dir,
        fresh.unionByName(batch), batch.select(col("doc_id")),
        k = 2, threshold = 0.5)
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    }
    val broadcastRows = run()
    val broadcastHints = hintCount()
    assert(broadcastRows.length == 5, "expected the 5 planted near-dup pairs")
    spark.conf.set(graft.operators.Dedup.FreshBroadcastMaxKey, "100")
    try {
      // over-threshold: every broadcast hint in the probe is a
      // fresh-shadow hint (the 2 sites each appear twice in the tree —
      // allPrefix and setsAll both feed two consumer branches), so the
      // dial must drop them ALL; nothing else in the probe forces a
      // broadcast
      assert(broadcastHints > 0, "broadcast path carried no hints to drop")
      assert(hintCount() == 0,
        s"expected all $broadcastHints fresh-shadow hints dropped, " +
          s"got ${hintCount()}")
      assert(run().toSeq == broadcastRows.toSeq,
        "shuffle-anti-join path diverged from the broadcast path")
    } finally spark.conf.unset(graft.operators.Dedup.FreshBroadcastMaxKey)
  }

  test("phashPairs: 10^4 flat images collapse onto one chunk bucket without a pair blowup") {
    // aHash bits are NOT uniform: any flat image hashes to 0, so a
    // natural corpus's flat/dark crowd lands in ONE (chunk, value)
    // bucket per chunk — 10^4 docs here would make ~5·10^7 candidate
    // pairs (all flowing through the dropDuplicates exchange) if the
    // banded join were uncapped. The occupancy cap must drop those
    // buckets pre-join while planted non-degenerate near-dups survive.
    import spark.implicits._
    val nFlat = 10000
    val flat = spark.range(nFlat).select(col("id").as("doc_id"),
      // two brightness classes of flat image: all-'a' (0x61) and
      // all-'!' (0x21) — both hash to 0
      when(col("id") % 2 === 0, lit("a" * 64)).otherwise(lit("!" * 64)).as("text"))
    val planted = (0 until 20).flatMap { i =>
      // varied ~512-byte content (w=64, h=8 image) so the hash is
      // non-degenerate; each pair shares one text => hamming 0
      val t = (0 until 8).map(r => s"pair$i row$r " +
        ("xyz XYZ 0123 " * 4)).mkString("")
      Seq((100000L + 2 * i, t), (100000L + 2 * i + 1, t))
    }.toDF("doc_id", "text")
    val media = graft.operators.Multimodal.mediaFromDocuments(
      flat.unionByName(planted))
    // fixture sanity: the planted hashes must be non-degenerate or
    // they'd ride the hot bucket and void the recall assertion
    val ph = graft.operators.Multimodal.avgHash(
      graft.operators.Multimodal.mediaFromDocuments(planted.limit(2)))
      .select(col("phash")).as[Long].head()
    assert(ph != 0L, "planted fixture degenerated to a flat hash")
    val (pairs, _, shuffleRecs, _) = metered {
      graft.operators.Multimodal.phashPairs(media).collect()
    }
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(ids.contains((100000L + 2 * i, 100000L + 2 * i + 1)),
        s"planted pair $i lost to the occupancy cap")
    }
    assert(!ids.exists { case (a, b) => a < nFlat || b < nFlat },
      "flat images leaked into the pair output")
    // bounded shuffle: chunk rows (4 per doc) through the df groupBy +
    // both join sides + the surviving candidates through
    // dropDuplicates — O(n), nowhere near the uncapped ~5·10^7 pairs
    assert(shuffleRecs < 500000L,
      s"banded join shuffled $shuffleRecs records — hot-bucket cap not engaged")
  }

  test("minhash/simhash: a duplicate crowd makes every band key hot by data; the cap bounds it") {
    // MinHash band keys and SimHash chunk values are sha-uniform over
    // DISTINCT contents, but 3·10^4 copies of ONE document share every
    // band/chunk key — the uncapped self-join would enumerate all
    // ~4.5·10^8 copy-pairs (exact dedup's job, not near-dup's). The
    // occupancy cap must drop the crowd pre-join while a planted
    // non-hot near-dup pair still surfaces.
    import spark.implicits._
    val nHot = 30000L
    val hot = spark.range(nHot).select(col("id").as("doc_id"),
      lit("identical duplicated crawl content repeated everywhere verbatim").as("text"))
    val planted = Seq(
      (500000L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda mu nu"),
      (500001L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda mu xi"))
      .toDF("doc_id", "text")
    val docs = hot.unionByName(planted)
    val (mh, _, mhRecs, _) = metered {
      Dedup.minhashPairs(docs, k = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.2).collect()
    }
    val mhPairs = mh.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhPairs.contains((500000L, 500001L)),
      "planted near-dup pair lost to the band-bucket cap")
    assert(!mhPairs.exists { case (a, b) => a < nHot || b < nHot },
      "duplicate-crowd pairs leaked through the capped band join")
    assert(mhRecs < 5000000L,
      s"minhash shuffled $mhRecs records on a 3*10^4 duplicate crowd")
    val (sh, _, shRecs, _) = metered {
      Dedup.simhashPairs(docs.where(col("doc_id") >= nHot).unionByName(hot),
        maxHamming = 3).collect()
    }
    // the planted pair differs in one token of twelve — simhash
    // hamming is data-dependent, so assert on the crowd and the bound,
    // and on the pair ONLY if its hamming lands <= 3 (deterministic:
    // sha-based, either always or never)
    val shPairs = sh.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!shPairs.exists { case (a, b) => a < nHot || b < nHot },
      "duplicate-crowd pairs leaked through the capped chunk join")
    assert(shRecs < 5000000L,
      s"simhash shuffled $shRecs records on a 3*10^4 duplicate crowd")
  }

  test("corpus_novelty: a 3*10^4-doc boilerplate gram stays linear through the owner join") {
    // the min-owner aggregation combines map-side and the gram-keyed
    // join's hot group emits one row per (doc, hot-gram) — LINEAR in
    // the crowd, never pair work. 3*10^4 docs share their first 8
    // tokens (one fully-shared 8-gram window per doc) and then
    // diverge; a quadratic-leaning plan would blow past the bound.
    import spark.implicits._
    val n = 30000L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("shared boiler plate footer text goes right here uniq"),
        col("id"), lit(" tail words for doc "), col("id")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty-hot").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val (rows, _, recs, _) = metered {
      SparkEntry.queries("corpus_novelty")(spark, dir)
        .collect()
    }
    assert(rows.length == n)
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0 owns everything it has; every later doc loses exactly the
    // one fully-shared window but owns its id-bearing grams
    assert(byId(0L)._1 == byId(0L)._2, s"doc 0 must own all its grams: ${byId(0L)}")
    assert(byId(1L)._2 == byId(1L)._1 - 1,
      s"doc 1 must lose exactly the shared window: ${byId(1L)}")
    assert(recs < 5000000L,
      s"novelty shuffled $recs records on a shared-boilerplate corpus")
  }
}
