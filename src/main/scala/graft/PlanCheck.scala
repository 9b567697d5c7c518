package graft

/** Mechanical plan gate over EVERY `SparkEntry.queries` key: per key,
  * the shuffle-exchange count, broadcast count, cartesian /
  * broadcast-nested-loop presence, global-sort count, and codegen
  * span count of the executed (initial AQE) plan, dumped as ONE
  * artifact — `PLANCHECK.json` at the repo root. PLANS.md narrates
  * the ~45 most expensive keys in prose; this makes the "plans you'd
  * want at 100×" claim AUDITABLE for all of them: `PlanCheckSpec`
  * pins the committed artifact's key set to `queries.keySet` and
  * asserts every cartesian / nested-loop / global-sort flag is in the
  * [[sanctioned]] allowlist with a reason (both directions — a stale
  * allowlist entry whose key no longer flags also fails).
  *
  * Regenerate per round after plan-shape changes:
  * `sbt "runMain graft.PlanCheck /root/testdata/sf0.001"`.
  *
  * Construction note: operators with eager internal materialization
  * (graft.Materialize.once) run their upstream jobs at plan-build
  * time; each key builds inside a Materialize scope so the blocks are
  * freed key-by-key.
  */
object PlanCheck {

  /** Keys whose plan legitimately carries a cross/nested-loop join or
    * a global sort, with WHY — the audit surface for the spec's
    * zero-unexplained rule. A cartesian here is always a
    * degenerate-by-construction join (a 1-row aggregate side or a
    * bounded broadcast side), never a data×data product; a global
    * sort is always a bounded-output ordering (top-k rows / report
    * rows), never a corpus-sized range shuffle. */
  /** The three bounded-side shapes behind every sanctioned flag. */
  private val StatRow = "cross-joins a 1-row corpus-statistics aggregate " +
    "(IdentityBroadcastMode; the probe side streams once) - not a " +
    "data-by-data product"
  private val BoundedSide = "broadcast NLJ against a BOUNDED side fixed " +
    "by the operator contract (query set / centroid table / benchmark " +
    "suite, k rows independent of corpus size)"
  private val RecallRow = "recall report: cross join of 1-row aggregates " +
    "(n_true, n_found, n_missed are each single rows)"

  val sanctioned: Map[String, String] = Map(
    "corpus_clean_ml" -> StatRow,
    "corpus_pretrain" -> StatRow,
    "decon_embed" -> BoundedSide,
    "decon_embed_ivf" -> BoundedSide,
    "dedup_bloom" -> StatRow,
    "dedup_bloom_indexed" -> StatRow,
    // dedup_embed's bounded centroid BNLJ moved inside the r18-opt
    // materialized-assignment checkpoint job; the served plan no
    // longer carries it, so the sanction is retired (the spec fails
    // on stale entries in both directions)
    "dedup_recall" -> RecallRow,
    "embed_classify" -> StatRow,
    "embed_diversify" -> BoundedSide,
    "embed_kmeans" -> BoundedSide,
    "embed_pca" -> StatRow,
    "hybrid_rerank" -> StatRow,
    "knn_cosine" -> BoundedSide,
    "knn_hardneg" -> BoundedSide,
    "knn_ivf" -> BoundedSide,
    "knn_recall" -> RecallRow,
    "knn_recall_lsh" -> RecallRow,
    "knn_recall_pq" -> RecallRow,
    "knn_recall_trunc" -> BoundedSide,
    "mm_recall" -> RecallRow,
    "pretrain_examples" -> StatRow,
    "pretrain_examples_bpe" -> StatRow,
    "pretrain_examples_bpe_indexed" -> StatRow,
    "pretrain_yield" -> StatRow,
    "q_histogram" -> StatRow,
    "q_skyline" -> StatRow,
    "retrieval_eval" -> StatRow,
    "retrieval_eval_hybrid" -> StatRow,
    "sample_doremi" -> StatRow,
    "sample_mixture" -> StatRow,
    "sample_temperature" -> StatRow,
    "sample_unimax" -> StatRow,
    "simhash_recall" -> RecallRow,
    "text_bm25" -> StatRow,
    "text_ccnet" -> StatRow,
    "text_cms" -> StatRow,
    "text_heavyhitters" -> StatRow,
    "text_langid2" -> BoundedSide,
    "text_lmscore" -> StatRow,
    "text_tfidf" -> StatRow)

  /** The reason shared by the query-family files' own checkpoint sites. */
  private val QueryOwned = "composite-owned materializations: 1-row " +
    "statistics-aggregate crosses, bounded probe/recall truth sides, " +
    "vocab-sized top-k sorts - the same shapes sanctioned per-key " +
    "above, caught at their checkpoint"

  /** Sanctions for CHECKPOINT-SUBTREE flags (the [[graft.Materialize
    * .planHook]] surface — r18 ADVICE: eager materialization had moved
    * e.g. dedup_embed's bounded centroid BNLJ out of the served-plan
    * audit). Keyed by the call site's SOURCE FILE (line numbers shift
    * with edits); every flagged site's file must appear here with a
    * reason, both directions, like [[sanctioned]]. */
  val sanctionedCkpt: Map[String, String] = Map(
    "Knn.scala" -> ("ivf/mmr/recall subtrees: BNLJ is the one-row " +
      "broadcast centroid-array or bounded query-set attach " +
      "(IdentityBroadcastMode), global sort is a bounded top-k / " +
      "report-row ordering - never data-by-data"),
    "Pq.scala" -> ("PQ train/probe subtrees: BNLJ is the one-row " +
      "codebook/centroid-array attach, bounded by m*kCodes; sorts are " +
      "query-side top-k"),
    "Pca.scala" -> ("PCA moment subtree: 1-row corpus-moment aggregate " +
      "cross (centering), not a data-by-data product"),
    "Pretrain.scala" -> ("pipeline gate subtrees: 1-row statistics " +
      "aggregate crosses (decontaminate probe, temperature thresholds); " +
      "BPE trainer rounds: the vocab-sized top-1 merge pick sort"),
    "Retrieval.scala" -> ("retrieval index subtrees: bounded query-side " +
      "crosses and report-sized top-k sorts")) ++
    Seq("CurationQueries.scala", "DedupQueries.scala", "MultimodalQueries.scala",
      "RetrievalQueries.scala", "SamplingQueries.scala").map(_ -> QueryOwned)

  private val ShuffleRe = "(?<![A-Za-z])Exchange ".r
  private val BroadcastRe = "BroadcastExchange".r
  private val GlobalSortRe = "Sort \\[[^\\]]*\\], true".r
  private val ParquetScanRe = "Scan parquet".r
  private val RddScanRe = "Scan ExistingRDD".r

  final case class PlanStats(shuffles: Int, broadcasts: Int,
      cartesian: Boolean, bnlj: Boolean, globalSorts: Int,
      parquetScans: Int, rddScans: Int, planNodes: Int)

  def statsOf(plan: String): PlanStats = PlanStats(
    shuffles = ShuffleRe.findAllIn(plan).length,
    broadcasts = BroadcastRe.findAllIn(plan).length,
    cartesian = plan.contains("CartesianProduct"),
    bnlj = plan.contains("BroadcastNestedLoopJoin"),
    globalSorts = GlobalSortRe.findAllIn(plan).length,
    parquetScans = ParquetScanRe.findAllIn(plan).length,
    rddScans = RddScanRe.findAllIn(plan).length,
    planNodes = plan.linesIterator.count(_.trim.nonEmpty))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 1) args(1) else "PLANCHECK.json"
    val spark = GraftSession.builder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
      .appName("graft-plancheck").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { name =>
      // the Materialize.planHook extends the audit to CHECKPOINT-JOB
      // subtrees: eager materialization removes them from the served
      // plan, so without this the cartesian/NLJ audit silently skips
      // exactly the subtrees that execute every run (r18 ADVICE). Per
      // key we aggregate flags across its materializations.
      val ckptBuf = new scala.collection.mutable.ArrayBuffer[(String, PlanStats)]
      graft.Materialize.planHook =
        Some((site, plan) => ckptBuf.synchronized { ckptBuf += site -> statsOf(plan) })
      val stats = try graft.Materialize.scoped {
        statsOf(SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString)
      } finally graft.Materialize.planHook = None
      // free every block plan construction materialized; the plan
      // string is already extracted, nothing executes afterwards
      System.err.println(s"[plancheck] $name: $stats (+${ckptBuf.size} ckpt subtrees)")
      (name, stats, ckptBuf.toSeq)
    }
    val keyJson = rows.map { case (n, s, _) =>
      s""""$n": {"shuffles":${s.shuffles},"broadcasts":${s.broadcasts},""" +
        s""""cartesian":${s.cartesian},"bnlj":${s.bnlj},""" +
        s""""global_sorts":${s.globalSorts},"parquet_scans":${s.parquetScans},""" +
        s""""rdd_scans":${s.rddScans},"plan_nodes":${s.planNodes}}"""
    }.mkString(",\n")
    // per key: how many checkpoint subtrees executed at build time and
    // whether ANY of them carried a cartesian/NLJ/global sort — with
    // the flagged call sites, so sanctions stay attributable
    val ckptJson = rows.map { case (n, _, cks) =>
      val flaggedSites = cks.collect {
        case (site, s) if s.cartesian || s.bnlj || s.globalSorts > 0 => site
      }.distinct
      s""""$n": {"n_ckpt":${cks.size},""" +
        s""""cartesian":${cks.exists(_._2.cartesian)},""" +
        s""""bnlj":${cks.exists(_._2.bnlj)},""" +
        s""""global_sorts":${cks.map(_._2.globalSorts).sum},""" +
        s""""flagged_sites":[${flaggedSites.map(x => s""""$x"""").mkString(",")}]}"""
    }.mkString(",\n")
    val sancJson = sanctioned.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(",\n")
    val sancCkptJson = sanctionedCkpt.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(",\n")
    val json =
      s"""{
         |"generated_with": "runMain graft.PlanCheck $sfDir",
         |"sf": "$sfDir",
         |"n_keys": ${rows.size},
         |"keys": {
         |$keyJson
         |},
         |"ckpt_subtrees": {
         |$ckptJson
         |},
         |"sanctioned": {
         |$sancJson
         |},
         |"sanctioned_ckpt": {
         |$sancCkptJson
         |}
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    val flagged = rows.filter { case (_, s, _) =>
      s.cartesian || s.bnlj || s.globalSorts > 0 }
    println(s"[plancheck] ${rows.size} keys -> $outPath; " +
      s"flagged=${flagged.map(_._1).mkString(",")}")
    spark.stop()
  }
}
