package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog of every published lake group a deployment serves — and
  * the unified maintenance sweeps that iterate IT instead of being
  * pointed at each group by hand.
  *
  * Why: the library publishes many independent versioned groups (the
  * minhash/jaccard/cluster dedup indexes, the BM25 and dense
  * retrieval lakes, the IVF-PQ ANN index, tokenizer, classifier
  * weights, the line/paragraph/pretrain fingerprint registries, the
  * drift reference). Each has the right per-group deletion semantics
  * in [[LakeDeletion]] — but a takedown that has to NAME every group
  * silently survives in any index the operator forgot. The catalog
  * makes the group inventory DATA: [[sweepDelete]] dispatches the
  * correct per-kind deletion to every registered group in one call,
  * [[auditCitations]] proves the doc ids are gone from ALL of them,
  * and [[vacuumAll]] runs version/segment retention across the fleet.
  *
  * The catalog itself is a versioned group (one `entries` table under
  * the same pointer protocol), so registration is atomic, replayable
  * and versioned like everything else. Register at publish time; an
  * entry's `kind` selects the deletion semantics:
  *
  *  - `minhash`   — per-doc rows: anti-join filter ([[LakeDeletion.deleteFromMinhashLake]])
  *  - `retrieval` — dense filters, BM25 recomputes (needs `remainingDocs`)
  *  - `ivfpq`     — codes/vectors filter, codebooks stay (FAISS remove_ids)
  *  - `clusters`  — filter + targeted CC repair; (k, threshold) read from the lake's meta
  *  - `clusters_indexed` — same, plus prefix-index republish (`auxPath` = index dir)
  *  - `bm25`      — global-stat: republished from `remainingDocs`
  *  - `jaccard`   — global-stat: republished from `remainingDocs`
  *                  (`params`: `k`, `threshold` — the publish-time knobs)
  *  - `bloom`     — membership bitmap: republished from `remainingDocs`
  *                  (shared bits cannot be unset in place; until the
  *                  sweep the index is over-inclusive — the SAFE
  *                  direction for a prefilter, but a takedown must
  *                  still rebuild so the deleted content stops
  *                  reading as a member)
  *  - `registry`  — content-hash registries: retained by documented
  *                  stance (no doc citations; see [[LakeDeletion]]'s
  *                  registry note)
  *  - `model`     — trained artifacts (tokenizer, classifier weights,
  *                  drift reference): deleting data does not untrain
  *                  the model; republish on the maintenance cadence
  */
object LakeCatalog {

  val Kinds: Set[String] = Set("minhash", "retrieval", "ivfpq", "clusters",
    "clusters_indexed", "bm25", "jaccard", "bloom", "registry", "model")

  /** Kinds whose delete path is a republish over the remaining corpus
    * — [[sweepDelete]] requires `remainingDocs` when any is present. */
  val RepublishKinds: Set[String] = Set("bm25", "jaccard", "bloom")

  private def entriesSchema(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, String, String)]
      .toDF("name", "path", "kind", "aux_path", "params")
  }

  /** Registered entries (stored columns only; [[status]] adds live
    * freshness). Empty on a cold catalog. */
  def entries(spark: SparkSession, catalogDir: String): DataFrame =
    try StormSinks.readVersionedGroupTable(spark, catalogDir, "entries")
    catch { case _: java.io.FileNotFoundException => entriesSchema(spark) }

  /** Upsert one group registration (latest wins by name) and commit a
    * new catalog version. `params` is the per-kind knob map (e.g.
    * jaccard's k/threshold), serialized `k=v` semicolon-joined.
    * Returns the committed catalog version. */
  def register(spark: SparkSession, catalogDir: String, name: String,
      path: String, kind: String, auxPath: String = null,
      params: Map[String, String] = Map.empty): Int = {
    require(Kinds.contains(kind),
      s"unknown lake kind '$kind' (one of ${Kinds.toSeq.sorted.mkString(", ")})")
    require(kind != "clusters_indexed" || auxPath != null,
      "clusters_indexed needs auxPath = the prefix-index dir")
    import spark.implicits._
    val row = Seq((name, path, kind, Option(auxPath).getOrElse(""),
      params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")))
      .toDF("name", "path", "kind", "aux_path", "params")
    val kept = entries(spark, catalogDir).where(col("name") =!= name)
    StormSinks.writeVersionedGroup(spark, catalogDir,
      Seq("entries" -> kept.unionByName(row)))
  }

  /** Drop one registration; returns the committed catalog version. */
  def deregister(spark: SparkSession, catalogDir: String,
      name: String): Int =
    StormSinks.writeVersionedGroup(spark, catalogDir, Seq("entries" ->
      entries(spark, catalogDir).where(col("name") =!= name)))

  private def paramsOf(row: org.apache.spark.sql.Row): Map[String, String] =
    row.getAs[String]("params").split(";").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap

  /** The catalog with LIVE freshness per group: current version name,
    * table count, and the pointer's modification time — the "is this
    * index stale" dashboard row. Driver-side listing over the
    * (bounded) entry set, not a distributed job. */
  def status(spark: SparkSession, catalogDir: String): DataFrame = {
    import spark.implicits._
    val rows = entries(spark, catalogDir).collect().toSeq.map { r =>
      val path = r.getAs[String]("path")
      val (ver, nTables, ptrMtime) =
        try {
          val (v, mtime) = StormSinks.currentVersionStamp(spark, path)
          (v, StormSinks.groupTablesAt(spark, path, v).size, mtime)
        } catch { case _: java.io.FileNotFoundException => ("<unpublished>", 0, 0L) }
      (r.getAs[String]("name"), path, r.getAs[String]("kind"),
        ver, nTables, ptrMtime)
    }
    rows.toDF("name", "path", "kind", "current_version", "n_tables",
      "pointer_mtime")
  }

  /** One takedown across EVERY cataloged group: dispatch each entry's
    * kind-correct deletion ([[LakeDeletion]] semantics). `remainingDocs`
    * (the post-delete corpus) is required iff a republish-class group
    * (`bm25`/`jaccard`) or the `retrieval` lake is registered — fail
    * fast BEFORE mutating anything, so a sweep never half-lands for a
    * missing argument. Returns the per-group report
    * (name, kind, action); `registry`/`model` rows record their
    * documented retention stance rather than silently skipping. */
  def sweepDelete(spark: SparkSession, catalogDir: String,
      deleteIds: DataFrame, remainingDocs: DataFrame = null): DataFrame = {
    import spark.implicits._
    val es = entries(spark, catalogDir).collect().toSeq
    val needsCorpus = es.filter(r =>
      RepublishKinds.contains(r.getAs[String]("kind")) ||
        r.getAs[String]("kind") == "retrieval")
    require(needsCorpus.isEmpty || remainingDocs != null,
      "sweepDelete: remainingDocs (the post-delete corpus) is required for " +
        s"cataloged groups ${needsCorpus.map(_.getAs[String]("name")).sorted.mkString(", ")}")
    val report = es.map { r =>
      val (name, path, kind) =
        (r.getAs[String]("name"), r.getAs[String]("path"), r.getAs[String]("kind"))
      val action = kind match {
        case "minhash" =>
          LakeDeletion.deleteFromMinhashLake(spark, path, deleteIds)
          "filtered (per-doc anti-join)"
        case "retrieval" =>
          LakeDeletion.deleteFromRetrievalLake(spark, path,
            remainingDocs, deleteIds)
          "dense filtered; BM25 recomputed from remaining corpus"
        case "ivfpq" =>
          LakeDeletion.deleteFromIvfPqLake(spark, path, deleteIds)
          "codes+vectors filtered; trained codebooks retained (remove_ids)"
        case "clusters" | "clusters_indexed" =>
          val (k, t) = clusterParamsOf(spark, path)
          if (kind == "clusters")
            LakeDeletion.deleteFromClusterLake(spark, path, deleteIds, k, t)
          else
            LakeDeletion.deleteFromClusterLakeIndexed(spark, path,
              r.getAs[String]("aux_path"), deleteIds, k, t)
          s"filtered + targeted CC repair (k=$k, threshold=$t)" +
            (if (kind == "clusters_indexed") "; prefix index republished" else "")
        case "bm25" =>
          graft.operators.Retrieval.publishBm25Lake(
            remainingDocs.select(col("doc_id"), col("text")), path)
          "republished from remaining corpus (global stats re-frozen)"
        case "jaccard" =>
          val p = paramsOf(r)
          graft.operators.Dedup.publishJaccardLake(
            remainingDocs.select(col("doc_id"), col("text")), path,
            k = p.getOrElse("k", "2").toInt,
            threshold = p.getOrElse("threshold", "0.5").toDouble)
          "republished from remaining corpus (df order re-frozen)"
        case "bloom" =>
          graft.operators.Dedup.publishBloomLake(
            remainingDocs.select(col("doc_id"), col("text")), path)
          "republished from remaining corpus (bitmap rebuilt — shared bits cannot be unset in place)"
        case "registry" =>
          "retained: content-hash registry, no doc citations (documented stance)"
        case "model" =>
          "retained: trained artifact; deleting data does not untrain it"
      }
      (name, kind, action)
    }
    report.toDF("name", "kind", "action")
  }

  /** (k, threshold) of a cluster lake, from its authoritative meta
    * table; the pre-meta legacy defaults otherwise. */
  private def clusterParamsOf(spark: SparkSession,
      dir: String): (Int, Double) =
    try {
      val ver = StormSinks.currentVersionName(spark, dir)
      if (StormSinks.groupTablesAt(spark, dir, ver).contains("meta")) {
        val m = StormSinks.readGroupTableAt(spark, dir, ver, "meta").head()
        (m.getAs[Int]("k"), m.getAs[Double]("threshold"))
      } else (3, 0.5)
    } catch { case _: java.io.FileNotFoundException => (3, 0.5) }

  /** The sweep's PROOF: for every cataloged group, count rows of
    * every table at the current version that still cite a deleted id
    * through any doc-citing column (doc_id / vec_id / doc_a / doc_b /
    * canonical_id). Segment-aware reads. One row per (group, table)
    * that HAS a citing column; DeletionSpec pins n_citing == 0 across
    * the board after [[sweepDelete]]. */
  def auditCitations(spark: SparkSession, catalogDir: String,
      deleteIds: DataFrame): DataFrame = {
    import spark.implicits._
    val citing = Seq("doc_id", "vec_id", "doc_a", "doc_b", "canonical_id")
    val del = graft.Materialize.once(
      deleteIds.select(col("doc_id")).dropDuplicates("doc_id"))
    val rows = try entries(spark, catalogDir).collect().toSeq.flatMap { r =>
      val (name, path) = (r.getAs[String]("name"), r.getAs[String]("path"))
      val dirs = Seq(path) ++
        Option(r.getAs[String]("aux_path")).filter(_.nonEmpty).toSeq
      dirs.flatMap { d =>
        val ver =
          try Some(StormSinks.currentVersionName(spark, d))
          catch { case _: java.io.FileNotFoundException => None }
        ver.toSeq.flatMap { v =>
          StormSinks.groupTablesAt(spark, d, v).flatMap { t =>
            val df = StormSinks.readGroupTableAt(spark, d, v, t)
            val cols = df.columns.filter(citing.contains)
            if (cols.isEmpty) None
            else {
              val n = cols.map(c => df.join(del.select(col("doc_id").as(c)),
                Seq(c), "left_semi").count()).sum
              Some((name, if (d == path) t else s"aux:$t", n))
            }
          }
        }
      }
    } finally graft.Materialize.free(del)
    rows.toDF("name", "table", "n_citing")
  }

  /** Fleet-wide retention: version vacuum + unreferenced-segment
    * vacuum for every cataloged group AND the catalog itself. Returns
    * (name, versions_deleted, segments_deleted). */
  def vacuumAll(spark: SparkSession, catalogDir: String,
      keep: Int = 2): DataFrame = {
    import spark.implicits._
    val targets = entries(spark, catalogDir).collect().toSeq
      .map(r => r.getAs[String]("name") -> r.getAs[String]("path")) :+
      ("catalog" -> catalogDir)
    targets.map { case (name, path) =>
      val nv = StormSinks.vacuumVersions(spark, path, keep).size
      val ns = StormSinks.vacuumSegments(spark, path).size
      (name, nv, ns)
    }.toDF("name", "versions_deleted", "segments_deleted")
  }
}
