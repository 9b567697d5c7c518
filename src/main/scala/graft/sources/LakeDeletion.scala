package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted deletion (GDPR / takedown) from the versioned lakes and
  * every published index that cites the deleted documents — the
  * maintenance operation every production corpus pipeline needs, made
  * cheap by the versioned-pointer layout: each delete writes a NEW
  * immutable version and swaps one pointer, so 24/7 readers never see
  * a gap (they finish against the version they resolved; the old
  * version survives until [[StormSinks.vacuumVersions]]).
  *
  * What "delete" means differs per index, and the distinction is the
  * whole design:
  *
  *  - PER-DOC indexes (minhash bands / verify sets, dense embedding
  *    index): every row cites exactly one doc, so deletion is a pure
  *    anti-join filter — row-identical to rebuilding the index from
  *    the remaining corpus, at a fraction of the cost.
  *  - GLOBAL-STAT indexes (BM25 weights: idf and avgdl are corpus
  *    aggregates): filtering rows would leave every REMAINING doc's
  *    weights stale, silently diverging from a rebuild — so the BM25
  *    table recomputes from the post-delete corpus. (The Jaccard
  *    prefix index is the same class — its df order must re-freeze —
  *    so its delete path is simply `Dedup.publishJaccardLake` over
  *    the remaining docs.)
  *  - STRUCTURAL indexes (near-dup cluster labels): deleting a doc
  *    can SPLIT a component it bridged, which no label filter can
  *    express. [[deleteFromClusterLake]] repairs it with a TARGETED
  *    recompute: connected components re-run only over the surviving
  *    members of clusters that lost a member — unaffected clusters
  *    keep their labels untouched. This equals a full rebuild exactly
  *    (proof in the method doc), at affected-cluster cost instead of
  *    corpus cost.
  */
object LakeDeletion {

  // Deletion stance for the fingerprint REGISTRIES (the line/
  // paragraph/pretrain seen-fps state groups): they hold one-way
  // sha-256 hashes of normalized lines/paragraphs — no document text,
  // no doc ids — so content removal does not require editing them,
  // and semantically a registry entry is corpus HISTORY ("this line
  // has been published once"), not a citation of a live document:
  // deleting a doc must not resurrect its boilerplate as "fresh" in
  // the next micro-batch. Deployments that still want registry purges
  // (e.g. hash-of-PII caution) republish the index from the
  // post-delete corpus (publishLineIndex / publishParagraphIndex /
  // publishPretrainIndex) and restart the stream — the same
  // rebuild-not-filter path the BM25 index takes.

  private def ids(del: DataFrame): DataFrame =
    del.select(col("doc_id")).dropDuplicates("doc_id")

  /** Delete from a [[graft.operators.Dedup.publishMinhashLake]] split
    * index: anti-join both tables of the current group snapshot and
    * commit them as ONE new group version — a crash mid-delete leaves
    * the previous consistent snapshot addressable, never bands
    * without their verify sets. Row-identical to
    * `publishMinhashLake(remaining)` because every row cites one doc
    * (DeletionSpec pins probe-identity).
    *
    * The new version carries EVERY table of the snapshot, named or
    * not — extra group tables a publisher shipped alongside (e.g.
    * [[graft.streaming.CorpusStream.publishDedupLake]]'s fps) used to
    * require naming in `alsoFilterByDoc` / `passThrough`, and a
    * default-args delete silently dropped them, breaking the next
    * probe micro-batch. Unnamed extras now classify by schema:
    * doc-keyed tables (a `doc_id` column) anti-join like the core
    * tables; content-keyed tables (the fingerprint set has no
    * doc_id) copy through unchanged and recompute on the next
    * publisher run. The explicit args remain as overrides — e.g.
    * `passThrough` a doc-keyed audit table whose rows must survive
    * deletion. */
  def deleteFromMinhashLake(spark: SparkSession, dir: String,
      deleteIds: DataFrame, alsoFilterByDoc: Seq[String] = Nil,
      passThrough: Seq[String] = Nil): Unit = graft.Materialize.scoped {
    val del = graft.Materialize.once(ids(deleteIds))
    val ver = StormSinks.currentVersionName(spark, dir)
    // EVERY table of the group snapshot, so a rewrite can never
    // silently drop one
    val tables = StormSinks.groupTablesAt(spark, dir, ver).map { n =>
      val df = StormSinks.readGroupTableAt(spark, dir, ver, n)
      val filter =
        if (passThrough.contains(n)) false
        else if (alsoFilterByDoc.contains(n) || n == "bands" || n == "sets") true
        else df.columns.contains("doc_id")
      n -> (if (filter) df.join(broadcast(del), Seq("doc_id"), "left_anti") else df)
    }
    StormSinks.writeVersionedGroup(spark, dir, tables,
      partitionCols = Map("bands" -> Seq("band")))
    ()
  }

  /** Delete from a [[graft.streaming.CorpusStream.publishRetrievalLake]]:
    * the dense index filters (per-row), but the BM25 weights
    * RECOMPUTE from the remaining corpus — idf and avgdl are corpus
    * aggregates, so a filtered table would keep every remaining doc's
    * stale weights (the silent-divergence failure mode a
    * rebuild-equality spec catches immediately). `remainingDocs` is
    * the post-delete corpus (the caller owns the docs lake — pass its
    * post-delete read). */
  def deleteFromRetrievalLake(spark: SparkSession, dir: String,
      remainingDocs: DataFrame, deleteIds: DataFrame): Unit =
    graft.Materialize.scoped {
      val del = graft.Materialize.once(ids(deleteIds))
      val ver = StormSinks.currentVersionName(spark, dir)
      StormSinks.writeVersionedGroup(spark, dir, Seq(
        "bm25" -> graft.operators.PipelineQueries.bm25WeightsOf(
          remainingDocs.select(col("doc_id"), col("text"))),
        "dense" -> StormSinks.readGroupTableAt(spark, dir, ver, "dense")
          .join(broadcast(del.select(col("doc_id").as("vec_id"))),
            Seq("vec_id"), "left_anti")))
      ()
    }

  /** Delete from a [[graft.operators.Pq.publishIvfPqLake]] index:
    * PER-DOC class — a vector's rows (its cell-partitioned embedding
    * row and its m PQ code rows) cite exactly one vec_id, so deletion
    * is the pure anti-join filter, committed with the untouched
    * coarse centroids + codebooks + meta as ONE atomic group version
    * (codes never pair with foreign codebooks). The trained artifacts
    * stay by design: deleting data does not untrain the model — FAISS
    * remove_ids semantics — and the deleted vector contributed only
    * an infinitesimal pull on centroids; a deployment that must purge
    * even that influence republishes via publishIvfPqLake over the
    * remaining vectors. DeletionSpec pins: deleted ids lose their
    * codes AND stop being retrievable, surviving rankings match the
    * filtered index exactly. */
  def deleteFromIvfPqLake(spark: SparkSession, dir: String,
      deleteIds: DataFrame): Unit = graft.Materialize.scoped {
    val del = graft.Materialize.once(
      ids(deleteIds).select(col("doc_id").as("vec_id")))
    // segment-aware: vectors appended by Pq.appendToIvfPqLake live in
    // delta segments and must survive the rewrite
    val ver = StormSinks.currentVersionName(spark, dir)
    def table(name: String) = StormSinks.readGroupTableAt(spark, dir, ver, name)
    StormSinks.writeVersionedGroup(spark, dir, Seq(
      "coarse" -> table("coarse"),
      "books" -> table("books"),
      "codes" -> table("codes")
        .join(broadcast(del), Seq("vec_id"), "left_anti"),
      "vectors" -> table("vectors")
        .withColumn("cell_id", col("cell_id").cast("long"))
        .join(broadcast(del), Seq("vec_id"), "left_anti"),
      "meta" -> table("meta")),
      partitionCols = Map("vectors" -> Seq("cell_id")))
    ()
  }

  /** Delete from a [[graft.streaming.CorpusStream.publishClusterLake]]
    * group: docs anti-join, labels repaired by TARGETED connected
    * components, both committed as ONE new group version (readers and
    * replays never see deleted docs with undead labels or vice
    * versa).
    *
    * Why the repair equals a full rebuild: a direct J ≥ t pair
    * between two docs always merged them into one component, so no
    * pair ever crosses two distinct published clusters — deleting
    * docs therefore cannot affect any component that kept all its
    * members. Components of the post-delete graph are exactly (a) the
    * untouched clusters, labels unchanged (their min member id
    * survives — no member left), plus (b) the components of the
    * subgraph induced on SURVIVING members of clusters that lost a
    * member — recomputed here by re-running the exact pair join +
    * min-label CC on those members only (the bridge-doc case: a
    * cluster whose connector is deleted SPLITS back, which no label
    * filter can express). Affected-cluster-sized work, never
    * corpus-sized. DeletionSpec pins label-identity to
    * `clusters(jaccardPairs(remaining))` including a bridge-split
    * fixture. */
  def deleteFromClusterLake(spark: SparkSession, dir: String,
      deleteIds: DataFrame, k: Int = 3, threshold: Double = 0.5): Unit =
    graft.Materialize.scoped {
      // one pointer resolution = one consistent (docs, labels) snapshot
      val verName = StormSinks.currentVersionName(spark, dir)
      // repairing under a different similarity than the published
      // labels' would silently rewrite affected clusters wrong — the
      // lake's persisted (k, threshold) are authoritative; mismatch
      // raises (DeletionSpec pins it)
      graft.streaming.CorpusStream.validateClusterMeta(spark, dir, verName,
        k, threshold, "graft.LakeDeletion.deleteFromClusterLake")
      // segment-aware: docs segments union, labels collapse latest-wins
      val docs0 = StormSinks.readGroupTableAt(spark, dir, verName, "docs")
      val labels0 = StormSinks.readGroupTableKeyedAt(
        spark, dir, verName, "labels", Seq("doc_id"))
      val del = graft.Materialize.once(ids(deleteIds))
      val docs1 = docs0.join(broadcast(del), Seq("doc_id"), "left_anti")
      // clusters that lost >= 1 member (a deleted doc with no label row
      // was a singleton — nothing to repair)
      val affected = graft.Materialize.once(
        labels0.join(broadcast(del), Seq("doc_id"), "left_semi")
          .select(col("cluster_id")).dropDuplicates("cluster_id"))
      val affectedDocs = labels0
        .join(broadcast(affected), Seq("cluster_id"), "left_semi")
        .select(col("doc_id"))
      val members = docs1.join(affectedDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
      // full-coverage repair: every surviving member keeps an explicit
      // row (self-label when the repair leaves it unpaired) — the
      // invariant the delta-segment label commits depend on
      val repairedPairs = graft.operators.Dedup.clusters(
        graft.operators.Dedup.jaccardPairs(members, k, threshold))
      val repaired = members.select(col("doc_id"))
        .join(repairedPairs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val keep = labels0
        .join(broadcast(del), Seq("doc_id"), "left_anti")
        .join(broadcast(affected), Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
      // carry every other snapshot table (meta, publisher extras)
      // through so the new version stays complete — but classify by
      // schema like deleteFromMinhashLake: a doc-keyed extra (e.g. the
      // indexed layout's `fresh` backlog, which carries doc_id + full
      // text) must anti-join too, or deleted documents' text would
      // persist in the new version and re-enter the next probe — a
      // deletion-completeness hole. Content-keyed tables (meta, df
      // stats) copy through unchanged.
      val extras = StormSinks.groupTablesAt(spark, dir, verName)
        .filterNot(n => n == "docs" || n == "labels")
        .map { n =>
          val df = StormSinks.readGroupTableAt(spark, dir, verName, n)
          n -> (if (df.columns.contains("doc_id"))
            df.join(broadcast(del), Seq("doc_id"), "left_anti")
          else df)
        }
      StormSinks.writeVersionedGroup(spark, dir, Seq(
        "docs" -> docs1,
        "labels" -> keep.unionByName(
          repaired.select(col("doc_id"), col("cluster_id")))) ++ extras)
      ()
    }

  /** Complete deletion for the
    * [[graft.streaming.CorpusStream.publishClusterLakeIndexed]]
    * layout, where deleted documents are cited from THREE places: the
    * state group's doc-keyed tables (docs / labels / fresh — handled
    * by [[deleteFromClusterLake]]'s schema classification), and the
    * Jaccard prefix index at `indexDir`, whose df-frozen prefix
    * entries would otherwise keep matching deleted text on every
    * subsequent probe. The index is a global-stat structure (its df
    * order must re-freeze over the remaining corpus), so its delete
    * path is a republish, not a filter —
    * [[graft.streaming.CorpusStream.republishClusterIndex]] rebuilds
    * it from the post-delete state docs and resets `fresh`. A crash
    * between the two publishes leaves the state clean but the index
    * stale: probes may still CITE deleted ids until the republish
    * lands, but the deleted docs/labels/fresh rows (and their text)
    * are already gone — re-running the republish completes it. */
  def deleteFromClusterLakeIndexed(spark: SparkSession, stateDir: String,
      indexDir: String, deleteIds: DataFrame,
      k: Int = 3, threshold: Double = 0.5): Unit = {
    deleteFromClusterLake(spark, stateDir, deleteIds, k, threshold)
    graft.streaming.CorpusStream.republishClusterIndex(
      spark, stateDir, indexDir, k, threshold)
  }
}
