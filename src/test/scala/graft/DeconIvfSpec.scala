package graft

import org.apache.spark.sql.functions._
import graft.operators.Knn
import graft.sources.Tables

/** IVF semantic-decontamination probe (SURVEY §2 #126b): the
  * corpus-scale swap-in for decon_embed's broadcast crossJoin. */
class DeconIvfSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sfDir)

  test("full probing == broadcast decon_embed exactly; nProbe=4 is one-sided with high recall") {
    val bench = embs.where(col("vec_id") % 20 === 7)
    val corpus = embs.where(col("vec_id") % 20 =!= 7)
    val bcast = SparkEntry.queries("decon_embed")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    // probing EVERY cell removes the approximation: centroid pick,
    // map-side probe selection, cell join and max aggregation must
    // then reproduce the broadcast crossJoin bit-for-bit — this pins
    // the probe MACHINERY (the integer-grid sort, the left join, the
    // scoring) independent of the recall dial
    val nc = Knn.autoCells(bench.count())
    val full = Knn.deconEmbedIvf(corpus, bench, 0.35, nProbe = nc).collect()
    assert(full.length == bcast.size, "full probe must score every corpus vector")
    full.foreach { r =>
      val (m, f) = bcast(r.getLong(0))
      assert(r.getDouble(1) == m && r.getBoolean(2) == f,
        s"full-probe result diverged for vec ${r.getLong(0)}: ${r.getDouble(1)} vs $m")
    }
    // at the shipped nProbe=4 the probe is ONE-SIDED: the probed max
    // never exceeds the true max (no false contamination flags), and
    // recall of the true flags stays high on this corpus — the
    // documented IVF trade, quantified instead of hand-waved
    val ivf = SparkEntry.queries("decon_embed_ivf")(spark, sfDir)
      .collect()
    assert(ivf.length == bcast.size,
      "IVF probe must score every corpus vector (left-join contract)")
    var misses = 0
    ivf.foreach { r =>
      val (m, f) = bcast(r.getLong(0))
      assert(r.getDouble(1) <= m + 1e-9,
        s"probed max above true max for vec ${r.getLong(0)}")
      assert(f || !r.getBoolean(2),
        s"false positive: vec ${r.getLong(0)} flagged without true contamination")
      if (f != r.getBoolean(2)) misses += 1
    }
    assert(misses.toDouble / ivf.length <= 0.05,
      s"nProbe=4 flag recall degraded: $misses/${ivf.length} missed flags")
  }

  test("probed candidate pairs are cell-bounded, far below the crossJoin") {
    val bench = embs.where(col("vec_id") % 20 === 7)
    val corpus = embs.where(col("vec_id") % 20 =!= 7)
    val m = bench.count(); val n = corpus.count()
    val nc = Knn.autoCells(m)
    // replay the operator's candidate generation with its own public
    // pieces and count the joined pair rows
    val cents = Knn.ivfCentroids(bench, nc)
    val assigned = Knn.ivfAssign(bench, cents)
    val nProbe = 4
    val probes = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents.agg(sort_array(
        collect_list(struct(col("cell_id"), col("centroid")))).as("cents"))))
      .select(col("vec_id"),
        explode(slice(array_sort(transform(col("cents"), c =>
          struct((-floor(round(Knn.cosine(col("embedding"), c.getField("centroid")), 6)
              * 1e6 + 0.5).cast("long")).as("nq"),
            c.getField("cell_id").as("cell_id")))), 1, nProbe)).as("pr"))
      .select(col("vec_id"), col("pr.cell_id").as("cell_id"))
    val pairs = probes.join(
      assigned.select(col("cell_id"), col("vec_id").as("b_id")), Seq("cell_id"))
      .count()
    val brute = n * m
    val maxOcc = assigned.groupBy(col("cell_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(pairs <= n * nProbe * maxOcc,
      s"pair count $pairs above the n*nProbe*maxOccupancy envelope")
    assert(pairs.toDouble <= brute.toDouble / 2,
      s"IVF probing did not beat the crossJoin: $pairs vs $brute " +
        s"(nc=$nc maxOcc=$maxOcc)")
  }
}
