package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval
import graft.sources.Tables

/** The BM25 lake's frozen-stats append (#95g): probe-after-append must
  * equal a full rebuild of the grown corpus under the published
  * statistics, compaction must be invisible, and out-of-vocabulary
  * tokens of appended docs must contribute nothing (the frozen
  * Lucene-segment / FAISS-add contract). */
class RetrievalLakeSpec extends SparkSpec {
  import spark.implicits._

  test("append under frozen stats == full rebuild; compaction invisible; OOV contributes nothing") {
    val doc = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val base = doc.where(col("doc_id") % 10 =!= 9)
    val delta = doc.where(col("doc_id") % 10 === 9)
    val lake = java.nio.file.Files
      .createTempDirectory("graft-bm25-append").toString
    assert(Retrieval.publishBm25Lake(base, lake) == 0)
    assert(Retrieval.appendToBm25Lake(spark, lake, delta, maxSegments = 0) == 1)
    def w(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = w(Retrieval.readBm25Weights(spark, lake))
    // truth: the SAME scoring core over the grown corpus's tf/dl and
    // the BASE-only df/stats — the frozen-snapshot semantics
    val (tfAll, dlAll) = Retrieval.bm25TfDl(doc)
    val (tfBase, dlBase) = Retrieval.bm25TfDl(base)
    val dfBase = tfBase.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val statsBase = base.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dlBase.agg(sum(col("dl")).as("sum_dl")))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val want = w(Retrieval.bm25WeightsFrom(tfAll, dlAll, dfBase, statsBase))
    assert(got == want, "appended weights diverged from frozen-stats rebuild")
    // base docs' weights are byte-identical to publish-time (df/stats
    // frozen means the append can never perturb the published index)
    val pubOnly = w(Retrieval.bm25WeightsFrom(tfBase, dlBase, dfBase, statsBase))
    pubOnly.foreach { case (k, v) => assert(got(k) == v, s"base weight moved: $k") }
    // compaction folds the segments without changing the serving table
    assert(graft.sources.StormSinks.maintainGroupSegments(spark, lake, 1))
    assert(w(Retrieval.readBm25Weights(spark, lake)) == want,
      "compaction changed the weights")
    // frozen vocabulary: an appended doc whose token never appeared in
    // the base corpus gets NO weight for it (no frozen idf exists)
    val lake2 = java.nio.file.Files
      .createTempDirectory("graft-bm25-oov").toString
    Retrieval.publishBm25Lake(base, lake2)
    Retrieval.appendToBm25Lake(spark, lake2,
      Seq((900001L, "zzqqxxunseen zzqqxxunseen the")).toDF("doc_id", "text"),
      maxSegments = 0)
    val app = Retrieval.readBm25Weights(spark, lake2)
      .where(col("doc_id") === 900001L).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(!app.contains("zzqqxxunseen"), s"OOV token scored: $app")
    assert(app.contains("the"), "known-vocabulary token must score")
  }

  test("streaming ingest: served index == frozen-stats rebuild over all waves; replay no-op; guards") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream").toString
    val doc = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val pub = doc.where(col("doc_id") % 10 =!= 9)
    val rest = doc.where(col("doc_id") % 10 === 9)
    Retrieval.publishBm25Lake(pub, s"$base/index")
    // three waves streamed file-by-file
    rest.where(col("doc_id") < 100).coalesce(1).write.parquet(s"$base/in")
    rest.where(col("doc_id") >= 100 && col("doc_id") < 300)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    rest.where(col("doc_id") >= 300)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    Retrieval.startBm25Ingest(spark, s"$base/in", s"$base/index",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    def w(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = w(Retrieval.readBm25Weights(spark, s"$base/index"))
    // frozen stats make the append ORDER-INDEPENDENT: the streamed
    // index must equal one rebuild of the grown corpus under the
    // published statistics
    val (tfAll, dlAll) = Retrieval.bm25TfDl(doc)
    val (tfB, dlB) = Retrieval.bm25TfDl(pub)
    val dfB = tfB.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stB = pub.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dlB.agg(sum(col("dl")).as("sum_dl")))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val want = w(Retrieval.bm25WeightsFrom(tfAll, dlAll, dfB, stB))
    assert(got == want, "streamed index diverged from frozen-stats rebuild")
    // replay: same checkpoint, no new input -> index unchanged
    Retrieval.startBm25Ingest(spark, s"$base/in", s"$base/index",
      s"$base/cp", maxFilesPerTrigger = 1).awaitTermination()
    assert(w(Retrieval.readBm25Weights(spark, s"$base/index")) == want,
      "replay mutated the index")
    // guard 1: used gate + fresh checkpoint
    val e1 = intercept[IllegalStateException] {
      Retrieval.startBm25Ingest(spark, s"$base/in", s"$base/index",
        s"$base/cp-lost", maxFilesPerTrigger = 1)
    }
    assert(e1.getMessage.contains("no committed offsets"), e1.getMessage)
    // guard 2: republished (gate reset) index under a kept checkpoint
    val fresh2 = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream2").toString
    Retrieval.publishBm25Lake(pub, s"$fresh2/index")
    val e2 = intercept[IllegalStateException] {
      Retrieval.startBm25Ingest(spark, s"$base/in", s"$fresh2/index",
        s"$base/cp", maxFilesPerTrigger = 1)
    }
    assert(e2.getMessage.contains("lost or republished"), e2.getMessage)
  }
}
