package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.Kernels

object CorpusBatchWorkload {
  /** Corpus size: the iteration is dominated by per-job and per-plan
    * cost, so a sf0.1-sized corpus (5,000 documents) adds little to it
    * but triples its DuckDB oracle time. */
  val Docs = 1000
  val Embeddings = 500
  /** Fixed iteration order; metric name of each key. */
  val Keys: Seq[(String, String)] = Seq(
    "corpus_pretrain" -> "operators.pretrain_ms",
    "dedup_cluster" -> "operators.dedup_cluster_ms",
    "knn_ivfpq" -> "operators.knn_ivfpq_ms")
  /** The graft_* kernels in the three keys' executed plans. */
  val KernelNames: Seq[String] = Seq("graft_nfc", "graft_shingles", "graft_top_token_count",
    "graft_intersect_count", "graft_cosine", "graft_ivf_argmin", "graft_pq_argmin")
}

/** Per-query engine overhead: the three training-data keys, each forced
  * through `collect`, over a seeded row-permuted corpus split into one
  * file per core. */
final class CorpusBatchWorkload(run: Run) extends Workload {
  import CorpusBatchWorkload._

  val why = "per-query engine overhead: planning, codegen, Materialize checkpoints, shuffle " +
    "and the native kernels, ~140 jobs and ~400 compiles per iteration"

  val nominalRoundSeconds = 10.0

  private val spark = run.spark
  private val in = s"${run.work}/corpus/in"
  private val queries = graft.SparkEntry.queries
  private val warm = scala.collection.mutable.Map.empty[String, String]

  def stage(): Unit = {
    Gen.writeParquet(spark, Gen.shuffle(run.seed, Gen.documents(run.seed, Docs)),
      Gen.documentsSchema, s"$in/documents.parquet", run.cores)
    Gen.writeParquet(spark, Gen.shuffle(run.seed, Gen.embeddings(run.seed, Embeddings)),
      Gen.embeddingsSchema, s"$in/embeddings.parquet", run.cores)
  }

  def warmup(): Unit = Keys.foreach { case (k, _) =>
    val df = queries(k)(spark, in)
    val rows = df.collect().toSeq
    warm(k) = Util.digest(rows)
    val check = s"${run.work}/check/$k"
    spark.createDataFrame(rows.asJava, df.schema).coalesce(1).write.parquet(check)
    run.oracles += Json.obj("name" -> k, "sql" -> graft.SparkEntry.oracleSql(k),
      "spark_dir" -> check,
      "views" -> Map("documents" -> s"$in/documents.parquet/*.parquet",
        "embeddings" -> s"$in/embeddings.parquet/*.parquet"),
      "fail_kinds" -> Seq("iteration"))
  }

  def round(idx: Int, traced: Boolean): Unit = run.round(idx, traced) {
    val persisted0 = run.persisted()
    val out = Keys.map { case (k, metric) =>
      val (rows, ms) = run.timed(run.call(k)(queries(k)(spark, in).collect().toSeq))
      run.accumulate(metric, ms)
      (k, rows, ms)
    }
    run.accumulate("materialize.residue",
      (run.persisted() -- persisted0).size.toDouble)
    val op = run.op("iteration", out.map(_._3).sum)
    run.addRows(Docs)
    out.foreach { case (k, rows, _) =>
      val d = Util.digest(rows)
      run.check(s"${k}_matches_warmup", d == warm(k), s"${rows.size} rows", Seq(op))
    }
  }

  override def finish(): Unit = if (run.trace) {
    run.tracer.foreach { t =>
      run.layer("expressions.unlisted_kernels") =
        t.kernelsSeen.asScala.count(k => !KernelNames.contains(k)).toDouble
    }
    KernelTimes.measure(run, in).foreach { case (k, ns) =>
      run.layer(s"expressions.${k}_ns_per_row") = ns
    }
  }
}

/** Each graft kernel of corpus_batch's plans, called directly on the
  * workload's own documents and embeddings: ns per call, single thread. */
object KernelTimes {
  private var sink = 0L

  private def time(rows: Int)(f: Int => Long): Double = {
    var i = 0
    while (i < rows) { sink += f(i); i += 1 } // warm the call site
    var passes = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 100L * 1000 * 1000 || passes < 3) {
      i = 0
      while (i < rows) { sink += f(i); i += 1 }
      passes += 1
    }
    (System.nanoTime() - t0).toDouble / (passes.toLong * rows)
  }

  def measure(run: Run, in: String): Seq[(String, Double)] = {
    val spark = run.spark
    val texts = spark.read.parquet(s"$in/documents.parquet").orderBy("doc_id")
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val embs = spark.read.parquet(s"$in/embeddings.parquet").orderBy("vec_id")
      .select("embedding").collect().map(r =>
        r.getSeq[Float](0).toArray)
    val n = texts.length
    val m = embs.length
    val tokens: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(Kernels.tokens(t).map(UTF8String.fromString).toArray[Any]))
    val shingles: Array[ArrayData] = texts.map(t => Kernels.shingles(t, 3))
    val vecs: Array[ArrayData] = embs.map(e => UnsafeArrayData.fromPrimitiveArray(e))
    // IVF cells: the first sqrt(m) vectors as centroids
    val cells = new GenericArrayData((0 until math.sqrt(m.toDouble).toInt).map(j =>
      InternalRow(j.toLong, vecs(j)): Any).toArray)
    // PQ: 8-d double sub-vectors against a 16-code block codebook
    val subs: Array[ArrayData] = embs.map(e =>
      UnsafeArrayData.fromPrimitiveArray(e.take(8).map(_.toDouble)))
    val codebook = new GenericArrayData((0 until 16).map(j =>
      InternalRow(j.toLong, subs(j)): Any).toArray)
    val out = Seq(
      "graft_nfc" -> time(n)(i => Kernels.nfc(texts(i)).numBytes().toLong),
      "graft_shingles" -> time(n)(i => Kernels.shingles(texts(i), 3).numElements().toLong),
      "graft_top_token_count" -> time(n)(i => Kernels.topTokenCount(tokens(i)).toLong),
      "graft_intersect_count" -> time(n)(i =>
        Kernels.intersectCount(shingles(i), shingles((i + 1) % n)).toLong),
      "graft_cosine" -> time(m)(i => (Kernels.cosineF(vecs(i), vecs((i + 1) % m)) * 1e6).toLong),
      "graft_ivf_argmin" -> time(m)(i => Kernels.ivfArgmin(vecs(i), cells).getLong(0)),
      "graft_pq_argmin" -> time(m)(i => Kernels.pqArgmin(subs(i), codebook)))
    if (sink == 42) System.err.print("")
    out
  }
}
