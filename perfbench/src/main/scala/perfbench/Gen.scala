package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same rows
  * in the same order. The tables have the shapes the graft readers
  * expect (`Tables.events`, `Tables.documents`, `Tables.embeddings`)
  * and the distributions measured on the sf0.1 testdata tables
  * (`shapes.py` prints them; README.md records the figures). */
object Gen {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private val eventTypes = Array("click", "view", "purchase", "signup", "error")

  private val vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val otherLangs = Array("de", "es", "fr", "zh")

  /** sf0.1: 41% "en", the rest evenly "de", "es", "fr" and "zh". */
  private def lang(r: SplittableRandom): String =
    if (r.nextInt(100) < 41) "en" else otherLangs(r.nextInt(otherLangs.length))

  /** `n` events, ids 0..n-1: the five event types uniform, 1,500
    * users, values exponential with mean 50 at two decimals, and
    * exponential gaps of mean 26 s between reports, as in sf0.1. The ts
    * are cut to whole seconds, which the wire JSON carries exactly. */
  def events(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed)
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    def exp(mean: Double): Double = -mean * math.log(1.0 - r.nextDouble())
    var ms = 0.0
    (0 until n).map { i =>
      ms += exp(26000.0)
      Row(i.toLong, t0.plusSeconds((ms / 1000).toLong), r.nextLong(0, 1500),
        eventTypes(r.nextInt(eventTypes.length)), math.round(exp(50.0) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** `n` documents of 10-100 words drawn uniformly from the
    * vocabulary; after the first ten, about 5% are an earlier
    * document's text plus a trailing " dup" token, so two of them can
    * repeat the same text exactly, as in sf0.1. */
  def documents(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed ^ 0x5eedd0c5L)
    val texts = new Array[String](n)
    for (i <- 0 until n) texts(i) =
      if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
      else Array.fill(r.nextInt(10, 101))(vocab(r.nextInt(vocab.length))).mkString(" ")
    texts.indices.map { id =>
      Row(id.toLong, texts(id), lang(r), s"src${id % 20}",
        texts(id).length.toLong)
    }
  }

  /** `n` unit-norm 64-d float vectors drawn isotropically, each with
    * one of ten labels uniform and independent of the vector: sf0.1's
    * label means are as far from 0 as chance alone puts them. */
  def embeddings(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed ^ 0x0e4bedL)
    def gauss(): Double = { // Box-Muller on the seeded stream
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    (0 until n).map { id =>
      val v = Array.fill(64)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(id.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
  }

  /** Seeded Fisher-Yates permutation of `xs`. */
  def shuffle[A](seed: Long, xs: Seq[A]): Seq[A] = {
    val r = new SplittableRandom(seed ^ 0x5f1e1dL)
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Write `rows` as parquet under `dir`, one file per slice, in order. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      dir: String, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(dir)
}
