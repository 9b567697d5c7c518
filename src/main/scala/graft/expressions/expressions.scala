package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types._

/** One native kernel: a static method on [[Kernels]] that Catalyst
  * calls per row. Spark's array higher-order functions evaluate their
  * lambda interpreted, per element, outside whole-stage codegen — for
  * per-token/per-dimension loops (simhash voting, minhash perms,
  * 64-dim dot products) that interpretation dominated the profile.
  * A kernel call instead generates a single static call into
  * [[Kernels]] (tight JVM loops), stays inside WholeStageCodegen, and
  * reproduces the built-in-composition results bit-for-bit (asserted
  * by NativeExprSpec).
  *
  * The descriptor is the kernel's only Catalyst-side definition:
  * `name` is its plan/SQL name, `method` the [[Kernels]] method,
  * `argTypes` the column arguments' types (checked at analysis up to
  * nullability and field-name case, never cast), which the call
  * follows with `consts` constant `Int` arguments. `sql` registers it
  * as a SQL function through [[GraftExtensions]]. Adding a kernel
  * takes one [[Kernels]] method plus one descriptor in
  * [[Kernel$ Kernel]] (and its entry in `Kernel.all`). */
final case class Kernel(
    name: String,
    method: String,
    argTypes: Seq[DataType],
    dataType: DataType,
    consts: Int = 0,
    sql: Boolean = false) {

  /** The call of this kernel over column expressions `args` and
    * constants `ks`. */
  def call(args: Seq[Expression], ks: Seq[Int] = Nil): Expression = {
    require(args.length == argTypes.length && ks.length == consts,
      s"$name takes ${argTypes.length} columns and $consts constants")
    args match {
      case Seq(a) => KernelCall1(this, a, ks)
      case Seq(a, b) => KernelCall2(this, a, b, ks)
    }
  }

  /** The static forwarder the generated code calls, so interpreted
    * evaluation cannot drift from codegen. */
  @transient private[expressions] lazy val forwarder: java.lang.reflect.Method =
    Class.forName(Kernel.KernelsClass).getMethods
      .find(m => m.getName == method && m.getParameterCount == argTypes.length + consts)
      .getOrElse(throw new NoSuchMethodException(s"${Kernel.KernelsClass}.$method"))
}

object Kernel {
  private[expressions] val KernelsClass = "graft.expressions.Kernels"

  private val text = StringType
  private val floats = ArrayType(FloatType)
  private val doubles = ArrayType(DoubleType)
  private val longs = ArrayType(LongType)
  private val strings = ArrayType(StringType)
  /** Collected `array<struct<cell_id, vector>>` centroid and codebook
    * lists. */
  private def cells(vector: String, elem: DataType) = ArrayType(StructType(Seq(
    StructField("cell_id", LongType), StructField(vector, ArrayType(elem)))))
  private def notNull(t: DataType) = ArrayType(t, containsNull = false)
  private val bucketCounts = notNull(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("m", LongType, nullable = false))))

  val simhash64 = Kernel("graft_simhash64", "simhash64", Seq(text), LongType, sql = true)
  /** Spark has no value-level Unicode normalizer (collation-level
    * normalization exists, but not as a transform); allocation-free
    * already-normalized fast path. */
  val nfc = Kernel("graft_nfc", "nfc", Seq(text), StringType, sql = true)
  val shingles = Kernel("graft_shingles", "shingles", Seq(text), notNull(StringType), consts = 1)
  val minhashSig = Kernel("graft_minhash_sig", "minhashSig", Seq(text), notNull(LongType), consts = 2)
  val simhash64Sha = Kernel("graft_simhash64_sha", "simhash64Sha", Seq(text), LongType, sql = true)
  val minhashSigSha =
    Kernel("graft_minhash_sig_sha", "minhashSigSha", Seq(text), notNull(StringType), consts = 2)
  val cosineF = Kernel("graft_cosine", "cosineF", Seq(floats, floats), DoubleType, sql = true)
  val cosineFD = Kernel("graft_cosine_fd", "cosineFD", Seq(floats, doubles), DoubleType)
  val dist2D = Kernel("graft_dist2", "dist2D", Seq(doubles, doubles), DoubleType)
  val intersectCount =
    Kernel("graft_intersect_count", "intersectCount", Seq(strings, strings), IntegerType, sql = true)
  /** IVF nearest-centroid argmin over a broadcast-collected centroid
    * array: removes the n-row argmax exchange of the crossJoin+groupBy
    * form while keeping the cosine kernel in whole-stage codegen (a
    * higher-order-function fold loses it). 0/1-element array; callers
    * explode. */
  val ivfArgmin = Kernel("graft_ivf_argmin", "ivfArgmin",
    Seq(floats, cells("centroid", FloatType)), notNull(LongType))
  /** [[ivfArgmin]] against trained double-array centroids; the winner
    * struct keeps the cosine for the k-means update. */
  val kmArgmin = Kernel("graft_km_argmin", "kmArgmin",
    Seq(floats, cells("centroid", DoubleType)),
    notNull(StructType(Seq(
      StructField("cell_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false)))))
  /** PQ code argmin over the per-block codebook array. */
  val pqArgmin =
    Kernel("graft_pq_argmin", "pqArgmin", Seq(doubles, cells("c", DoubleType)), LongType)
  /** Replaces the interpreted O(n·distinct) array_max/transform/filter
    * composition in the Gopher measurement pass. */
  val topTokenCount = Kernel("graft_top_token_count", "topTokenCount", Seq(strings), IntegerType)
  /** Replaces LangId's corpus-sized trigram explode + md5-per-character
    * + (doc, bucket) hash-aggregation exchange. Callers explode the
    * (b, m) array; the generator is a barrier, so pushed-down filters
    * can't re-evaluate the per-doc fold. */
  val trigramBucketCounts = Kernel("graft_trigram_bucket_counts", "trigramBucketCounts",
    Seq(text), bucketCounts, consts = 1)
  /** Replaces sample_importance's per-token-occurrence explode + md5;
    * same shape as [[trigramBucketCounts]] with word-unigram features. */
  val dsirBucketCounts = Kernel("graft_dsir_bucket_counts", "dsirBucketCounts",
    Seq(text), bucketCounts, consts = 1)
  val lshSign = Kernel("graft_lsh_sign", "lshSign", Seq(floats), LongType, consts = 1, sql = true)
  val lshSignSha = Kernel("graft_lsh_sign_sha", "lshSignSha", Seq(floats), LongType, consts = 1)
  /** Bloom probe over a [[BloomAgg]] bitmap against the broadcast
    * bitmap bytes: no per-position join rows, no lambda
    * interpretation. */
  val bloomContains =
    Kernel("graft_bloom_contains", "bloomContains", Seq(BinaryType, longs), BooleanType, sql = true)
  /** Count-min estimate over a broadcast [[CmsAgg]] sketch. */
  val cmsEstimate =
    Kernel("graft_cms_estimate", "cmsEstimate", Seq(BinaryType, longs), LongType, sql = true)

  val all: Seq[Kernel] = Seq(simhash64, nfc, shingles, minhashSig, simhash64Sha, minhashSigSha,
    cosineF, cosineFD, dist2D, intersectCount, ivfArgmin, kmArgmin, pqArgmin, topTokenCount,
    trigramBucketCounts, dsirBucketCounts, lshSign, lshSignSha, bloomContains, cmsEstimate)
}

/** A [[Kernel]] call: Spark's null-safe `defineCodeGen` around the
  * static call, plan text `name(children, consts)`. */
sealed trait KernelCall extends ExpectsInputTypes {
  def kernel: Kernel
  def consts: Seq[Int]
  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  /** Untyped `NULL` and `array()` literals hold no value to misread and
    * pass unchanged. */
  override def inputTypes: Seq[DataType] = kernel.argTypes.zip(children.map(_.dataType)).map {
    case (_, void @ (NullType | ArrayType(NullType, _))) => void
    case (t, _) => t
  }
  override protected def stringArgs: Iterator[Any] = children.iterator ++ consts

  protected def code(args: String*): String =
    s"${Kernel.KernelsClass}.${kernel.method}(${(args ++ consts).mkString(", ")})"

  protected def invoke(args: Any*): Any =
    try kernel.forwarder.invoke(null, (args ++ consts).map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
}

case class KernelCall1(kernel: Kernel, child: Expression, consts: Seq[Int])
    extends UnaryExpression with KernelCall {
  protected override def nullSafeEval(a: Any): Any = invoke(a)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => code(c))
  protected override def withNewChildInternal(newChild: Expression): KernelCall1 =
    copy(child = newChild)
}

case class KernelCall2(kernel: Kernel, left: Expression, right: Expression, consts: Seq[Int])
    extends BinaryExpression with KernelCall {
  protected override def nullSafeEval(a: Any, b: Any): Any = invoke(a, b)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => code(a, b))
  protected override def withNewChildrenInternal(l: Expression, r: Expression): KernelCall2 =
    copy(left = l, right = r)
}

/** Column-level API over the native expressions. */
object native {
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)
  private def call(k: Kernel, cols: Column*)(ks: Int*): Column =
    GraftColumnBridge.column(k.call(cols.map(expr), ks))
  def simhash64(text: Column): Column = call(Kernel.simhash64, text)()
  def nfc(text: Column): Column = call(Kernel.nfc, text)()
  def simhash64Sha(text: Column): Column = call(Kernel.simhash64Sha, text)()
  def minhashSigSha(text: Column, k: Int, perms: Int): Column =
    call(Kernel.minhashSigSha, text)(k, perms)
  def shingles(text: Column, k: Int): Column = call(Kernel.shingles, text)(k)
  def minhashSig(text: Column, k: Int, perms: Int): Column = call(Kernel.minhashSig, text)(k, perms)
  def cosineF(a: Column, b: Column): Column = call(Kernel.cosineF, a, b)()
  def cosineFD(a: Column, b: Column): Column = call(Kernel.cosineFD, a, b)()
  def dist2D(a: Column, b: Column): Column = call(Kernel.dist2D, a, b)()
  def intersectCount(a: Column, b: Column): Column = call(Kernel.intersectCount, a, b)()
  def topTokenCount(toks: Column): Column = call(Kernel.topTokenCount, toks)()
  def trigramBucketCounts(text: Column, buckets: Int): Column =
    call(Kernel.trigramBucketCounts, text)(buckets)
  def dsirBucketCounts(text: Column, buckets: Int): Column =
    call(Kernel.dsirBucketCounts, text)(buckets)
  def ivfArgmin(emb: Column, cents: Column): Column = call(Kernel.ivfArgmin, emb, cents)()
  def kmArgmin(emb: Column, cents: Column): Column = call(Kernel.kmArgmin, emb, cents)()
  def pqArgmin(sub: Column, cells: Column): Column = call(Kernel.pqArgmin, sub, cells)()
  def lshSign(emb: Column, nPlanes: Int): Column = call(Kernel.lshSign, emb)(nPlanes)
  def lshSignSha(emb: Column, nPlanes: Int): Column = call(Kernel.lshSignSha, emb)(nPlanes)
  /** Misra–Gries heavy-hitters summary (map item → lower-bound weight,
    * at most `capacity` entries) — see [[SpaceSavingAgg]]. */
  def heavyHitters(item: Column, capacity: Int): Column =
    GraftColumnBridge.column(
      SpaceSavingAgg(expr(item), capacity).toAggregateExpression())
  /** Bounded-heap exact top-k pairs by (value desc, id asc) — see
    * [[TopKAgg]]. */
  def topK(value: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKAgg(expr(value), expr(id), k).toAggregateExpression())
  /** Fixed-size Bloom bitmap over pre-computed bit positions — see
    * [[BloomAgg]]. */
  def bloomAgg(pos: Column, mBits: Int): Column =
    GraftColumnBridge.column(
      BloomAgg(expr(pos), mBits).toAggregateExpression())
  /** All-positions-set membership probe — see [[Kernels.bloomContains]]. */
  def bloomContains(bitmap: Column, positions: Column): Column =
    call(Kernel.bloomContains, bitmap, positions)()
  /** Fixed-size count-min-sketch counters over pre-computed flat
    * (seed, bucket) indices — see [[CmsAgg]]. */
  def cmsAgg(idx: Column, nCounters: Int): Column =
    GraftColumnBridge.column(
      CmsAgg(expr(idx), nCounters).toAggregateExpression())
  /** Min-over-own-seeds count estimate — see [[Kernels.cmsEstimate]]. */
  def cmsEstimate(sketch: Column, indices: Column): Column =
    call(Kernel.cmsEstimate, sketch, indices)()
}

/** Injected optimizer rule: rewrite `size(array_intersect(a, b))`
  * over string arrays to the codegen'd `graft_intersect_count` kernel.
  * The built-in pair materializes the intersection array (O(n·m)
  * nested-loop membership for non-atomic comparisons) only to take
  * its length; the kernel computes the same count hash-based in
  * O(n+m) with no allocation — semantics identical for arbitrary
  * inputs (duplicates count once, null input → null, size's
  * non-legacy null contract). Users writing the natural form get the
  * near-dup verify-join fix automatically. */
object IntersectCountRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Size}
  private def stringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), legacySizeOfNull)
          if !legacySizeOfNull && stringArray(a) && stringArray(b) =>
        Kernel.intersectCount.call(Seq(a, b))
    }
}

/** SparkSessionExtensions injector: exposes the native expressions to
  * SQL (`SELECT graft_simhash64(text) ...`) and installs the
  * [[IntersectCountRewrite]] optimizer rule. Wire with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.expressions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String) =
    new ExpressionInfo(classOf[Kernels.type].getName, name)
  override def apply(ext: SparkSessionExtensions): Unit = {
    Kernel.all.filter(_.sql).foreach { k =>
      val cols = k.argTypes.length
      ext.injectFunction((FunctionIdentifier(k.name), info(k.name), (args: Seq[Expression]) => {
        if (args.length != cols + k.consts)
          fail(k.name, s"expects ${cols + k.consts} arguments, got ${args.length}")
        k.call(args.take(cols), (cols until args.length).map(constInt(args, _, k.name)))
      }))
    }
    ext.injectFunction((FunctionIdentifier("graft_heavy_hitters"), info("graft_heavy_hitters"),
      (args: Seq[Expression]) => SpaceSavingAgg(args(0),
        constInt(args, 1, "graft_heavy_hitters")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("graft_topk"), info("graft_topk"),
      (args: Seq[Expression]) => TopKAgg(args(0), args(1),
        constInt(args, 2, "graft_topk")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"), info("graft_bloom_agg"),
      (args: Seq[Expression]) => BloomAgg(args(0),
        constInt(args, 1, "graft_bloom_agg")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("graft_cms_agg"), info("graft_cms_agg"),
      (args: Seq[Expression]) => CmsAgg(args(0),
        constInt(args, 1, "graft_cms_agg")).toAggregateExpression()))
    ext.injectOptimizerRule(_ => IntersectCountRewrite)
  }

  private def fail(fn: String, message: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" -> s"$fn: $message"),
      cause = None)

  /** Require args(i) to be a foldable integral constant; fail analysis
    * with a named error instead of a ClassCastException/NPE when a
    * BIGINT literal, cast, or non-foldable column is passed. */
  private def constInt(args: Seq[Expression], i: Int, fn: String): Int = {
    val e = args(i)
    def bad(what: String): Nothing =
      fail(fn, s"argument ${i + 1} must be a constant integer, got $what")
    if (!e.foldable) bad(s"non-foldable ${e.sql}")
    e.eval() match {
      case n: Int => n
      case n: Long if n.isValidInt => n.toInt
      case n: Short => n.toInt
      case n: Byte => n.toInt
      case other => bad(String.valueOf(other))
    }
  }
}
