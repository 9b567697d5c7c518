package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Native Bloom-filter bitmap aggregate: OR-folds pre-computed bit
  * positions into a fixed `mBits`-bit bitmap, emitted as a
  * `mBits/8`-byte BINARY value. The membership-index shape the
  * incremental-ingest fast path wants at 100 TB: the aggregation
  * state is a CONSTANT-size word array (128 KiB at m=2^20) regardless
  * of corpus size, partial states OR together map-side, and the
  * result is broadcastable to every probe task — a batch-vs-corpus
  * membership test with ZERO shuffle on the batch side, vs. the
  * fingerprint semi-join's hash exchange of both sides
  * (Dedup.bloomIndex / dedup_bloom build on this).
  *
  * Bit positions are the CALLER's contract (Dedup.bloomPositions
  * derives them from sha-256 so a SQL oracle can replay membership,
  * including any false positive, exactly); this aggregate only sets
  * bits — `floorMod(pos, mBits)` guards out-of-range input. Bit `b`
  * lives at byte `b >>> 3`, mask `1 << (b & 7)` — the layout
  * [[Kernels.bloomContains]] probes and [[fromBytes]] round-trips.
  *
  * Spark's own BloomFilterAggregate is internal (runtime-filter
  * plumbing, not a public function) and hashes values itself with
  * engine-private seeds, which a cross-engine oracle cannot replay —
  * the "built-ins genuinely can't express it" bar for going native.
  *
  * Deterministic by algebra: bit-OR is commutative/associative/
  * idempotent, so the result is independent of row order, partition
  * count, and merge shape (NativeExprSpec asserts it). */
case class BloomAgg(
    child: Expression,
    mBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(mBits >= 64 && mBits % 64 == 0,
    s"mBits must be a positive multiple of 64, got $mBits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_agg requires a BIGINT bit-position argument, got " +
        child.dataType.catalogString)

  override def prettyName: String = "graft_bloom_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val b = java.lang.Math.floorMod(v.asInstanceOf[Long], mBits.toLong).toInt
      buf(b >>> 6) |= 1L << (b & 63)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = toBytes(buf)

  /** Word w carries bits 64w..64w+63; byte i of the output carries
    * bits 8i..8i+7 (mask `1 << (b & 7)`) — little-endian within both,
    * so `byte(i) = words(i >>> 3) >>> ((i & 7) * 8)`. */
  private def toBytes(words: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](words.length * 8)
    var i = 0
    while (i < out.length) {
      out(i) = (words(i >>> 3) >>> ((i & 7) * 8)).toByte
      i += 1
    }
    out
  }

  override def serialize(buf: Array[Long]): Array[Byte] = toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < bytes.length) {
      words(i >>> 3) |= (bytes(i) & 0xffL) << ((i & 7) * 8)
      i += 1
    }
    words
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  protected override def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** Native count-min-sketch aggregate: sums occurrences into a fixed
  * `nCounters`-long counter array (one flat index per (seed, bucket),
  * pre-computed by the caller the way [[BloomAgg]] takes positions,
  * so a SQL oracle can replay every counter — bucket collisions
  * included). Emitted as an 8·nCounters-byte BINARY (little-endian
  * longs), probed with [[Kernels.cmsEstimate]] (min over the probe's own
  * seed counters — the classic CM upper bound, never an
  * underestimate).
  *
  * The frequency-sketch complement of [[BloomAgg]]'s membership
  * bitmap, and the MERGEABLE fixed-size alternative to exact token
  * counting: aggregation state is constant (128 KiB at 4×4096
  * counters) regardless of vocabulary size, partial states ADD
  * map-side, and the result broadcasts — the shape a streaming
  * heavy-hitter gate or a cross-shard frequency merge wants at
  * 100 TB, where the exact (token, count) table is itself a shuffle.
  * Deterministic by algebra: counter addition is commutative/
  * associative, so row order, partition count, and merge shape are
  * irrelevant. */
case class CmsAgg(
    child: Expression,
    nCounters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(nCounters >= 1, s"nCounters must be positive, got $nCounters")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms_agg requires a BIGINT counter-index argument, got " +
        child.dataType.catalogString)

  override def prettyName: String = "graft_cms_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nCounters)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      buf(java.lang.Math.floorMod(v.asInstanceOf[Long], nCounters.toLong).toInt) += 1L
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = toBytes(buf)

  /** Counter i occupies bytes 8i..8i+7, little-endian — the layout
    * [[Kernels.cmsEstimate]] reads. */
  private def toBytes(counts: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(counts.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(counts)
    bb.array()
  }

  override def serialize(buf: Array[Long]): Array[Byte] = toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
    copy(inputAggBufferOffset = newOffset)
  protected override def withNewChildInternal(newChild: Expression): CmsAgg =
    copy(child = newChild)
}
