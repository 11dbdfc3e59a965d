package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter sketch of a string set, as a first-class aggregate.
  *
  * The crawl-frontier use (ops/Frontier.scala): a compact reusable
  * summary of the urls already crawled. Build is ONE pass over the seen
  * set with perfect map-side combine (merge = bitwise OR — commutative
  * and associative, so the filter bytes are bit-identical at any
  * parallelism or cluster layout); probe is a broadcast-resident bit
  * test inside whole-stage codegen. Spark's own runtime bloom filters
  * (InjectRuntimeFilter) are per-query and per-join; this one is an
  * explicit artifact that persists across frontier batches, so the
  * 10^12-row seen table is scanned once per epoch, not once per batch.
  *
  * Hashing: FNV-1a 64 over the raw UTF-8 bytes (no String round trip),
  * then Kirsch-Mitzenmacher double hashing g_i = h1 + i*h2 with h2 from
  * a splitmix64 finalizer, forced odd so the probe sequence cycles the
  * full ring for any mBits. False positives are possible (bounded by
  * sizing, measured in BloomSpec); false negatives are impossible —
  * exactness is restored downstream by a confirm join over the
  * bloom-positive minority only.
  */
object BloomStatics {
  /** FNV-1a 64 over UTF8String bytes (no copy, no decode). */
  def fnv1a(s: UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val n = s.numBytes()
    var i = 0
    while (i < n) { h ^= (s.getByte(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer: decorrelates the second probe stream from h1. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def set(words: Array[Long], mBits: Long, k: Int, s: UTF8String): Unit = {
    val h1 = fnv1a(s)
    val h2 = mix(h1) | 1L
    var i = 0
    var g = h1
    while (i < k) {
      val idx = java.lang.Long.remainderUnsigned(g, mBits)
      words((idx >>> 6).toInt) |= (1L << (idx & 63L).toInt)
      g += h2
      i += 1
    }
  }

  def mightContain(words: Array[Long], mBits: Long, k: Int,
                   s: UTF8String): Boolean = {
    val h1 = fnv1a(s)
    val h2 = mix(h1) | 1L
    var i = 0
    var g = h1
    while (i < k) {
      val idx = java.lang.Long.remainderUnsigned(g, mBits)
      if ((words((idx >>> 6).toInt) & (1L << (idx & 63L).toInt)) == 0L)
        return false
      g += h2
      i += 1
    }
    true
  }

  def wordsToBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  def wordsFromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    words
  }
}

/** Mutable aggregation state: the bit array itself. */
final class BloomBuffer(val mBits: Long, val k: Int) {
  BloomBuffer.requireSize(mBits)
  val words = new Array[Long](((mBits + 63L) >>> 6).toInt)
  def add(s: UTF8String): Unit = BloomStatics.set(words, mBits, k, s)
  def orWith(o: BloomBuffer): Unit = {
    var i = 0
    while (i < words.length) { words(i) |= o.words(i); i += 1 }
  }
}

object BloomBuffer {
  /** Largest filter whose word count fits an Int (2^37 - 64 bits). */
  final val MaxBits: Long = Int.MaxValue.toLong << 6

  def requireSize(mBits: Long): Unit =
    require(mBits <= MaxBits,
      s"bloom filter of $mBits bits needs more than Int.MaxValue 64-bit words; use mBits <= $MaxBits")
}

/** bloom_agg(str, mBits, k): BINARY bloom-filter bytes over the group's
  * strings. State is the fixed mBits/8-byte bit array through map-side
  * partial aggregation; merge is bitwise OR.
  */
case class BloomAggregate(child: Expression, mBits: Long, k: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuffer]
    with ImplicitCastInputTypes with UnaryLike[Expression] {
  require(mBits >= 64, "bloom_agg needs mBits >= 64")
  BloomBuffer.requireSize(mBits)
  require(k >= 1 && k <= 32, "bloom_agg needs 1 <= k <= 32")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BloomBuffer = new BloomBuffer(mBits, k)

  override def update(buf: BloomBuffer, input: InternalRow): BloomBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: BloomBuffer, other: BloomBuffer): BloomBuffer = {
    buf.orWith(other)
    buf
  }

  override def eval(buf: BloomBuffer): Any = BloomStatics.wordsToBytes(buf.words)

  override def serialize(buf: BloomBuffer): Array[Byte] =
    BloomStatics.wordsToBytes(buf.words)

  override def deserialize(bytes: Array[Byte]): BloomBuffer = {
    val buf = new BloomBuffer(mBits, k)
    val in = BloomStatics.wordsFromBytes(bytes)
    System.arraycopy(in, 0, buf.words, 0, in.length)
    buf
  }

  override def withNewMutableAggBufferOffset(off: Int): BloomAggregate =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): BloomAggregate =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "bloom_agg"
}

/** bloom_probe(str) -> might-contain bit test against a broadcast filter
  * (BenchOverlapExpr's broadcast-in-codegen-reference pattern): the
  * candidate pass stays a shuffle-free whole-stage-codegen map at any
  * candidate volume.
  */
case class BloomProbeExpr(child: Expression,
                          bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
                          mBits: Long, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(s: Any): Any =
    BloomStatics.mightContain(bc.value, mBits, k, s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomWordsBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[Array[Long]]].getName)
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.BloomStatics.mightContain(" +
        s"(long[]) $bcRef.value(), ${mBits}L, $k, $a)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "bloom_probe"
}

object Bloom {
  /** Column API: aggregate a string column into bloom-filter bytes. */
  def bloomAgg(c: Column, mBits: Long, k: Int): Column =
    ColumnBridge.column(BloomAggregate(
      ColumnBridge.expression(c), mBits, k).toAggregateExpression())

  /** Column API: probe a broadcast filter built with the same (mBits, k). */
  def bloomProbe(c: Column,
                 bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
                 mBits: Long, k: Int): Column =
    ColumnBridge.column(BloomProbeExpr(ColumnBridge.expression(c), bc, mBits, k))
}
