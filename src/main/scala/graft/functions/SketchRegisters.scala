package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The sketch tier's 60-bit hash: the first 8 bytes of MD5(bytes) as an
  * unsigned big-endian long, shifted right by 4 — the value of the
  * digest's first 15 hex digits. The CMS hashes `"d|" ++ value` for hash
  * row `d`; HLL hashes the value alone. One JDK `MessageDigest` and one
  * byte buffer per instance, reused for every value: NOT thread-safe.
  *
  * The buffer keeps the value at a fixed offset behind a 3-byte slot, so
  * each depth's prefix (`"d|"` or `"dd|"`) is written right-aligned in the
  * slot and the digest reads prefix and value as one contiguous range. */
final class SketchHasher {
  private[this] val md     = MessageDigest.getInstance("MD5")
  private[this] val digest = new Array[Byte](16)
  private[this] var buf    = new Array[Byte](64)
  private[this] var len    = 0
  private final val Off    = 3

  private def reserve(n: Int): Unit = {
    if (buf.length < Off + n) buf = new Array[Byte](math.max(Off + n, 2 * buf.length))
    len = n
  }

  /** Make `v`'s UTF-8 bytes the value the next hashes read. */
  def load(v: UTF8String): Unit = {
    reserve(v.numBytes)
    v.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + Off)
  }

  def load(v: Array[Byte]): Unit = {
    reserve(v.length)
    System.arraycopy(v, 0, buf, Off, v.length)
  }

  private def hash60(from: Int): Long = {
    md.update(buf, from, Off + len - from)
    md.digest(digest, 0, 16)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** Hash of the loaded value. */
  def hash(): Long = hash60(Off)

  /** Hash of `"d|" ++` the loaded value (`d` in [0, 100)). */
  def hashAtDepth(d: Int): Long = {
    buf(Off - 1) = '|'
    if (d < 10) {
      buf(Off - 2) = ('0' + d).toByte
      hash60(Off - 2)
    } else {
      buf(Off - 3) = ('0' + d / 10).toByte
      buf(Off - 2) = ('0' + d % 10).toByte
      hash60(Off - 3)
    }
  }
}

object SketchHasher {
  private val perThread = ThreadLocal.withInitial[SketchHasher](() => new SketchHasher)

  /** This thread's hasher, for per-row callers that own no instance. */
  def local(): SketchHasher = perThread.get()
}

/** Count-Min registers of a string column as one aggregate: the buffer is
  * `depth·width` counters (row-major by depth) plus one slot counting
  * null values. Update hashes the value once per depth; merge sums
  * elementwise. Eval returns the non-empty counters as
  * `array<struct<depth, bucket, cnt>>` ordered by (depth, bucket); null
  * values add one `(d, null, n)` element per depth after them. */
case class CmsRegisterAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
  require(width >= 2, s"width must be >= 2, got $width")

  @transient private lazy val hasher = new SketchHasher
  private def nullSlot = depth * width

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width + 1)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) b(nullSlot) += 1L
    else {
      hasher.load(v.asInstanceOf[UTF8String])
      var d = 0
      while (d < depth) {
        b(d * width + (hasher.hashAtDepth(d) % width).toInt) += 1L
        d += 1
      }
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) += o(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = {
    val out = ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < nullSlot) {
      if (b(i) != 0L) out += InternalRow(i / width, (i % width).toLong, b(i))
      i += 1
    }
    if (b(nullSlot) != 0L) (0 until depth).foreach(d => out += InternalRow(d, null, b(nullSlot)))
    new GenericArrayData(out.toArray[Any])
  }

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * b.length)
    bb.asLongBuffer().put(b)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val b = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(b)
    b
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("depth", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = true),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_registers"

  override def withNewMutableAggBufferOffset(o: Int): CmsRegisterAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsRegisterAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsRegisterAgg = copy(child = c)
}

/** HyperLogLog registers of a string column as one aggregate: the buffer
  * is `2^p` rho bytes plus a null flag. For hash `h`, the register is
  * `h mod 2^p` and rho is the leading-zero count of the remaining
  * `60 − p` bits plus one; merge keeps the elementwise max. Eval returns
  * the non-empty registers as `array<struct<register, rho>>` in register
  * order, then one `(null, null)` element when any value was null. */
case class HllRegisterAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {
  require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")

  @transient private lazy val hasher = new SketchHasher
  private def m = 1 << p

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m + 1)

  override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) b(m) = 1
    else {
      hasher.load(v.asInstanceOf[UTF8String])
      val h   = hasher.hash()
      val reg = (h & (m - 1)).toInt
      // rest has 60 − p significant bits: rho = (60 − p + 1) − bit length
      val rho = (61 - p) - (64 - java.lang.Long.numberOfLeadingZeros(h >>> p))
      if (rho > b(reg)) b(reg) = rho.toByte
    }
    b
  }

  override def merge(b: Array[Byte], o: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) { if (o(i) > b(i)) b(i) = o(i); i += 1 }
    b
  }

  override def eval(b: Array[Byte]): Any = {
    val out = ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < m) {
      if (b(i) != 0) out += InternalRow(i, b(i).toLong)
      i += 1
    }
    if (b(m) != 0) out += InternalRow(null, null)
    new GenericArrayData(out.toArray[Any])
  }

  override def serialize(b: Array[Byte]): Array[Byte] = b.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("register", IntegerType, nullable = true),
    StructField("rho", LongType, nullable = true))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hll_registers"

  override def withNewMutableAggBufferOffset(o: Int): HllRegisterAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegisterAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllRegisterAgg = copy(child = c)
}

/** A value's CMS bucket in every hash row, in one call: `array<long>` of
  * length `depth` (element `d` = bucket in row `d`), null for a null
  * value. The query side of [[CmsRegisterAgg]]. */
case class CmsBuckets(child: Expression, depth: Int, width: Int)
    extends Expression with UnaryLike[Expression] with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val h = SketchHasher.local()
      h.load(v.asInstanceOf[UTF8String])
      val out = new Array[Long](depth)
      var d = 0
      while (d < depth) { out(d) = h.hashAtDepth(d) % width; d += 1 }
      new GenericArrayData(out): ArrayData
    }
  }

  override protected def withNewChildInternal(c: Expression): CmsBuckets = copy(child = c)
}

/** Column forms of the sketch expressions; every value hashes as its
  * string cast. */
object SketchRegisters {
  private def str(c: Column): Expression = GraftSqlBridge.expression(c.cast("string"))

  def cms(value: Column, depth: Int, width: Int): Column =
    GraftSqlBridge.column(CmsRegisterAgg(str(value), depth, width).toAggregateExpression())

  def hll(value: Column, p: Int): Column =
    GraftSqlBridge.column(HllRegisterAgg(str(value), p).toAggregateExpression())

  def cmsBuckets(value: Column, depth: Int, width: Int): Column =
    GraftSqlBridge.column(CmsBuckets(str(value), depth, width))
}
