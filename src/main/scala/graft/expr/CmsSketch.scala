package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Count-min sketch as a Catalyst [[TypedImperativeAggregate]] — the
  * heavy-hitter frequency primitive for corpus-scale term statistics: exact
  * per-term counts at 10^12 tokens need a vocabulary-sized shuffle, while the
  * sketch carries a FIXED depth×width counter table per group through partial
  * aggregation (32 KB at the 4×1024 default) and answers point queries with
  * one-sided error (estimate >= truth, over by at most ~N/width with
  * probability 1-2^-depth — Cormode & Muthukrishnan's bound).
  *
  * Integer-exact contract (CLAUDE.md approximate-op rule): input is the
  * repo's FNV-1a 64 term hash ([[graft.textops.TextHash.fnv64]]); row i's
  * bucket is `splitmix64(f + i) & (width-1)` (Java wraparound == mod 2^64,
  * width a power of two so the mask equals the oracle's nonneg `% width`);
  * counters sum exactly. A SQL oracle therefore rebuilds the whole counter
  * table bit-for-bit. Merge is elementwise sum (commutative/associative), so
  * the sketch is partition-count-invariant.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int = 4,
    width: Int = 1024,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth >= 1 && depth <= 16, s"cms depth $depth out of [1,16]")
  require(width >= 2 && (width & (width - 1)) == 0, s"cms width $width must be a power of two")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val f = v.asInstanceOf[Long]
      var i = 0
      while (i < depth) {
        buf(i * width + (graft.textops.TextHash.splitmix64(f + i) & (width - 1)).toInt) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "cms_sketch"
}

object CmsSketch {

  /** Point query: `min_i counters[i][bucket_i(key)]`, the static method of
    * the [[Kernel.CmsQuery]] kernel. */
  def query(sketch: Array[Byte], key: Long, depth: Int, width: Int): Long = {
    val bb = java.nio.ByteBuffer.wrap(sketch).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val b = (graft.textops.TextHash.splitmix64(key + i) & (width - 1)).toInt
      val c = bb.getLong((i * width + b) * 8)
      if (c < min) min = c
      i += 1
    }
    min
  }

  def cmsSketch(c: Column, depth: Int = 4, width: Int = 1024): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CmsSketchAgg(org.apache.spark.sql.GraftColumnBridge.expression(c), depth, width)
        .toAggregateExpression())

  def cmsQuery(sketch: Column, key: Column, depth: Int = 4, width: Int = 1024): Column =
    Kernel.CmsQuery(depth, width)(sketch, key)
}
