package graft.expr

import java.nio.ByteBuffer
import java.util.Comparator

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values / bottom-k theta) sketch as a Catalyst
  * [[TypedImperativeAggregate]] — the SET-OPERATION sketch next to the
  * repo's HLL (distinct count) and CMS (point frequency): two KMV sketches
  * support union/intersection/Jaccard ESTIMATES between key sets that are
  * never joined. The crawl use: overlap between two crawl snapshots
  * (recrawl churn), corpus-vs-eval-set contamination mass, shard-vs-shard
  * dedup pressure — each a 10^12 x 10^12 set comparison answered by two
  * k*8-byte sketches instead of a corpus-grain join ([[graft.webtext
  * .Recrawl.delta]] is the exact per-row twin; this is the o(corpus)
  * monitoring estimate).
  *
  * State is the k smallest DISTINCT splitmix64(v) values in UNSIGNED order
  * (k*8 bytes max, fixed through partial agg; merge = set-union then
  * re-trim, associative + commutative so the result is partition-invariant
  * BIT-FOR-BIT, not just statistically). The sketch VALUE (sorted hash
  * array) is the aggregate result, so every downstream estimate is plain
  * integer arithmetic over it — and the DuckDB oracle recomputes the sketch
  * exactly: the splitmix64 chain is shared verbatim with [[HllSketchAgg]]'s
  * proven HUGEINT formulation, bottom-k is `ORDER BY h LIMIT k`
  * (CLAUDE.md's approximate-op contract: make every sketch decision
  * integer-exact, then oracle the sketch itself).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int = 256,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 16 && k <= 65536, s"kmv k=$k out of [16, 65536]")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](KmvSketchAgg.Unsigned)

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = graft.textops.TextHash.splitmix64(v.asInstanceOf[Long])
      if (buf.size < k) buf.add(h)
      else if (java.lang.Long.compareUnsigned(h, buf.last()) < 0) {
        if (buf.add(h)) buf.pollLast()
      }
    }
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.size < k) a.add(h)
      else if (java.lang.Long.compareUnsigned(h, a.last()) < 0) {
        if (a.add(h)) a.pollLast()
      } else return a // b iterates ascending; nothing later can enter
    }
    a
  }

  /** Sorted (unsigned ascending) hash array — the sketch itself. */
  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.size * 8)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) buf.add(bb.getLong())
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_sketch"
}

object KmvSketchAgg {
  val Unsigned: Comparator[java.lang.Long] =
    (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compareUnsigned(a, b)

  /** Column API: KMV sketch (sorted unsigned-ascending ARRAY<BIGINT> of the
    * k min splitmix64 hashes) of a LONG column. */
  def kmvSketch(c: Column, k: Int = 256): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      KmvSketchAgg(org.apache.spark.sql.GraftColumnBridge.expression(c), k)
        .toAggregateExpression())
}
