package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** HyperLogLog distinct-count sketch as a Catalyst
  * [[TypedImperativeAggregate]] — the cardinality primitive a 10^12-row
  * corpus needs wherever exact `countDistinct` would shuffle every distinct
  * value: distinct visitors per host, distinct hosts per term, frontier
  * coverage counters. The aggregation state is 2^p REGISTER BYTES per group
  * (64 bytes at the default p=6) regardless of cardinality; partial
  * aggregation merges sketches by per-register max, so the shuffle carries
  * one fixed-size buffer per (group, map task) — the textbook Flajolet et
  * al. distributed shape.
  *
  * Unlike Spark's own HLL++ (`approx_count_distinct`), every step here is
  * EXACT integer arithmetic on a published hash, so an external SQL oracle
  * recomputes the sketch bit-for-bit (the repo's approximate-op contract,
  * CLAUDE.md): splitmix64 over the input long (mod-2^64 wraparound = Java
  * overflow semantics), bucket = top p hash bits, rho = leading-zero count
  * of the remaining 64-p bits + 1, and the RAW estimator
  * `E = alpha_num * m^2 * 2^R / (alpha_den * sum(2^(R-reg_j)))` evaluated in
  * BigInt with trunc division (R = 64-p+1, so the sum is exact — no float
  * anywhere). The standard low-cardinality linear-counting correction is
  * deliberately omitted (it needs `ln`): callers in the raw regime
  * (cardinality ≳ 2.5·m) get the standard ±1.04/√m relative error; below it
  * the raw estimator's documented positive bias applies. Pick p so the
  * expected cardinality clears the raw regime.
  */
case class HllSketchAgg(
    child: Expression,
    p: Int = 6,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, s"hll precision p=$p out of [4,16]")
  private val m = 1 << p
  private val restBits = 64 - p

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = graft.textops.TextHash.splitmix64(v.asInstanceOf[Long])
      val idx = (h >>> restBits).toInt
      val rho = HllSketchAgg.rho(h, restBits)
      if (buf(idx) < rho) buf(idx) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (a(i) < b(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    val bigR = restBits + 1
    var z2 = BigInt(0)
    var i = 0
    while (i < m) { z2 += BigInt(1) << (bigR - buf(i)); i += 1 }
    val num = BigInt(HllSketchAgg.AlphaNum) * m * m * (BigInt(1) << bigR)
    (num / (BigInt(HllSketchAgg.AlphaDen) * z2)).toLong
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_distinct"
}

object HllSketchAgg {

  /** alpha(m=64) = 0.7213/(1 + 1.079/64), 6 decimal digits, shared verbatim
    * with the oracle. Only p=6 carries a pinned alpha; other precisions are
    * ScalaTest-grade until their constant is added. */
  val AlphaNum = 709343L
  val AlphaDen = 1000000L

  /** rho of the low `restBits` bits of an already-splitmixed hash —
    * rho = restBits - bit_length(rest) + 1, rest == 0 -> restBits + 1.
    * Shared by [[HllSketchAgg.update]] and the codegen `hll_rho` kernel
    * ([[graft.expr.Kernel.HllRho]]) so both paths are the same bytecode. */
  def rho(h: Long, restBits: Int): Int = {
    val rest = h & ((1L << restBits) - 1)
    if (rest == 0L) restBits + 1
    else restBits - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1
  }

  /** Column API: approximate distinct count of a LONG column. */
  def hllDistinct(c: Column, p: Int = 6): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      HllSketchAgg(org.apache.spark.sql.GraftColumnBridge.expression(c), p)
        .toAggregateExpression())
}
