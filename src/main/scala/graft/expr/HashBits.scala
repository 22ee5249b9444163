package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Whole-stage-codegen twins of the JVM hash helpers the sketch operators
  * share with their oracles (guide §4: keep the corpus-grain hot path inside
  * codegen — a typed `Dataset.map` deserializes every row to Scala objects
  * and breaks the WholeStageCodegen span). Each expression compiles to a
  * single static JVM call ([[graft.textops.TextHash.splitmix64]],
  * [[HllSketchAgg.rho]]), so the arithmetic is the EXACT same bytecode the
  * aggregate and the oracle-pinned tools use —
  * nothing to re-prove about overflow or rounding.
  */
object HashBits {

  /** splitmix64 finalizer as a codegen Column (LONG -> LONG). */
  def splitmix64(c: Column): Column =
    GraftColumnBridge.column(Splitmix64Expr(GraftColumnBridge.expression(c)))

  /** HLL rho over an already-splitmixed hash for `restBits` low bits:
    * rho = restBits - bit_length(h & mask) + 1, rest == 0 -> restBits + 1.
    * (LONG -> INT, identical to HllSketchAgg.update's register value.) */
  def hllRho(h: Column, restBits: Int): Column =
    GraftColumnBridge.column(HllRhoExpr(GraftColumnBridge.expression(h), restBits))
}

case class Splitmix64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    graft.textops.TextHash.splitmix64(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.textops.TextHash$$.MODULE$$.splitmix64($c)")
  override protected def withNewChildInternal(newChild: Expression): Splitmix64Expr =
    copy(child = newChild)
  override def prettyName: String = "splitmix64"
}

case class HllRhoExpr(child: Expression, restBits: Int) extends UnaryExpression {
  require(restBits >= 1 && restBits <= 63, s"restBits=$restBits out of [1,63]")
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    HllSketchAgg.rho(input.asInstanceOf[Long], restBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.HllSketchAgg$$.MODULE$$.rho($c, $restBits)")
  override protected def withNewChildInternal(newChild: Expression): HllRhoExpr =
    copy(child = newChild)
  override def prettyName: String = "hll_rho"
}
