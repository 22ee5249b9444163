package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.webtext.Mojibake

/** Catalyst scalar expression for mojibake repair — codegen twin of
  * [[Mojibake.repair]] (same static kernel, so the surfaces cannot drift).
  * Stays inside whole-stage codegen with no ScalaUDF boundary; the kernel's
  * ASCII fast path makes clean crawl rows a single scan. Null yields null. */
case class MojibakeRepairExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"mojibake_repair expects STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Mojibake.repair(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.webtext.Mojibake.repair($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): MojibakeRepairExpr =
    copy(child = newChild)

  override def prettyName: String = "mojibake_repair"
}

object MojibakeRepairExpr {

  def mojibakeRepair(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MojibakeRepairExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
