package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.textops.TextNorm

/** Catalyst scalar expression for Unicode text normalization — the codegen
  * twin of [[TextNorm.normalize]] (same static method, so the two surfaces
  * cannot drift). As a proper expression it stays inside whole-stage codegen
  * with no ScalaUDF serialization boundary and remains visible to Catalyst
  * (null propagation, constant folding over literals). Null input yields
  * null. The NFC fast path (isNormalized) makes already-clean ASCII rows —
  * the overwhelmingly common case at crawl scale — a single scan. */
case class TextNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"text_normalize expects STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TextNorm.normalize(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.textops.TextNorm.normalize($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): TextNormalizeExpr =
    copy(child = newChild)

  override def prettyName: String = "text_normalize"
}

object TextNormalizeExpr {

  def textNormalize(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TextNormalizeExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
