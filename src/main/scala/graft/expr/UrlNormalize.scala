package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.webtext.UrlOps

/** Catalyst scalar expressions for crawl-url canonicalization — the codegen
  * twins of [[UrlOps.normalize]]/[[UrlOps.hostOf]] (same static methods, so
  * the two surfaces cannot drift). Unlike the struct-returning UDF in
  * [[UrlOps.withNormalized]], these stay inside whole-stage codegen with no
  * ScalaUDF serialization boundary, and being proper expressions they remain
  * visible to Catalyst (null propagation, constant folding over literals).
  * Null input yields null. */
case class UrlNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"url_normalize expects STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(UrlOps.normalize(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.webtext.UrlOps.normalize($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): UrlNormalizeExpr =
    copy(child = newChild)

  override def prettyName: String = "url_normalize"
}

/** Host of an already-NORMALIZED url ([[UrlOps.hostOf]]'s contract). Taking
  * normalized input (vs re-normalizing a raw url internally) means
  * `url_host(url_normalize(u))` alongside `url_normalize(u)` shares the
  * repeated `url_normalize(u)` SUBTREE, which whole-stage codegen's
  * subexpression elimination evaluates once — a raw-url variant would hide
  * the normalization inside a black box and run it twice per row. */
case class UrlHostExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"url_host expects STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(UrlOps.hostOf(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.webtext.UrlOps.hostOf($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): UrlHostExpr =
    copy(child = newChild)

  override def prettyName: String = "url_host"
}

object UrlNormalizeExpr {

  def urlNormalize(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      UrlNormalizeExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  def urlHost(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      UrlHostExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
