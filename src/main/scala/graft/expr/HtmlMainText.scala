package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.webtext.MainContent

/** Catalyst scalar expression: HTML bytes -> main-content text — the HTML
  * twin of [[PageFulltextExpr]]. `doGenCode` emits a static call, so the
  * scan -> boilerplate-strip -> downstream pipeline stays inside whole-stage
  * codegen with no DeserializeToObject boundary (same rationale as the
  * PAGE-XML path; Tungsten rows end-to-end). Null input yields null. */
case class HtmlMainTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"html_main_text expects BINARY, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(HtmlMainTextExpr.extract(v.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.expr.HtmlMainTextExpr.extract($c))")

  override protected def withNewChildInternal(newChild: Expression): HtmlMainTextExpr =
    copy(child = newChild)

  override def prettyName: String = "html_main_text"
}

object HtmlMainTextExpr {

  /** Static entry used by both interpreted eval and generated code. */
  def extract(bytes: Array[Byte]): String =
    MainContent.extract(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))

  /** Column-API form (Spark 4 Column <-> Expression bridge). */
  def htmlMainText(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      HtmlMainTextExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
