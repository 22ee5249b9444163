package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import pageplus.text.FullText
import pageplus.xml.StaxPageParser

/** Catalyst scalar expression: PAGE-XML bytes -> extracted fulltext
  * (SURVEY §4.3's optional codegen path, here for the whole extract).
  *
  * Unlike the typed `mapPartitions` pipeline, this stays INSIDE whole-stage
  * codegen — `doGenCode` emits a static call, so the scan -> extract -> agg
  * pipeline runs entirely in Tungsten rows with no DeserializeToObject /
  * SerializeFromObject boundary. Null input yields null (NullIntolerant
  * semantics via UnaryExpression.defineCodeGen).
  */
case class PageFulltextExpr(child: Expression, dehyphenate: Boolean = false, ro: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"page_fulltext expects BINARY, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(PageFulltextExpr.extract(v.asInstanceOf[Array[Byte]], dehyphenate, ro))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.expr.PageFulltextExpr.extract($c, $dehyphenate, $ro))")

  override protected def withNewChildInternal(newChild: Expression): PageFulltextExpr =
    copy(child = newChild)

  override def prettyName: String = "page_fulltext"
}

object PageFulltextExpr {

  /** Static entry used by both interpreted eval and generated code.
    * Text-only parse: extraction reads no geometry (see StaxPageParser). */
  def extract(bytes: Array[Byte], dehyphenate: Boolean, ro: Boolean): String =
    FullText.extract(StaxPageParser.parseTextOnly("", bytes), dehyphenate = dehyphenate, readingOrder = ro)

  /** Column-API form (Spark 4 Column <-> Expression bridge). */
  def pageFulltext(c: Column, dehyphenate: Boolean = false, ro: Boolean = false): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PageFulltextExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), dehyphenate, ro))

  /** `page_fulltext(html [, dehyphenate, ro])` for SQL access: installs
    * the session's whole [[graft.plans.GraftExtensions]] set. */
  def register(spark: SparkSession): Unit = graft.plans.GraftExtensions.install(spark)
}
