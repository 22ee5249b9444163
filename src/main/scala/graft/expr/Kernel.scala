package graft.expr

import org.apache.commons.text.StringEscapeUtils
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.textops.{TextHash, TextNorm}
import graft.webtext.{HtmlGen, MainContent, Mojibake, UrlOps}
import pageplus.data.PagesFromDocuments
import pageplus.text.FullText
import pageplus.xml.StaxPageParser

/** A per-row JVM function that Column and SQL code call: ONE static method,
  * which interpreted eval calls from Scala ([[call]]) and generated code
  * calls from Java (`method`, its Java source, e.g.
  * `graft.webtext.UrlOps.normalize`), so the two paths cannot drift. A kernel
  * takes one or more inputs and sees plain JVM values: a STRING input
  * arrives as a `String` and a STRING result leaves as one ([[KernelExpr]]
  * holds the one `UTF8String` adapter); BINARY is `Array[Byte]`, BIGINT
  * `Long`, INT `Int`.
  *
  * A parameterized kernel is a case class whose fields are passed to the
  * method after the inputs, in field order, as Java literals; equal kernels
  * are then equal values, which subexpression elimination and plan
  * canonicalization need.
  */
abstract class Kernel(val name: String, val inputTypes: Seq[DataType], val dataType: DataType, method: String)
    extends Product with Serializable {

  /** The same method, called from Scala on the inputs' JVM values. */
  def call(in: Seq[Any]): Any

  /** Java source of the call over the input expressions `args`. */
  final def javaCall(args: Seq[String]): String =
    (args ++ productIterator.map(Kernel.javaLiteral)).mkString(s"$method(", ", ", ")")

  /** This kernel over Columns, one per input. */
  def apply(cs: Column*): Column =
    GraftColumnBridge.column(KernelExpr(this, cs.map(GraftColumnBridge.expression)))
}

object Kernel {

  /** A kernel parameter as a Java literal. */
  private def javaLiteral(p: Any): String = p match {
    case s: String => "\"" + StringEscapeUtils.escapeJava(s) + "\""
    case other => other.toString
  }

  case class PageFulltext(dehyphenate: Boolean = false, ro: Boolean = false)
      extends Kernel("page_fulltext", Seq(BinaryType), StringType, "graft.expr.PageFulltextExpr.extract") {
    def call(in: Seq[Any]): Any = PageFulltextExpr.extract(in(0).asInstanceOf[Array[Byte]], dehyphenate, ro)
  }

  case object HtmlMainText
      extends Kernel("html_main_text", Seq(BinaryType), StringType, "graft.expr.HtmlMainTextExpr.extract") {
    def call(in: Seq[Any]): Any = HtmlMainTextExpr.extract(in(0).asInstanceOf[Array[Byte]])
  }

  case object UrlNormalize
      extends Kernel("url_normalize", Seq(StringType), StringType, "graft.webtext.UrlOps.normalize") {
    def call(in: Seq[Any]): Any = UrlOps.normalize(in(0).asInstanceOf[String])
  }

  /** Host of an already-NORMALIZED url ([[UrlOps.hostOf]]'s contract), so
    * `url_host(url_normalize(u))` next to `url_normalize(u)` shares the
    * normalization subtree, which codegen evaluates once per row. */
  case object UrlHost extends Kernel("url_host", Seq(StringType), StringType, "graft.webtext.UrlOps.hostOf") {
    def call(in: Seq[Any]): Any = UrlOps.hostOf(in(0).asInstanceOf[String])
  }

  case object TextNormalize
      extends Kernel("text_normalize", Seq(StringType), StringType, "graft.textops.TextNorm.normalize") {
    def call(in: Seq[Any]): Any = TextNorm.normalize(in(0).asInstanceOf[String])
  }

  case object MojibakeRepair
      extends Kernel("mojibake_repair", Seq(StringType), StringType, "graft.webtext.Mojibake.repair") {
    def call(in: Seq[Any]): Any = Mojibake.repair(in(0).asInstanceOf[String])
  }

  /** FNV-1a over the UTF-8 bytes: the term hash the sketches and oracles share. */
  case object Fnv64 extends Kernel("fnv64", Seq(StringType), LongType, "graft.textops.TextHash$.MODULE$.fnv64") {
    def call(in: Seq[Any]): Any = TextHash.fnv64(in(0).asInstanceOf[String])
  }

  case object Splitmix64
      extends Kernel("splitmix64", Seq(LongType), LongType, "graft.textops.TextHash$.MODULE$.splitmix64") {
    def call(in: Seq[Any]): Any = TextHash.splitmix64(in(0).asInstanceOf[Long])
  }

  /** HLL rho of an already-splitmixed hash for `restBits` low bits,
    * identical to [[HllSketchAgg]]'s register value. */
  case class HllRho(restBits: Int)
      extends Kernel("hll_rho", Seq(LongType), IntegerType, "graft.expr.HllSketchAgg$.MODULE$.rho") {
    require(restBits >= 1 && restBits <= 63, s"restBits=$restBits out of [1,63]")
    def call(in: Seq[Any]): Any = HllSketchAgg.rho(in(0).asInstanceOf[Long], restBits)
  }

  /** Point query `(sketch, key)` against a serialized count-min sketch of
    * this shape ([[CmsSketch.query]]). */
  case class CmsQuery(depth: Int = 4, width: Int = 1024)
      extends Kernel("cms_query", Seq(BinaryType, LongType), LongType, "graft.expr.CmsSketch.query") {
    require(depth >= 1 && depth <= 16, s"cms depth $depth out of [1,16]")
    require(width >= 2 && (width & (width - 1)) == 0, s"cms width $width must be a power of two")
    def call(in: Seq[Any]): Any =
      CmsSketch.query(in(0).asInstanceOf[Array[Byte]], in(1).asInstanceOf[Long], depth, width)
  }

  /** `(doc_id, text)` -> the PAGE-XML bytes of fixture `family`
    * ([[PagesFromDocuments.families]]). */
  case class PageXmlFixture(family: String)
      extends Kernel("page_xml_fixture", Seq(LongType, StringType), BinaryType,
        "pageplus.data.PagesFromDocuments.pageXml") {
    require(PagesFromDocuments.families.contains(family), s"unknown PAGE-XML fixture family $family")
    def call(in: Seq[Any]): Any =
      PagesFromDocuments.pageXml(in(0).asInstanceOf[Long], in(1).asInstanceOf[String], family)
  }

  /** `(doc_id, text)` -> the HTML bytes of fixture `family` ([[HtmlGen.families]]). */
  case class HtmlFixture(family: String)
      extends Kernel("html_fixture", Seq(LongType, StringType), BinaryType, "graft.webtext.HtmlGen.pageBytes") {
    require(HtmlGen.families.contains(family), s"unknown HTML fixture family $family")
    def call(in: Seq[Any]): Any =
      HtmlGen.pageBytes(in(0).asInstanceOf[Long], in(1).asInstanceOf[String], family)
  }

  /** Every kernel, parameterized ones at the parameters the engine uses and
    * at their extremes. */
  val all: Seq[Kernel] =
    Seq(PageFulltext(), PageFulltext(dehyphenate = true), PageFulltext(ro = true),
      PageFulltext(dehyphenate = true, ro = true), HtmlMainText, UrlNormalize, UrlHost,
      TextNormalize, MojibakeRepair, Fnv64, Splitmix64, HllRho(1), HllRho(58), HllRho(63),
      CmsQuery(), CmsQuery(2, 64)) ++
      PagesFromDocuments.families.keys.toSeq.sorted.map(PageXmlFixture) ++
      HtmlGen.families.keys.toSeq.sorted.map(HtmlFixture)
}

/** The one Catalyst expression for every [[Kernel]]: `doGenCode` emits the
  * kernel's static call, so scan -> kernel -> downstream stays inside
  * whole-stage codegen with no object-mode or ScalaUDF boundary. A null in
  * any input yields null. Prints as the kernel's name, then the inputs, then
  * the kernel's parameters: `page_fulltext(html#3, false, false)`. */
case class KernelExpr(kernel: Kernel, children: Seq[Expression]) extends Expression {

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ kernel.productIterator

  override def checkInputDataTypes(): TypeCheckResult = {
    def sig(ts: Seq[String]) = if (ts.size == 1) ts.head else ts.mkString("(", ", ", ")")
    if (children.map(_.dataType) == kernel.inputTypes) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${kernel.name} expects ${sig(kernel.inputTypes.map(_.sql))}, " +
      s"got ${sig(children.map(_.dataType.catalogString))}")
  }

  private def stringIn(i: Int) = kernel.inputTypes(i) == StringType
  private def stringOut = kernel.dataType == StringType

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input))
    if (args.contains(null)) return null
    val out = kernel.call(args.zipWithIndex.map { case (v, i) => if (stringIn(i)) v.toString else v })
    if (stringOut) UTF8String.fromString(out.asInstanceOf[String]) else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ins = children.map(_.genCode(ctx))
    val call = kernel.javaCall(ins.indices.map(i => s"${ins(i).value}" + (if (stringIn(i)) ".toString()" else "")))
    val result = if (stringOut) s"org.apache.spark.unsafe.types.UTF8String.fromString($call)" else call
    // as Spark's binary nullSafeCodeGen: an input's code runs once those before it are non-null
    val body = ins.zip(children).foldRight(s"${ev.isNull} = false;\n${ev.value} = $result;") {
      case ((in, c), inner) => s"${in.code}\n" + (if (c.nullable) s"if (!${in.isNull}) {\n$inner\n}" else inner)
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $body""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KernelExpr =
    copy(children = newChildren)
}

/** Static entry of the `page_fulltext` kernel. Text-only parse: extraction
  * reads no geometry (see StaxPageParser). */
object PageFulltextExpr {

  def extract(bytes: Array[Byte], dehyphenate: Boolean, ro: Boolean): String =
    FullText.extract(StaxPageParser.parseTextOnly("", bytes), dehyphenate = dehyphenate, readingOrder = ro)

  /** `page_fulltext(html [, dehyphenate, ro])` for SQL access: installs
    * the session's whole [[graft.plans.GraftExtensions]] set. */
  def register(spark: SparkSession): Unit = graft.plans.GraftExtensions.install(spark)
}

/** Static entry of the `html_main_text` kernel: HTML bytes -> main-content text. */
object HtmlMainTextExpr {

  def extract(bytes: Array[Byte]): String =
    MainContent.extract(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
}
