package graft.expr

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.textops.{TextHash, TextNorm}
import graft.webtext.{MainContent, Mojibake, UrlOps}
import pageplus.text.FullText
import pageplus.xml.StaxPageParser

/** A per-row JVM function that Column and SQL code call: ONE static method,
  * which interpreted eval calls from Scala ([[call]]) and generated code
  * calls from Java ([[method]]), so the two paths cannot drift. A kernel
  * sees plain JVM values: a STRING input arrives as a `String` and a STRING
  * result leaves as one ([[KernelExpr]] holds the one `UTF8String` adapter);
  * BINARY is `Array[Byte]`, BIGINT `Long`, INT `Int`.
  *
  * A parameterized kernel is a case class whose fields are passed to the
  * method after the input, in field order; equal kernels are then equal
  * values, which subexpression elimination and plan canonicalization need.
  */
abstract class Kernel(val name: String, val inputType: DataType, val dataType: DataType)
    extends Product with Serializable {

  /** The static method as Java source, e.g. `graft.webtext.UrlOps.normalize`. */
  protected def method: String

  /** The same method, called from Scala on the input's JVM value. */
  def call(input: Any): Any

  /** Java source of the call over the input expression `arg`. */
  final def javaCall(arg: String): String =
    (arg +: productIterator.map(_.toString).toSeq).mkString(s"$method(", ", ", ")")

  /** This kernel over a Column. */
  def apply(c: Column): Column =
    GraftColumnBridge.column(KernelExpr(this, GraftColumnBridge.expression(c)))
}

object Kernel {

  case class PageFulltext(dehyphenate: Boolean = false, ro: Boolean = false)
      extends Kernel("page_fulltext", BinaryType, StringType) {
    protected def method = "graft.expr.PageFulltextExpr.extract"
    def call(in: Any): Any = PageFulltextExpr.extract(in.asInstanceOf[Array[Byte]], dehyphenate, ro)
  }

  case object HtmlMainText extends Kernel("html_main_text", BinaryType, StringType) {
    protected def method = "graft.expr.HtmlMainTextExpr.extract"
    def call(in: Any): Any = HtmlMainTextExpr.extract(in.asInstanceOf[Array[Byte]])
  }

  case object UrlNormalize extends Kernel("url_normalize", StringType, StringType) {
    protected def method = "graft.webtext.UrlOps.normalize"
    def call(in: Any): Any = UrlOps.normalize(in.asInstanceOf[String])
  }

  /** Host of an already-NORMALIZED url ([[UrlOps.hostOf]]'s contract), so
    * `url_host(url_normalize(u))` next to `url_normalize(u)` shares the
    * normalization subtree, which codegen evaluates once per row. */
  case object UrlHost extends Kernel("url_host", StringType, StringType) {
    protected def method = "graft.webtext.UrlOps.hostOf"
    def call(in: Any): Any = UrlOps.hostOf(in.asInstanceOf[String])
  }

  case object TextNormalize extends Kernel("text_normalize", StringType, StringType) {
    protected def method = "graft.textops.TextNorm.normalize"
    def call(in: Any): Any = TextNorm.normalize(in.asInstanceOf[String])
  }

  case object MojibakeRepair extends Kernel("mojibake_repair", StringType, StringType) {
    protected def method = "graft.webtext.Mojibake.repair"
    def call(in: Any): Any = Mojibake.repair(in.asInstanceOf[String])
  }

  /** FNV-1a over the UTF-8 bytes: the term hash the sketches and oracles share. */
  case object Fnv64 extends Kernel("fnv64", StringType, LongType) {
    protected def method = "graft.textops.TextHash$.MODULE$.fnv64"
    def call(in: Any): Any = TextHash.fnv64(in.asInstanceOf[String])
  }

  case object Splitmix64 extends Kernel("splitmix64", LongType, LongType) {
    protected def method = "graft.textops.TextHash$.MODULE$.splitmix64"
    def call(in: Any): Any = TextHash.splitmix64(in.asInstanceOf[Long])
  }

  /** HLL rho of an already-splitmixed hash for `restBits` low bits,
    * identical to [[HllSketchAgg]]'s register value. */
  case class HllRho(restBits: Int) extends Kernel("hll_rho", LongType, IntegerType) {
    require(restBits >= 1 && restBits <= 63, s"restBits=$restBits out of [1,63]")
    protected def method = "graft.expr.HllSketchAgg$.MODULE$.rho"
    def call(in: Any): Any = HllSketchAgg.rho(in.asInstanceOf[Long], restBits)
  }

  /** Every kernel, parameterized ones at the parameters the engine uses and
    * at their extremes. */
  val all: Seq[Kernel] =
    Seq(PageFulltext(), PageFulltext(dehyphenate = true), PageFulltext(ro = true),
      PageFulltext(dehyphenate = true, ro = true), HtmlMainText, UrlNormalize, UrlHost,
      TextNormalize, MojibakeRepair, Fnv64, Splitmix64, HllRho(1), HllRho(58), HllRho(63))
}

/** The one Catalyst expression for every [[Kernel]]: `doGenCode` emits the
  * kernel's static call, so scan -> kernel -> downstream stays inside
  * whole-stage codegen with no object-mode or ScalaUDF boundary. Null input
  * yields null. Prints as the kernel's name, then the child, then the
  * kernel's parameters: `page_fulltext(html#3, false, false)`. */
case class KernelExpr(kernel: Kernel, child: Expression) extends UnaryExpression {

  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ kernel.productIterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == kernel.inputType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} expects ${kernel.inputType.sql}, got ${child.dataType.catalogString}")

  private def stringIn = kernel.inputType == StringType
  private def stringOut = kernel.dataType == StringType

  override protected def nullSafeEval(input: Any): Any = {
    val out = kernel.call(if (stringIn) input.toString else input)
    if (stringOut) UTF8String.fromString(out.asInstanceOf[String]) else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => {
      val call = kernel.javaCall(if (stringIn) s"$c.toString()" else c)
      if (stringOut) s"org.apache.spark.unsafe.types.UTF8String.fromString($call)" else call
    })

  override protected def withNewChildInternal(newChild: Expression): KernelExpr =
    copy(child = newChild)
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
