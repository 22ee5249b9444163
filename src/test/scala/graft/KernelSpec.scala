package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.Kernel
import pageplus.data.SyntheticCorpus

/** Every declared [[Kernel]] over fixed inputs of its input types, a null
  * in each input position among them: generated code (no interpreted
  * fallback) equals interpreted eval, both equal the kernel's Scala call, a
  * null in any input gives null, parquet columns plan the kernel inside a
  * whole-stage-codegen Project, and a wrong type in any input position fails
  * analysis naming the function and the types it expects. A new kernel in
  * [[Kernel.all]] is covered here without a new test. */
class KernelSpec extends AnyFunSuite {
  import SparkSuite._

  /** Non-null input values by type. */
  private val values: Map[DataType, Seq[Any]] = Map(
    StringType -> Seq("", "plain ascii", "HTTP://WWW.Example.COM:80/Path?utm_source=x&q=1#frag",
      "https://User@[2001:db8::1]:8443/x?", "no scheme", "\r cafe\u0301 \u200B\u00A0 bar \r",
      "Caf\u00C3\u00A9 d\u00C3\u00A9j\u00C3\u00A0 vu", "na\u00EFve Latin-1", "\u65E5\u672C\u8A9E text",
      (1 to 40).map(i => s"w$i").mkString(" ")),
    BinaryType -> (Seq(Array.emptyByteArray,
      "<html><body><nav><a href='/'>home</a></nav><p>Main content runs on for a while here.</p></body></html>")
      ++ Seq(SyntheticCorpus.clean(1), SyntheticCorpus.hyphenated(2), SyntheticCorpus.readingOrder(3),
        SyntheticCorpus.malformed(4), SyntheticCorpus.nonPage(5))).map {
      case s: String => s.getBytes(UTF_8)
      case other     => other
    },
    LongType -> Seq(0L, 1L, -1L, 42L, 0x5eed0001L, Long.MinValue, Long.MaxValue))

  /** Inputs outside a kernel's domain, by kernel name and input position:
    * a sketch is `depth * width` little-endian counters; a fixture's doc_id
    * is a table key, never negative. */
  private val domains: Map[(String, Int), Seq[Any]] = {
    val rnd = new scala.util.Random(7)
    val sketches = Seq.fill(3)(Array.fill(4 * 1024 * 8)(rnd.nextInt(256).toByte)) :+ new Array[Byte](4 * 1024 * 8)
    val docIds = Seq(0L, 1L, 2L, 3L, 5L, 7L, 11L, 42L, 630L, 3003L)
    Map(("cms_query", 0) -> sketches, ("page_xml_fixture", 0) -> docIds, ("html_fixture", 0) -> docIds)
  }

  private def valuesOf(k: Kernel, pos: Int): Seq[Any] =
    domains.getOrElse((k.name, pos), values(k.inputTypes(pos)))

  /** Input rows: every value of the longest input list, the others cycled,
    * then for each position a row that is null there and non-null elsewhere. */
  private def rows(k: Kernel): Seq[Seq[Any]] = {
    val vs = k.inputTypes.indices.map(valuesOf(k, _))
    val full = (0 until vs.map(_.size).max).map(i => vs.map(v => v(i % v.size)))
    full ++ k.inputTypes.indices.map(p => full.head.updated(p, null))
  }

  /** One parquet table `(i INT, v0 <type>, v1 <type>, …)` per kernel name. */
  private val tables = scala.collection.mutable.Map.empty[String, String]
  private def table(k: Kernel): String = tables.getOrElseUpdate(k.name, {
    val dir = tempDir("graft_kernel_in_")
    val schema = StructType(StructField("i", IntegerType) +:
      k.inputTypes.zipWithIndex.map { case (t, p) => StructField(s"v$p", t) })
    val data = rows(k).zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema).write.mode("overwrite").parquet(dir)
    dir
  })

  private def withConf[A](kv: (String, String)*)(body: => A): A =
    kv.foldRight(() => body) { case ((k, v), inner) => () => SessionConf.scoped(spark, k, v)(inner()) }()

  /** BINARY values compare by content. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other          => other
  }

  /** `i -> kernel(v0, v1, …)` with its executed plan. */
  private def run(k: Kernel): (Map[Int, Any], String) = {
    val df = spark.read.parquet(table(k))
      .select(col("i") +: Seq(k(k.inputTypes.indices.map(p => col(s"v$p")): _*).as("o")): _*)
    (df.collect().map(r => r.getInt(0) -> norm(r.get(1))).toMap, df.queryExecution.executedPlan.toString)
  }

  /** `i -> ` the kernel's Scala call on row `i`. */
  private def expected(k: Kernel): Map[Int, Any] =
    rows(k).zipWithIndex.map { case (r, i) => i -> (if (r.contains(null)) null else norm(k.call(r))) }.toMap

  for (k <- Kernel.all) test(s"kernel $k: codegen == interpreted == Scala call, null in null out, codegen Project") {
    val want = expected(k)
    val (generated, plan) = withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run(k))
    val (interpreted, _) = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(k))
    assert(generated == want, s"generated code differs from ${k.name}'s Scala call")
    assert(interpreted == want, s"interpreted eval differs from ${k.name}'s Scala call")
    val nullRows = want.keys.toSeq.sorted.takeRight(k.inputTypes.size)
    nullRows.foreach { i =>
      assert(generated(i) == null && interpreted(i) == null, s"a null in input ${i - nullRows.head} must give null")
    }
    assert(want.values.count(_ != null) >= 4, "fixture must exercise non-null inputs")
    assert(s"\\*\\(\\d+\\) Project \\[.*\\Q${k.name}(\\E".r.findFirstIn(plan).isDefined,
      s"${k.name} fell out of whole-stage codegen:\n$plan")
    assert(!plan.contains("DeserializeToObject"), plan)
  }

  for (k <- Kernel.all.distinctBy(_.name)) test(s"kernel ${k.name}: a wrong input type fails analysis") {
    import org.apache.spark.sql.functions.lit
    def sig(ts: Seq[String]) = if (ts.size == 1) ts.head else ts.mkString("(", ", ", ")")
    val expects = s"${k.name} expects ${sig(k.inputTypes.map(_.sql))}"
    for (p <- k.inputTypes.indices) {
      val wrong = k.inputTypes.updated(p, if (k.inputTypes(p) == LongType) StringType else LongType)
      val df = spark.range(1).select(wrong.zipWithIndex.map { case (t, i) => lit(null).cast(t).as(s"v$i") }: _*)
      val e = intercept[AnalysisException](df.select(k(k.inputTypes.indices.map(i => col(s"v$i")): _*)))
      assert(e.getMessage.contains(expects), s"input $p: ${e.getMessage}")
    }
    val extra = spark.range(1).select((k.inputTypes :+ LongType).zipWithIndex.map { case (t, i) =>
      lit(null).cast(t).as(s"v$i") }: _*)
    val e = intercept[AnalysisException](extra.select(k(extra.columns.toSeq.map(col): _*)))
    assert(e.getMessage.contains(expects), s"one input too many: ${e.getMessage}")
  }

  test("equal kernels make semantically equal expressions, printed as name, child, parameters") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import graft.expr.KernelExpr
    val html = BoundReference(0, BinaryType, nullable = true)
    val url = BoundReference(0, StringType, nullable = true)
    assert(KernelExpr(Kernel.PageFulltext(true, false), Seq(html))
      .semanticEquals(KernelExpr(Kernel.PageFulltext(dehyphenate = true), Seq(html))))
    assert(!KernelExpr(Kernel.PageFulltext(true, false), Seq(html))
      .semanticEquals(KernelExpr(Kernel.PageFulltext(false, true), Seq(html))))
    assert(KernelExpr(Kernel.UrlNormalize, Seq(url)).semanticEquals(KernelExpr(Kernel.UrlNormalize, Seq(url))))
    assert(KernelExpr(Kernel.PageFulltext(true, false), Seq(html)).toString ==
      "page_fulltext(input[0, binary, true], true, false)")
    assert(KernelExpr(Kernel.HllRho(58), Seq(BoundReference(0, LongType, nullable = false))).toString ==
      "hll_rho(input[0, bigint, false], 58)")
    intercept[IllegalArgumentException](Kernel.HllRho(64))
    // parameters follow the inputs as Java literals, a String quoted
    assert(Kernel.HtmlFixture("page").javaCall(Seq("id", "t")) == "graft.webtext.HtmlGen.pageBytes(id, t, \"page\")")
    assert(Kernel.CmsQuery(2, 64).javaCall(Seq("s", "k")) == "graft.expr.CmsSketch.query(s, k, 2, 64)")
    intercept[IllegalArgumentException](Kernel.HtmlFixture("nope"))
  }

  test("withNormalized keeps a null url's url_norm null and its host empty") {
    import spark.implicits._
    val out = graft.webtext.UrlOps.withNormalized(
        Seq((1L, "HTTP://WWW.Site.com:80/P?utm_source=x#f"), (2L, null), (3L, "no scheme")).toDF("doc_id", "url"))
      .collect().map(r => r.getLong(0) -> ((r.getAs[String]("url_norm"), r.getAs[String]("host")))).toMap
    assert(out == Map(1L -> (("http://site.com/P", "site.com")), 2L -> ((null, "")), 3L -> (("no scheme", ""))))
  }
}
