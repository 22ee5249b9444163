package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.Kernel
import pageplus.data.SyntheticCorpus

/** Every declared [[Kernel]] over fixed inputs of its input type, null
  * among them: generated code (no interpreted fallback) equals interpreted
  * eval, both equal the kernel's Scala call, null gives null, a parquet
  * column plans the kernel inside a whole-stage-codegen Project, and a wrong
  * input type fails analysis naming the function and the type it expects.
  * A new kernel in [[Kernel.all]] is covered here without a new test. */
class KernelSpec extends AnyFunSuite {
  import SparkSuite._

  private val inputs: Map[DataType, Seq[Any]] = Map(
    StringType -> Seq(null, "", "plain ascii", "HTTP://WWW.Example.COM:80/Path?utm_source=x&q=1#frag",
      "https://User@[2001:db8::1]:8443/x?", "no scheme", "\r cafe\u0301 \u200B\u00A0 bar \r",
      "Caf\u00C3\u00A9 d\u00C3\u00A9j\u00C3\u00A0 vu", "na\u00EFve Latin-1", "\u65E5\u672C\u8A9E text"),
    BinaryType -> (Seq(null, Array.emptyByteArray,
      "<html><body><nav><a href='/'>home</a></nav><p>Main content runs on for a while here.</p></body></html>")
      ++ Seq(SyntheticCorpus.clean(1), SyntheticCorpus.hyphenated(2), SyntheticCorpus.readingOrder(3),
        SyntheticCorpus.malformed(4), SyntheticCorpus.nonPage(5))).map {
      case s: String => s.getBytes(UTF_8)
      case other     => other
    },
    LongType -> Seq(null, 0L, 1L, -1L, 42L, 0x5eed0001L, Long.MinValue, Long.MaxValue))

  /** One parquet table `(i INT, v <type>)` per input type. */
  private lazy val tables: Map[DataType, String] = inputs.map { case (t, vs) =>
    val dir = tempDir("graft_kernel_in_")
    val rows = vs.zipWithIndex.map { case (v, i) => Row(i, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("i", IntegerType), StructField("v", t))))
      .write.mode("overwrite").parquet(dir)
    t -> dir
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A =
    kv.foldRight(() => body) { case ((k, v), inner) => () => SessionConf.scoped(spark, k, v)(inner()) }()

  /** `i -> kernel(v)` with its executed plan. */
  private def run(k: Kernel): (Map[Int, Any], String) = {
    val df = spark.read.parquet(tables(k.inputType)).select(col("i"), k(col("v")).as("o"))
    (df.collect().map(r => r.getInt(0) -> r.get(1)).toMap, df.queryExecution.executedPlan.toString)
  }

  /** `i -> ` the kernel's Scala call on input `i`. */
  private def expected(k: Kernel): Map[Int, Any] =
    inputs(k.inputType).zipWithIndex.map { case (v, i) => i -> (if (v == null) null else k.call(v)) }.toMap

  for (k <- Kernel.all) test(s"kernel $k: codegen == interpreted == Scala call, null in null out, codegen Project") {
    val want = expected(k)
    val (generated, plan) = withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run(k))
    val (interpreted, _) = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(k))
    assert(generated == want, s"generated code differs from ${k.name}'s Scala call")
    assert(interpreted == want, s"interpreted eval differs from ${k.name}'s Scala call")
    assert(generated(0) == null && interpreted(0) == null, "a null input must give null")
    assert(want.values.count(_ != null) >= 4, "fixture must exercise non-null inputs")
    assert(s"\\*\\(\\d+\\) Project \\[.*\\Q${k.name}(\\E".r.findFirstIn(plan).isDefined,
      s"${k.name} fell out of whole-stage codegen:\n$plan")
    assert(!plan.contains("DeserializeToObject"), plan)
  }

  for (k <- Kernel.all.distinctBy(_.name)) test(s"kernel ${k.name}: a wrong input type fails analysis") {
    val wrong = if (k.inputType == LongType) StringType else LongType
    val e = intercept[AnalysisException](spark.read.parquet(tables(wrong)).select(k(col("v"))))
    assert(e.getMessage.contains(s"${k.name} expects ${k.inputType.sql}"), e.getMessage)
  }

  test("equal kernels make semantically equal expressions, printed as name, child, parameters") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import graft.expr.KernelExpr
    val html = BoundReference(0, BinaryType, nullable = true)
    val url = BoundReference(0, StringType, nullable = true)
    assert(KernelExpr(Kernel.PageFulltext(true, false), html)
      .semanticEquals(KernelExpr(Kernel.PageFulltext(dehyphenate = true), html)))
    assert(!KernelExpr(Kernel.PageFulltext(true, false), html)
      .semanticEquals(KernelExpr(Kernel.PageFulltext(false, true), html)))
    assert(KernelExpr(Kernel.UrlNormalize, url).semanticEquals(KernelExpr(Kernel.UrlNormalize, url)))
    assert(KernelExpr(Kernel.PageFulltext(true, false), html).toString ==
      "page_fulltext(input[0, binary, true], true, false)")
    assert(KernelExpr(Kernel.HllRho(58), BoundReference(0, LongType, nullable = false)).toString ==
      "hll_rho(input[0, bigint, false], 58)")
    intercept[IllegalArgumentException](Kernel.HllRho(64))
  }

  test("withNormalized keeps a null url's url_norm null and its host empty") {
    import spark.implicits._
    val out = graft.webtext.UrlOps.withNormalized(
        Seq((1L, "HTTP://WWW.Site.com:80/P?utm_source=x#f"), (2L, null), (3L, "no scheme")).toDF("doc_id", "url"))
      .collect().map(r => r.getLong(0) -> ((r.getAs[String]("url_norm"), r.getAs[String]("host")))).toMap
    assert(out == Map(1L -> (("http://site.com/P", "site.com")), 2L -> ((null, "")), 3L -> (("no scheme", ""))))
  }
}
