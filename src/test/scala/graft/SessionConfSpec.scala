package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Queries share one session, so an operator that changes session conf must
  * put it back, and no operator may change what the session plans with.
  * Main code changes conf in one place, [[SessionConf.scoped]], and extends
  * the session in one place, [[graft.plans.GraftExtensions]]; this scans
  * `src/main/scala` (the CoverageSpec pattern) so that neither a
  * hand-written save/set/restore nor a per-operator strategy, rule,
  * function, temp view, ScalaUDF, hand-written scalar Expression or
  * schema-inferring parquet read can come back, and pins what `scoped`
  * restores.
  */
class SessionConfSpec extends AnyFunSuite {

  /** `file:line` of every `src/main/scala` line that contains one of `needles`. */
  private def hits(needles: String*): Seq[String] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted.flatMap { p =>
      Files.readAllLines(p, UTF_8).asScala.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) => s"${root.relativize(p)}:${i + 1}"
      }
    } finally files.close()
  }

  test("session conf is set or unset only by SessionConf.scoped, which restores the previous state") {
    val (scoped, elsewhere) = hits("conf.set(", "conf.unset(").partition(_.startsWith("graft/SessionConf.scala:"))
    assert(elsewhere.isEmpty, s"session conf changed outside SessionConf.scoped: ${elsewhere.mkString(", ")}")
    assert(scoped.size == 3, s"expected set, restore and unset in SessionConf.scoped: $scoped")

    val spark = SparkSuite.spark
    val key = "graft.test.scoped"
    assert(SessionConf.scoped(spark, key, "inner")(spark.conf.get(key)) == "inner")
    assert(!spark.conf.getAll.contains(key), "a key the session did not have must be unset again")
    spark.conf.set(key, "outer")
    try {
      intercept[IllegalStateException](SessionConf.scoped(spark, key, "inner")(throw new IllegalStateException))
      assert(spark.conf.get(key) == "outer", "the previous value must come back, also when the block throws")
    } finally spark.conf.unset(key)
  }

  test("strategies, optimizer rules, SQL functions and temp views come only from GraftExtensions") {
    val found = hits("experimental.extra", "functionRegistry",
      "createOrReplaceTempView", "createTempView", "createGlobalTempView")
      .filterNot(_.startsWith("graft/plans/GraftExtensions.scala:"))
    // the frozen Bench registers its SQL-expression pages table as a view
    val frozen = Seq("graft/Bench.scala:151")
    assert(found == frozen, s"session extended outside GraftExtensions (only $frozen may): ${found.mkString(", ")}")
  }

  test("main code reads a parquet table only through graft.Tables.parquet") {
    val found = hits("read.parquet(").filterNot(_.startsWith("graft/Tables.scala:"))
    // the frozen Bench reads its inputs itself
    val frozen = Seq(72, 86, 135, 151, 281).map(n => s"graft/Bench.scala:$n")
    assert(found == frozen, s"read.parquet( outside graft.Tables (only $frozen may): ${found.mkString(", ")}")
  }

  test("no ScalaUDF: a per-row function is a graft.expr.Kernel declaration") {
    val found = hits("udf(")
    assert(found.isEmpty, s"udf( under src/main/scala: ${found.mkString(", ")}")
  }

  test("no hand-written scalar Expression: KernelExpr is the only one (aggregates excepted)") {
    val found = hits("extends UnaryExpression", "extends BinaryExpression", "extends TernaryExpression",
      "with CodegenFallback", "extends Expression").filterNot(_.startsWith("graft/expr/Kernel.scala:"))
    assert(found.isEmpty, s"a scalar Expression outside KernelExpr (declare a graft.expr.Kernel): ${found.mkString(", ")}")
  }
}
