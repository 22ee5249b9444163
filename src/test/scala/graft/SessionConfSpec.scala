package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Queries share one session, so an operator that changes session conf must
  * put it back. Main code does that in one place, [[SessionConf.scoped]];
  * this scans `src/main/scala` (the CoverageSpec pattern) so that a
  * hand-written save/set/restore cannot come back, and pins what `scoped`
  * restores.
  */
class SessionConfSpec extends AnyFunSuite {

  test("session conf is set or unset only by SessionConf.scoped, which restores the previous state") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted.flatMap { p =>
        Files.readAllLines(p, UTF_8).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("conf.set(") || line.contains("conf.unset(") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      } finally files.close()
    val (scoped, elsewhere) = hits.partition(_.startsWith("graft/SessionConf.scala:"))
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
}
