package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.ListenerCounts
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]] on the shared test session: a shuffle-free query, one with an
  * Exchange, and an iterative one whose rounds are Dataset actions of their
  * own (recorded as executions besides the final drain). */
class ProfileSpec extends AnyFunSuite {
  import SparkSuite._

  private val queries = Seq("fulltext_extract", "minhash_neardup", "bpe_train")

  /** Job and stage counts, and each execution's operators with a row count. */
  private def counts(r: Profile.Record) =
    (r.jobs, r.stages, r.executions.map(_.operators.flatMap(o => o.metrics.get("numOutputRows").map(o.op -> _))))

  test("Profile writes one record and one plan per query, repeatably, and detaches its listeners") {
    val out = tempDir("graft_profile_")
    val first = Profile.run(spark, sf, out, queries)
    // taken after the first run: Spark registers some listeners of its own
    // lazily, on a session's first query
    val listeners = ListenerCounts(spark)

    val lines = Files.readAllLines(Paths.get(out, "PROFILE.json")).asScala.map(new ObjectMapper().readTree)
    assert(lines.map(_.get("query").asText) == queries)
    assert(lines.map(_.get("family").asText) == Seq("pagexml", "dedup", "training"))
    lines.foreach { r =>
      val q = r.get("query").asText
      assert(r.get("error").isNull, s"$q: ${r.get("error")}")
      val runs = r.get("runs_s").asScala.map(_.asDouble).toSeq
      assert(runs.size == 2 && runs.forall(_ > 0), s"$q runs $runs")
      assert(r.get("jobs").asLong >= 1, q)
      assert(Files.isRegularFile(Paths.get(out, "plans", s"$q.txt")), q)
    }
    assert(lines(1).get("exchanges").asLong >= 1, "minhash_neardup shuffles")
    assert(lines(2).get("executions").size > 1, "bpe_train runs actions of its own")

    val again = Profile.run(spark, sf, tempDir("graft_profile_"), queries)
    assert(ListenerCounts(spark) == listeners, "Profile left a listener registered")
    first.zip(again).foreach { case (a, b) => assert(counts(a) == counts(b), a.query) }
  }

  test("the warm run of fulltext_sql_expr reuses every parquet schema the cold run inferred") {
    val out = tempDir("graft_profile_")
    val Seq(rec) = Profile.run(spark, sf, out, Seq("fulltext_sql_expr"))
    assert(rec.schemaReads.inferred == 0 && rec.schemaReads.reused >= 1, rec.schemaReads)
    val line = new ObjectMapper().readTree(Files.readAllLines(Paths.get(out, "PROFILE.json")).get(0))
    assert(line.get("schema_reads").get("inferred").asLong == 0)
    assert(line.get("schema_reads").get("reused").asLong == rec.schemaReads.reused)
  }

  test("object_nodes counts the final plan's object-mode operators, lambda_exprs its lambdas") {
    val out = tempDir("graft_profile_")
    val Seq(expr, typed, cms) = Profile.run(spark, sf, out, Seq("fulltext_sql_expr", "html_main_content", "cms_freq"))
    assert(expr.objectNodes == 0, "fulltext_sql_expr lifts pages and extracts in generated code")
    assert(typed.objectNodes >= 1, "WebText.mainContent runs typed")
    assert(cms.lambdaExprs >= 1, "cms_freq builds its bigrams with transform(sequence(...))")
    val lines = Files.readAllLines(Paths.get(out, "PROFILE.json")).asScala.map(new ObjectMapper().readTree)
    assert(lines.map(_.get("object_nodes").asLong) == Seq(expr, typed, cms).map(_.objectNodes.toLong))
    assert(lines(2).get("lambda_exprs").asLong == cms.lambdaExprs)
  }
}
