package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsofExec
import graft.webtext.AsofJoin

/** The whole-operator extension tier: AsofJoinNode/Strategy/Exec must agree
  * bit-for-bit with the composed window plan on the corpus fixture, plan as
  * one exec + two co-partitioned exchanges + EnsureRequirements-inserted
  * sorts, stay partitioning-invariant, and reach a session through BOTH
  * ways in of [[graft.plans.GraftExtensions]] (install on the suite session,
  * spark.sql.extensions on a new one). */
class AsofExecSpec extends AnyFunSuite {
  import SparkSuite._

  private def corpusInputs(): (DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    val ev = spark.read.parquet(s"$sf/events.parquet").select(
      (col("event_id") % n).as("k"),
      TimeCols.ntzEpochSeconds(col("ts")).as("t"),
      col("event_id"))
    (AsofJoin.plantSnapshots(docs), ev)
  }

  private def rows(df: DataFrame): Map[Long, (Long, Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("exec equals the composed window plan on the corpus fixture, any partitioning") {
    val (snaps, ev) = corpusInputs()
    val composed = AsofJoin.asof(snaps, ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(composed.nonEmpty)
    // fixture sanity: both match states are exercised
    assert(composed.values.exists(_._2 == -1L), "no unmatched events in fixture")
    assert(composed.values.exists(_._2 >= 0L), "no matched events in fixture")
    for (parts <- Seq(1, 3, 8)) {
      val got = rows(AsofExec.asof(snaps.repartition(parts), ev.repartition(parts + 1)))
      assert(got == composed, s"parts=$parts")
    }
  }

  test("plan: one AsofJoinExec, two co-partitioned hash exchanges, required sorts inserted") {
    val (snaps, ev) = corpusInputs()
    val plan = AsofExec.asof(snaps, ev).queryExecution.executedPlan.toString
    assert("AsofJoin \\[event_id".r.findAllIn(plan).size == 1, s"plan:\n$plan")
    assert("Exchange hashpartitioning\\(k#".r.findAllIn(plan).size == 2,
      s"expected exactly 2 hash exchanges on k:\n$plan")
    assert("Sort \\[k#".r.findAllIn(plan).size == 2,
      s"expected EnsureRequirements to insert both sorts:\n$plan")
  }

  test("inclusive-tie, highest-version-at-equal-t, and before-first-snapshot semantics") {
    import spark.implicits._
    val snaps = Seq(
      (1L, 100L, 0L), (1L, 100L, 7L), // equal-t snapshots: version 7 must win
      (1L, 200L, 9L),
      (3L, 50L, 1L)
    ).toDF("k", "t", "version")
    val events = Seq(
      (1L, 100L, 10L), // tie with snapshot t: inclusive, v7, age 0
      (1L, 150L, 11L), // between: v7, age 50
      (1L, 200L, 12L), // tie with later snapshot: v9, age 0
      (2L, 999L, 13L), // key with no snapshots: -1/-1
      (3L, 49L, 14L),  // before first snapshot: -1/-1
      (3L, 51L, 15L)   // after: v1, age 1
    ).toDF("k", "t", "event_id")
    val got = rows(AsofExec.asof(snaps, events))
    assert(got == Map(
      10L -> ((1L, 7L, 0L)), 11L -> ((1L, 7L, 50L)), 12L -> ((1L, 9L, 0L)),
      13L -> ((2L, -1L, -1L)), 14L -> ((3L, -1L, -1L)), 15L -> ((3L, 1L, 1L))))
  }

  test("GraftExtensions injects the strategy at session construction") {
    val orig = spark // force suite-session init before we clear the defaults
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions is the public in-JVM injection seam; the equivalent
      // `spark.sql.extensions=graft.plans.GraftExtensions` config string is
      // STATIC and cannot apply over the suite's pre-existing SparkContext
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import s2.implicits._
      // nothing is installed on s2: planning must succeed through the
      // injected strategy alone
      assert(s2.experimental.extraStrategies.isEmpty && s2.experimental.extraOptimizations.isEmpty)
      val snaps = Seq((1L, 10L, 3L)).toDF("k", "t", "version")
      val events = Seq((1L, 11L, 42L), (1L, 9L, 41L)).toDF("k", "t", "event_id")
      val got = rows(AsofExec.asof(snaps, events))
      assert(got == Map(42L -> ((1L, 3L, 1L)), 41L -> ((1L, -1L, -1L))))
      // the same set carries the range-join rule: the naive BETWEEN join is
      // keyed, not a nested loop
      val iv = Seq((1L, 100L, 4000L), (2L, 3000L, 9000L)).toDF("iv_id", "lo", "hi")
      val pt = Seq((7L, 3500L), (8L, 8000L), (9L, 50L)).toDF("event_id", "sec")
      val ranged = iv.join(pt, col("sec") >= col("lo") && col("sec") <= col("hi"))
        .select("iv_id", "event_id")
      val plan = ranged.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rule must produce a keyed join:\n$plan")
      assert(ranged.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        Seq((1L, 7L), (2L, 7L), (2L, 8L)))
      // ...and the SQL functions
      val xml = pageplus.xml.PageXmlWriter.write(
        pageplus.data.PagesFromDocuments.cleanDoc(1, "a b c")).getBytes("UTF-8")
      val text = Seq(Tuple1(xml)).toDF("html").selectExpr("page_fulltext(html)").head().getString(0)
      assert(text == graft.expr.PageFulltextExpr.extract(xml, false, false) && text.nonEmpty)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}
