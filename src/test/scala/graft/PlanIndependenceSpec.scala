package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A query's plan may not depend on which queries ran before it in its
  * session. Sampled: the queries that use a session extension (the range-join
  * rule, the as-of strategy, the SQL functions), the hand-bucketized range
  * join, and joins that sort before `range_join_rule`, so that a name-order
  * run (Bench, Profile) would plan them before it. */
class PlanIndependenceSpec extends AnyFunSuite {
  import SparkSuite._

  private val sampled = Seq(
    "range_join_rule", "range_join", "asof_join_exec",
    "fulltext_sql_expr", "url_normalize_sql_expr", "html_main_sql_expr",
    "q5_multijoin", "q7_semijoin", "funnel_counts", "audience_overlap")

  /** The optimized plan in the canonical form `sameResult` compares
    * (expression ids normalized), less each typed lambda's instance hash:
    * a query built twice holds two instances of one lambda class, which
    * `sameResult` alone would call different plans. */
  private def optimized(s: SparkSession, name: String): String =
    SparkEntry.queries(name)(s, sf).queryExecution.optimizedPlan.canonicalized.toString
      .replaceAll("(\\$Lambda[^@\\s]*)@[0-9a-f]+", "$1")

  test("a sampled query plans the same first in a fresh session as after all the others ran") {
    val first = sampled.map(n => n -> optimized(spark.newSession(), n)).toMap
    val s = spark.newSession()
    def tempViews() = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val views = tempViews()
    sampled.foreach(n => assert(SparkEntry.queries(n)(s, sf).count() > 0, n))
    assert(tempViews() == views, "a query left a temp view behind")
    for (n <- sampled) {
      val after = optimized(s, n)
      assert(first(n) == after, s"$n plans differently after the others:\n${first(n)}\n---\n$after")
    }
  }
}
