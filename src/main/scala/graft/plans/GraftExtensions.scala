package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expr.{Kernel, KernelExpr}
import graft.expr.Kernel.{HtmlMainText, PageFulltext, TextNormalize, UrlHost, UrlNormalize}

/** The engine's one set of session extensions: the [[AsofJoinStrategy]]
  * planner strategy, the [[BucketedRangeJoin]] optimizer rule and the SQL
  * functions of [[GraftExtensions.functions]]. Every query is planned with
  * all of them, so no plan depends on which queries ran before it, and no
  * operator or query adds to a session on its own. Two ways in, one set:
  *
  *   - `spark.sql.extensions=graft.plans.GraftExtensions` (or
  *     `Builder.withExtensions(new GraftExtensions)`) at session construction;
  *   - [[GraftExtensions.install]] on a session that already exists — the
  *     query surface receives sessions its caller built, so
  *     [[graft.SparkEntry.queries]] calls it before every query.
  *
  * The rule is always on: it is an exact rewrite (the original BETWEEN is
  * re-verified after the bucket equi-join) and matches only a whole
  * `p >= lo AND p <= hi` inner-join condition over LONG columns. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    e.injectOptimizerRule(_ => BucketedRangeJoin)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[KernelExpr].getCanonicalName, null, name, usage, "", "", "", "", "", "", "built-in"),
      args => build.applyOrElse(args, (_: Seq[Expression]) => throw new IllegalArgumentException(usage)))

  /** `name(arg)` over a one-input kernel. */
  private def unary(k: Kernel, arg: String): FunctionDescription =
    fn(k.name, s"${k.name}($arg)") { case Seq(e) => KernelExpr(k, Seq(e)) }

  /** A foldable BOOLEAN (or 'true'/'false') argument. */
  private def flag(e: Expression): Boolean = e.eval(null) match {
    case b: Boolean => b
    case other      => other != null && other.toString.toBoolean
  }

  /** The SQL functions, each the SQL face of a codegen kernel. */
  val functions: Seq[FunctionDescription] = Seq(
    fn("page_fulltext", "page_fulltext(html[, dehyphenate[, ro]])") {
      case Seq(h)       => KernelExpr(PageFulltext(), Seq(h))
      case Seq(h, d)    => KernelExpr(PageFulltext(flag(d)), Seq(h))
      case Seq(h, d, r) => KernelExpr(PageFulltext(flag(d), flag(r)), Seq(h))
    },
    unary(HtmlMainText, "html"),
    unary(UrlNormalize, "url"),
    unary(UrlHost, "url"),
    unary(TextNormalize, "text"))

  /** Give an existing session the whole set; a no-op on a session that has
    * it. (A session built with the extension then lists the strategy and
    * the rule twice, which changes no plan: the rule never matches its own
    * output, and the first strategy that plans a node wins.) */
  def install(spark: SparkSession): Unit = spark.synchronized {
    val x = spark.experimental
    if (!x.extraStrategies.contains(AsofJoinStrategy)) x.extraStrategies :+= AsofJoinStrategy
    if (!x.extraOptimizations.contains(BucketedRangeJoin)) x.extraOptimizations :+= BucketedRangeJoin
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
