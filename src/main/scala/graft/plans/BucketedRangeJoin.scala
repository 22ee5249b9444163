package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule: rewrite a naive interval-containment join into
  * the bucketized equi-join of [[graft.events.RangeJoin]] — the classic
  * range-join optimization, done where it belongs, in the OPTIMIZER, so the
  * user writes the natural predicate and still gets a shuffle join.
  *
  * The problem: `iv JOIN pt ON pt.sec BETWEEN iv.lo AND iv.hi` has no
  * equality conjunct, so Catalyst's join selection bottoms out at
  * BroadcastNestedLoopJoin — O(|iv|·|pt|) comparisons, a driver-OOM or a
  * cluster-week at web scale. The rewrite: explode each interval row to its
  * covered width-B bucket ids (Generate over `sequence(lo div B, hi div B)`),
  * project each point's single bucket id, equi-join on the bucket, and keep
  * the original BETWEEN as a post-join Filter. A pair meets in exactly one
  * bucket (the point's), so the rewrite is duplicate-free and EXACTLY
  * result-equivalent — it only changes the join's physical reachability.
  *
  * Pattern matched (pattern-targeted, the shape our API emits; a production
  * rule would add cast-stripping and conjunct reordering): an Inner join
  * whose whole condition is `p >= lo AND p <= hi` with `p` a LONG attribute
  * of one side and `lo`, `hi` LONG attributes of the other. Both
  * orientations (intervals left or right) rewrite. The output join has an
  * equality condition, so the rule never re-matches its own result
  * (idempotent under the fixed-point batch).
  *
  * The bucket width is [[graft.events.RangeJoin.BucketSec]], the
  * hand-bucketized operator's. The rule reaches a session only through
  * [[GraftExtensions]], which keeps it on for every query: a rewrite that
  * re-verifies its predicate changes no answer, only the plan. */
object BucketedRangeJoin extends Rule[LogicalPlan] {

  private def attrOf(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference if a.dataType == LongType => Some(a)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner,
        Some(cond @ And(GreaterThanOrEqual(pGe, lo0), LessThanOrEqual(pLe, hi0))), hint)
        if pGe.semanticEquals(pLe) &&
          attrOf(pGe).isDefined && attrOf(lo0).isDefined && attrOf(hi0).isDefined =>
      val p = attrOf(pGe).get
      val lo = attrOf(lo0).get
      val hi = attrOf(hi0).get
      val sides =
        if (left.outputSet.contains(lo) && left.outputSet.contains(hi) &&
          right.outputSet.contains(p)) Some((left, right, false))
        else if (right.outputSet.contains(lo) && right.outputSet.contains(hi) &&
          left.outputSet.contains(p)) Some((right, left, true))
        else None
      sides match {
        case None => j
        case Some((ivSide, ptSide, swapped)) =>
          val b = Literal(graft.events.RangeJoin.BucketSec, LongType)
          // interval side: one output row per covered bucket id. The
          // generator output attribute must mirror Explode's element schema
          // exactly (LONG, non-null) or the Generate stays unresolved.
          // Sequence is TimeZoneAwareExpression: resolved only with a zone
          // set (ResolveTimeZone already ran — the optimizer must fill it)
          val gen0 = Generate(
            Explode(new Sequence(IntegralDivide(lo, b), IntegralDivide(hi, b),
              Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Nil, child = ivSide)
          val bucketIv = AttributeReference("__rj_bucket_iv", LongType,
            nullable = gen0.generator.elementSchema.head.nullable)()
          val gen = gen0.copy(generatorOutput = Seq(bucketIv))
          // point side: its single bucket id
          val bucketPtAlias = Alias(IntegralDivide(p, b), "__rj_bucket_pt")()
          val proj = Project(ptSide.output :+ bucketPtAlias, ptSide)
          val eq = EqualTo(bucketIv, bucketPtAlias.toAttribute)
          val (nl, nr) = if (swapped) (proj, gen) else (gen, proj)
          val bucketJoin = Join(nl, nr, Inner, Some(eq), hint)
          // original containment re-verified, helper columns pruned
          Project(j.output, Filter(cond, bucketJoin))
      }
  }
}
