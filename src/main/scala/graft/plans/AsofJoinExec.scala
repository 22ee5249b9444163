package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.LongType

/** The as-of join as a WHOLE-OPERATOR Catalyst extension — custom
  * `LogicalPlan` + `SparkStrategy` + physical `SparkPlan`, whose strategy
  * reaches a session only through [[GraftExtensions]] — the (c) tier of the
  * extension ladder
  * (compose > Expression > LogicalPlan+Strategy+SparkPlan > mapPartitions):
  * [[graft.webtext.AsofJoin]] is the composed (a)-tier plan (union + running
  * last-non-null window), and this node exists because the composed plan
  * pays real costs a first-class operator doesn't:
  *
  *   - the window shuffles and SORTS the UNION of both sides as one stream
  *     (events + snapshots interleaved), then filters the snapshot rows back
  *     out — at 10^12 events the snapshot rows ride the event exchange, the
  *     sort key is (t, is_event) over the combined stream, and every event
  *     row carries two widened null columns through the shuffle;
  *   - this exec shuffles each side with its OWN width (events never carry a
  *     null `version` column, snapshots never carry a null `event_id`),
  *     sorts each side independently (EnsureRequirements inserts the sorts —
  *     they are spillable SortExecs, nothing is hand-buffered), and the merge
  *     itself is a single forward pass holding O(1) state: the current key's
  *     latest (version, t) at-or-before the event in hand. No union
  *     materialization, no post-hoc filter, no null-widening.
  *
  * Semantics (identical to the composed plan, oracle-shared): for each event
  * (k, t), the snapshot of the same k with the LARGEST snap_t <= t,
  * inclusive at equality; events before their key's first snapshot emit
  * version -1 / age_s -1 (table-grain data never vanishes — the repo's
  * error-row rule). Ties between snapshots at equal (k, t) resolve to the
  * highest version (the exec sorts the snapshot side by (k, t, version), so
  * the rule is deterministic — the window variant leaves same-t snapshot
  * order to the sort's whim; the planted fixture has no such ties).
  *
  * Scale shape: one hash exchange per side clustered on k (AQE coalesces
  * both stages consistently, exactly as it does for SortMergeJoin), sorts
  * are per-partition and spillable, the merge is streaming with no
  * buffering (not even per-key groups — only 4 longs of carried state), so
  * a skewed key costs its sort and nothing quadratic. The node does not
  * implement codegen; the break is one virtual-call boundary around a
  * memory-bandwidth-bound merge, the same trade SortMergeJoinExec makes for
  * its outer modes.
  *
  * Contract: snapshot child exposes non-null LONG columns (k, t, version),
  * event child (k, t, event_id); output (event_id, doc_key, version, age_s)
  * all non-null LONG.
  */
case class AsofJoinNode(left: LogicalPlan, right: LogicalPlan,
                        outAttrs: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] = outAttrs
  // outAttrs are PRODUCED here, not consumed — without this they would count
  // as references and CheckAnalysis would flag them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  // ...and every child column IS consumed (k/t/version/event_id resolved by
  // name in the exec): with the default empty references, ColumnPruning
  // under a column-discarding parent (count()) rewrites both children to
  // zero-column Projects and the exec can no longer find its keys
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(planLater(n.left), planLater(n.right), n.outAttrs) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
                        outAttrs: Seq[Attribute]) extends BinaryExecNode {
  override def output: Seq[Attribute] = outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def attrOf(p: SparkPlan, name: String): Attribute =
    p.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"asof child missing column '$name': ${p.output}"))

  // Both sides clustered on k — EnsureRequirements co-partitions them with
  // compatible hash exchanges (the SortMergeJoin contract), so zipPartitions
  // below always sees aligned key spaces.
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(attrOf(left, "k"))),
        ClusteredDistribution(Seq(attrOf(right, "k"))))

  // Snapshot side carries version as the third key so equal-(k,t) snapshots
  // resolve deterministically (highest version wins the running state).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(attrOf(left, "k"), Ascending),
            SortOrder(attrOf(left, "t"), Ascending),
            SortOrder(attrOf(left, "version"), Ascending)),
        Seq(SortOrder(attrOf(right, "k"), Ascending),
            SortOrder(attrOf(right, "t"), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val sk = left.output.indexWhere(_.name == "k")
    val st = left.output.indexWhere(_.name == "t")
    val sv = left.output.indexWhere(_.name == "version")
    val ek = right.output.indexWhere(_.name == "k")
    val et = right.output.indexWhere(_.name == "t")
    val eid = right.output.indexWhere(_.name == "event_id")
    val rowCount = longMetric("numOutputRows")
    left.execute().zipPartitions(right.execute()) { (sIt, eIt) =>
      new Iterator[InternalRow] {
        // field values are extracted the moment a row is read — sorted-side
        // iterators reuse row objects, so nothing row-shaped is retained
        private var sLive = false
        private var sK = 0L; private var sT = 0L; private var sV = 0L
        private def advanceSnap(): Unit =
          if (sIt.hasNext) {
            val r = sIt.next(); sK = r.getLong(sk); sT = r.getLong(st)
            sV = r.getLong(sv); sLive = true
          } else sLive = false
        advanceSnap()
        // O(1) carried state: latest snapshot at-or-before the event in hand
        private var curK = Long.MinValue
        private var matched = false
        private var mV = 0L; private var mT = 0L
        private val out = new GenericInternalRow(4)
        private val proj = UnsafeProjection.create(
          Array[org.apache.spark.sql.types.DataType](LongType, LongType, LongType, LongType))

        override def hasNext: Boolean = eIt.hasNext
        override def next(): InternalRow = {
          val e = eIt.next()
          val k = e.getLong(ek); val t = e.getLong(et); val id = e.getLong(eid)
          if (k != curK) { curK = k; matched = false }
          while (sLive && (sK < k || (sK == k && sT <= t))) {
            if (sK == k) { matched = true; mV = sV; mT = sT }
            advanceSnap()
          }
          out.setLong(0, id)
          out.setLong(1, k)
          out.setLong(2, if (matched) mV else -1L)
          out.setLong(3, if (matched) t - mT else -1L)
          rowCount += 1
          proj(out)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofExec {
  /** As-of join `snaps` (k, t, version) x `events` (k, t, event_id) through
    * the physical operator. Output (event_id, doc_key, version, age_s).
    * Plans only in a session that has [[GraftExtensions]]. */
  def asof(snaps: DataFrame, events: DataFrame): DataFrame = {
    val spark = snaps.sparkSession
    val s = GraftPlanBridge.analyzed(snaps.select("k", "t", "version"))
    val e = GraftPlanBridge.analyzed(events.select("k", "t", "event_id"))
    val out = Seq(
      AttributeReference("event_id", LongType, nullable = false)(),
      AttributeReference("doc_key", LongType, nullable = false)(),
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("age_s", LongType, nullable = false)())
    GraftPlanBridge.ofRows(spark, AsofJoinNode(s, e, out))
  }
}
