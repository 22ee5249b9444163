package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round loop of the converging graph operators
  * ([[graft.webtext.HostRank.rankConverged]],
  * [[graft.textops.Dedup.minLabelPropagation]]). */
object Fixpoint {

  /** Iterates `step` from `init` until the `value` column stops changing, at
    * most `maxRounds` rounds. `step` maps the state to the next one and
    * carries the input value along as a `prev` column; the loop drops `prev`
    * between rounds. Returns the last state and whether it is a fixed point.
    *
    * Round state is a LAZY `localCheckpoint`, never cache()+unpersist():
    * unpersisting round k-1 after materializing round k makes the
    * CacheManager re-register round k with the uncached subtree inlined —
    * 2 GB plan strings in host rank, the whole near-dup candidate pipeline
    * re-executed every round in min-label propagation. A checkpointed round
    * plans as (cached loop invariants) ⋈ LogicalRDD: constant depth, the
    * upstream runs once, and dropped rounds are GC-collectable.
    *
    * The witness `max(abs(value - prev)) == 0` (null on an empty state counts
    * as converged) is an aggregate over the round's own output, and it is
    * the action that materializes the lazy checkpoint chain. A fixed point
    * is invariant under further rounds, so checking only every `every`
    * rounds yields the bit-identical state at one job per block instead of
    * one per round — the per-round jobs are tiny node-grain joins whose cost
    * is scheduling (measured 29 jobs x ~0.3 s at local[32]). The cap is
    * exact: the witness also runs at round `maxRounds`, so an unconverged
    * run executes precisely `maxRounds` rounds.
    *
    * AQE is off while the rounds are planned ([[SessionConf.scoped]]; the
    * lazy checkpoints then execute static plans): with AQE on every
    * per-round exchange is its own query-stage job, ~10 scheduler-bound jobs
    * per round, over uniformly hashed node-grain tables that coalescing and
    * skew handling cannot improve. Static planning runs each block as one
    * multi-stage job. `init` is built by the caller, so corpus-grain work
    * before the loop still runs under AQE. */
  def iterate(init: DataFrame, value: String, every: Int, maxRounds: Int)
             (step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    var state = init
    var converged = false
    var i = 0
    SessionConf.scoped(init.sparkSession, "spark.sql.adaptive.enabled", "false") {
      while (!converged && i < maxRounds) {
        val next = step(state).localCheckpoint(false)
        i += 1
        if (i % every == 0 || i >= maxRounds) {
          val d = next.agg(max(abs(col(value) - col("prev")))).head()
          converged = d.isNullAt(0) || d.getLong(0) == 0L
        }
        state = next.drop("prev")
      }
    }
    (state, converged)
  }
}
