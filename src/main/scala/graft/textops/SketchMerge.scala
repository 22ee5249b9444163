package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.TimeCols
import graft.expr.HllSketchAgg

/** Cumulative daily distinct via HLL register MERGE — the property that
  * makes sketches the scale answer: a day's 64-register sketch unions with
  * yesterday's by register-wise max, so a running "distinct users to date"
  * needs per-(type, register) state, never a rescan of history. This is the
  * batch twin of re-merging per-partition sketches on a 1000-executor
  * cluster: the register table IS the serialized sketch, exposed relationally
  * so the merge is a plain windowed max (reference scope: PagePlus has no
  * sketch ops — beyond-reference engine surface, same splitmix64/alpha
  * constants as [[graft.expr.HllSketchAgg]]).
  *
  * Scale shape: hashing is map-side; the only corpus-sized shuffle is the
  * partial-aggregated groupBy down to (type, day, 64) register grain (and
  * the exact-count ride-along's (type, v) grain, the eval ground truth).
  * Everything after runs on sketch-grain tables: the register step function
  * is differenced per (type, idx) so each day's estimate is a windowed SUM of
  * increase deltas — O(types × days × 64) state, no quadratic day re-merge.
  */
object SketchMerge {

  private val RestBits = 58 // 64 - p, p = 6 → m = 64 registers
  private val M = 64

  /** (event_type, day, v) value stream — the (user, day) co-activity grain
    * shared with `hll_distinct`, day derived TZ-free. */
  private def dayVals(events: DataFrame): DataFrame = events
    .select(col("event_type"), col("user_id"),
      TimeCols.ntzEpochSeconds(col("ts")).as("es"))
    .select(col("event_type"), expr("es div 86400L").as("day"),
      expr("user_id * 1024L + (es div 86400L)").as("v"))

  /** Per-(type, day, register) maxima — each day's serialized sketch as
    * relational rows (JVM splitmix64: mod-2^64 wrap, identical to the
    * HllSketchAgg update path and the oracle's HUGEINT chain). The only
    * corpus-sized shuffle in every consumer: a partial-aggregated groupBy
    * down to (type, day, 64) grain. */
  private def registerMaxima(vals: DataFrame): DataFrame = {
    // the hash runs as codegen kernels (graft.expr.Kernel), inside the
    // WholeStageCodegen span (guide §4), calling the same static JVM helpers
    // as HllSketchAgg, so the arithmetic is the identical bytecode
    val h = graft.expr.Kernel.Splitmix64(col("v"))
    vals.select(col("event_type"), col("day"),
        shiftrightunsigned(h, RestBits).cast("int").as("idx"),
        graft.expr.Kernel.HllRho(RestBits)(h).as("rho"))
      .groupBy("event_type", "day", "idx").agg(max("rho").as("rho"))
  }

  /** BigInt raw estimator over a (event_type, day, z2) sketch-grain table —
    * exactly HllSketchAgg.eval's integer arithmetic. */
  private def estimate(z2Tab: DataFrame, outCol: String): DataFrame = {
    val spark = z2Tab.sparkSession
    import spark.implicits._
    z2Tab.as[(String, Long, java.math.BigDecimal)]
      .map { case (t, day, z2d) =>
        val z2 = BigInt(z2d.toBigInteger)
        val num = BigInt(HllSketchAgg.AlphaNum) * M * M * (BigInt(1) << (RestBits + 1))
        (t, day, (num / (BigInt(HllSketchAgg.AlphaDen) * z2)).toLong)
      }
      .toDF("event_type", "day", outCol)
  }

  /** (event_type, day, cum_distinct_est, cum_distinct_exact, err_bp) for each
    * day the type had events: the HLL estimate over ALL events with day' <=
    * day, computed by register merge, with the exact cumulative distinct as
    * ride-along ground truth. Integer-exact end to end. */
  def cumulativeDailyDistinct(events: DataFrame): DataFrame = {
    val vals = dayVals(events)
    val regs = registerMaxima(vals)

    // a register only ever increases: keep the first day each (type, idx)
    // reached each rho level, then difference the resulting step function
    val firstDay = regs.groupBy("event_type", "idx", "rho")
      .agg(min("day").as("day"))
    val wReg = Window.partitionBy("event_type", "idx").orderBy("day", "rho")
      .rowsBetween(Window.unboundedPreceding, -1)
    val increases = firstDay
      .withColumn("prev_rho", coalesce(max("rho").over(wReg), lit(0)))
      .filter(col("rho") > col("prev_rho"))
      .select(col("event_type"), col("day"),
        expr(s"CAST(shiftleft(1L, ${RestBits + 1} - rho)" +
          s" - shiftleft(1L, ${RestBits + 1} - prev_rho) AS DECIMAL(38,0))").as("dz2"))

    // z2(day) = m * 2^(restBits+1) + cumulative sum of increase deltas;
    // estimate = alpha * m^2 * 2^(restBits+1) div (alphaDen * z2), evaluated
    // in BigInt exactly like HllSketchAgg.eval (rows here are sketch-grain)
    // r6: the active (type, day) grid comes from sketch-grain `regs` (every
    // (type, day) with >= 1 event contributes >= 1 register row, so the sets
    // are identical) instead of a third corpus-grain scan+distinct of `vals`;
    // the regs groupBy exchange is shared with firstDay via ReuseExchange.
    val grid = regs.select("event_type", "day").distinct()
    val perDay = increases.groupBy("event_type", "day")
      .agg(sum("dz2").as("dz2"))
    val wDay = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val approx = estimate(
      grid.join(perDay, Seq("event_type", "day"), "left")
        .withColumn("dz2", coalesce(col("dz2"), lit(0).cast("decimal(38,0)")))
        .select(col("event_type"), col("day"),
          (sum("dz2").over(wDay) +
            lit((BigInt(M) << (RestBits + 1)).toString).cast("decimal(38,0)")).as("z2")),
      "cum_distinct_est")

    // exact ride-along: first day each distinct v appears, cumulative count
    val exact = vals.groupBy("event_type", "v").agg(min("day").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("nnew"))
    val exactCum = grid.join(exact, Seq("event_type", "day"), "left")
      .withColumn("nnew", coalesce(col("nnew"), lit(0L)))
      .withColumn("cum_distinct_exact", sum("nnew").over(wDay))
      .select("event_type", "day", "cum_distinct_exact")

    approx.join(exactCum, Seq("event_type", "day"))
      .withColumn("err_bp",
        expr("abs(cum_distinct_est - cum_distinct_exact) * 10000L div cum_distinct_exact"))
  }

  /** (event_type, day, win_distinct_est, win_distinct_exact, err_bp): the HLL
    * estimate over the TRAILING `windowDays`-day window ending at each active
    * day — the rolling-retention / trending-distinct twin of
    * [[cumulativeDailyDistinct]]. The merge here forgets: a register is the
    * max over updates inside the window only, so it is a value-RANGE window
    * max per (type, idx) over the day axis (gaps handled by rangeBetween's
    * value semantics — an absent day contributes nothing, exactly as an
    * empty sketch would).
    *
    * Scale shape: same single corpus-sized partial agg to (type, day, idx)
    * grain; the range window, grid completion and estimator all run at
    * O(types × days × 64) sketch grain. The exact ride-along is audit-only
    * (windowed exact distinct cannot be differenced — it is not monotone):
    * a broadcast of the tiny active-day grid fans each distinct (type, v,
    * day) row to ≤ windowDays grid days — documented eval cost, not the
    * production path. */
  def slidingDailyDistinct(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val vals = dayVals(events)
    val regs = registerMaxima(vals)
    // r6: grid from sketch-grain regs, not a second corpus scan (see
    // cumulativeDailyDistinct) — identical (type, day) set.
    val grid = regs.select("event_type", "day").distinct()

    // full (type, active day, 64) register grid; registers with no update in
    // the trailing window stay 0 (the empty-sketch value)
    val idxs = grid.sparkSession.range(M).select(col("id").cast("int").as("idx"))
    val wWin = Window.partitionBy("event_type", "idx").orderBy("day")
      .rangeBetween(1L - windowDays, 0L)
    val winRegs = grid.crossJoin(broadcast(idxs))
      .join(regs, Seq("event_type", "day", "idx"), "left")
      .withColumn("rho", coalesce(col("rho"), lit(0)))
      .withColumn("win_rho", max("rho").over(wWin))
    val z2 = winRegs.groupBy("event_type", "day")
      .agg(sum(expr(s"CAST(shiftleft(1L, ${RestBits + 1} - win_rho) AS DECIMAL(38,0))"))
        .as("z2"))
      .select("event_type", "day", "z2")
    val approx = estimate(z2, "win_distinct_est")

    // exact audit: distinct (type, v, day) fanned to the ≤ windowDays grid
    // days it falls inside (grid is tiny → broadcast; no corpus-grain range
    // explosion)
    val exact = vals.distinct().as("x")
      .join(broadcast(grid.as("g")),
        col("x.event_type") === col("g.event_type") &&
          col("x.day") <= col("g.day") &&
          col("x.day") > col("g.day") - windowDays)
      .groupBy(col("g.event_type").as("event_type"), col("g.day").as("day"))
      .agg(count_distinct(col("x.v")).as("win_distinct_exact"))

    approx.join(exact, Seq("event_type", "day"))
      .withColumn("err_bp",
        expr("abs(win_distinct_est - win_distinct_exact) * 10000L div win_distinct_exact"))
  }
}
