package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == (2.75, 8.25))
    // quantiles([1, 2, 3, 4], n=4) == [1.25, 2.5, 3.75]
    assert(Stats.quartiles(Seq(4.0, 2.0, 1.0, 3.0)) == (1.25, 3.75))
    // quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]: extrapolated at the ends
    assert(Stats.quartiles(Seq(1.0, 2.0)) == (0.75, 2.25))
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 20).map(_.toDouble)
    // ten samples (11..20) lie beyond the 10th smallest, the p50
    assert(Stats.tail(xs) == (10.0, 50.0))
    assert(Stats.tail((1 to 100).map(_.toDouble).reverse) == (90.0, 90.0))
    // eleven samples: only the minimum has ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)) == (1.0, 100.0 / 11))
    // ten or fewer: no such percentile, the maximum is reported at p100
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == (9.0, 100.0))
  }

  test("covered length merges overlapping and touching intervals") {
    import Stats.Interval
    assert(Stats.covered(Nil) == 0L)
    assert(Stats.covered(Seq(Interval(0, 10), Interval(5, 15), Interval(15, 20))) == 20L)
    assert(Stats.covered(Seq(Interval(30, 40), Interval(0, 10))) == 20L)
    assert(Stats.covered(Seq(Interval(5, 5), Interval(8, 3))) == 0L)
  }

  test("self time subtracts the part of the span its children cover") {
    import Stats.Interval
    val parent = Interval(0, 100)
    // [10,40] overlaps itself; [90,120] sticks out and counts only to 100
    assert(Stats.selfTime(parent, Seq(Interval(10, 30), Interval(20, 40), Interval(90, 120))) == 60L)
    assert(Stats.selfTime(parent, Nil) == 100L)
    assert(Stats.selfTime(parent, Seq(Interval(-5, 200))) == 0L)
    assert(Stats.selfTime(parent, Seq(Interval(150, 200))) == 100L)
  }

  test("stolen share is steal over busy plus steal; idle and iowait do not count") {
    // /proc/stat order: user nice system idle iowait irq softirq steal guest guest_nice
    val a = Array(100L, 0L, 50L, 1000L, 10L, 0L, 0L, 0L, 0L, 0L)
    val b = Array(160L, 0L, 70L, 1900L, 30L, 5L, 5L, 10L, 0L, 0L)
    // busy 60 + 20 + 5 + 5 = 90, steal 10
    assert(Host.stolenShare(a, b) == 0.1)
    assert(Host.stolenShare(a, a) == 0.0)
    // an idle machine has nothing to steal from
    assert(Host.stolenShare(a, a.updated(3, 2000L)) == 0.0)
  }
}
