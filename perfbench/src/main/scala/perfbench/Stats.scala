package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** First and third quartile by the "exclusive" method (Python's
    * `statistics.quantiles(xs, n=4)`), so the numbers here match the ones a
    * reader recomputes from the printed samples. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val n = s.size
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * (n + 1) / 4, 1), n - 1)
      val delta = i * (n + 1) - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(3))
  }

  /** The highest percentile with at least ten samples above it: the
    * (n-10)-th smallest of n samples, at percentile 100*(n-10)/n. With ten
    * or fewer samples no such percentile exists and the maximum is returned
    * at percentile 100. Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** A half-open time interval [start, end) in nanoseconds. */
  final case class Interval(start: Long, end: Long) {
    def length: Long = math.max(0L, end - start)
  }

  /** Total length covered by the union of `xs`. */
  def covered(xs: Seq[Interval]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(_.length > 0).sortBy(_.start).foreach { i =>
      if (i.start > curE) {
        total += math.max(0L, curE - curS)
        curS = i.start
        curE = i.end
      } else curE = math.max(curE, i.end)
    }
    total + math.max(0L, curE - curS)
  }

  /** Self time of a span: its duration minus the part of its interval that
    * its children cover (children may overlap each other or stick out). */
  def selfTime(parent: Interval, children: Seq[Interval]): Long =
    parent.length - covered(children.map(c =>
      Interval(math.max(c.start, parent.start), math.min(c.end, parent.end))))
}
