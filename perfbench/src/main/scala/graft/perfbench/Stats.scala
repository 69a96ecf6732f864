package graft.perfbench

/** The statistics and orderings the benchmark reports, kept free of Spark so
  * the harness tests can pin them. */
object Stats {

  /** The query order of one pass: a shuffle seeded by the workload seed and
    * the pass index, so each pass of a run has its own order and the same
    * seed replays the same sequence of orders. */
  def passOrder[A](items: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles the tail is reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail latency: the highest ladder percentile that has at least ten
    * samples above it, as (percentile, value). The value is the
    * nearest-rank sample, so exactly `n - rank` samples lie beyond it.
    * With fewer than 20 samples even the median lacks ten samples beyond
    * it, and the maximum is reported as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    TailLadder.iterator
      .map(p => p -> math.ceil(p / 100.0 * n).toInt)
      .collectFirst { case (p, rank) if rank >= 1 && n - rank >= 10 => p -> s(rank - 1) }
      .getOrElse(100.0 -> s.last)
  }
}

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
}

object Span {

  /** Length of the union of the intervals, each clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Overlapping children count once. */
  def selfTimeMs(parent: Span, children: Seq[Span]): Double =
    parent.durationMs - covered(parent.startMs, parent.endMs,
      children.map(c => (c.startMs, c.endMs)))
}
