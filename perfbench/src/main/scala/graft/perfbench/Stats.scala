package graft.perfbench

/** Pure measurement helpers: order statistics, spans' self time,
  * backlog over time and its slope. */
object Stats {

  /** Quantile by the (n+1)p rule — Python's `statistics.quantiles`
    * "exclusive" method — with the position clamped to the sample, so
    * it never extrapolates past the smallest or largest value. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val h = math.min(math.max(p * (s.length + 1), 1.0), s.length.toDouble)
    val j = h.toInt
    if (j >= s.length) s.last
    else s(j - 1) + (h - j) * (s(j) - s(j - 1))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)

  /** First and third quartile exactly as `statistics.quantiles(xs, n=4)`
    * computes them (which extrapolates on samples of 2 or 3). */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val d = xs.sorted.toIndexedSeq
    val m = d.length + 1
    def at(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), d.length - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (at(1), at(3))
  }

  /** Interquartile range as a share of the median. */
  def iqrShare(xs: Seq[Double]): Double = {
    val (q1, q3) = quartiles(xs)
    (q3 - q1) / median(xs)
  }

  /** One recorded span: a named interval, the span that caused it (-1 for
    * none) and the operation it belongs to. Times are nanoseconds. */
  final case class Span(id: Int, name: String, parent: Int, op: String,
      startNs: Long, endNs: Long) {
    def durationNs: Long = endNs - startNs
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. Children may overlap each other or stick
    * out of the parent; only the union of their clipped intervals counts. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durationNs - covered)
    }.toMap
  }

  /** Messages published but not yet acknowledged at each time in `at`.
    * `acks` holds the ack time of each acknowledged message; a message
    * counts from its publish time until its ack. */
  def backlog(publishes: Seq[Double], acks: Seq[Double],
      at: Seq[Double]): Seq[Double] = {
    val p = publishes.sorted.toArray
    val a = acks.sorted.toArray
    def countLe(xs: Array[Double], t: Double): Int = {
      var lo = 0; var hi = xs.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (xs(mid) <= t) lo = mid + 1 else hi = mid }
      lo
    }
    at.map(t => (countLe(p, t) - countLe(a, t)).toDouble)
  }

  /** Least-squares slope of y over x (0 when x does not vary). */
  def slope(points: Seq[(Double, Double)]): Double = {
    val n = points.length.toDouble
    if (n < 2) return 0.0
    val mx = points.map(_._1).sum / n
    val my = points.map(_._2).sum / n
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0
    else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Latency of each message from the time it was due to be published to
    * its ack. Measuring from the due time, not the publish time, keeps
    * the wait a stalled consumer (or a late generator) imposes on every
    * later message. */
  def latencies(due: Seq[Double], ack: Seq[Double]): Seq[Double] =
    due.zip(ack).map { case (d, a) => a - d }
}
