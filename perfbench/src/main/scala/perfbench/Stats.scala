package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least a
    * share `p` of the samples are at or below it. `p` is in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile share $p outside (0, 1]")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** True when `n` samples leave at least ten beyond percentile `p`, the
    * rule for reporting that percentile at all. */
  def supports(n: Int, p: Double): Boolean = n * (1 - p) >= 10 - 1e-9

  /** Least-squares slope of `ys` against `xs`. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.size == ys.size && xs.distinct.size > 1, "slope needs two distinct x values")
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.map(x => (x - mx) * (x - mx)).sum
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Event-to-dashboard freshness from what the dashboard showed.
  *
  * A stream's valid events become visible in the order they were
  * published, so a refresh whose `status` count reads `c` shows the first
  * `c` of them. Each event's freshness is the end of the first refresh
  * that shows it minus the event's creation stamp. */
object Freshness {

  /** One dashboard refresh: when it ended and how many of the stream's
    * generated rows its status counts showed. */
  final case class Seen(endMs: Double, visible: Long)

  /** Freshness in ms of every event some refresh showed, in event order.
    * `stampsMs` are the creation stamps of the stream's valid events in
    * publication order; `refreshes` are in the order they ran. Events no
    * refresh showed are left out. */
  def match1(stampsMs: IndexedSeq[Double], refreshes: Seq[Seen]): IndexedSeq[Double] = {
    val out = IndexedSeq.newBuilder[Double]
    var next = 0 // first event not yet shown
    refreshes.foreach { r =>
      val upTo = math.min(r.visible, stampsMs.size.toLong).toInt
      while (next < upTo) {
        out += r.endMs - stampsMs(next)
        next += 1
      }
    }
    out.result()
  }

  /** [[match1]] for the events stamped at or after `fromMs` only. */
  def since(fromMs: Double, stampsMs: IndexedSeq[Double], refreshes: Seq[Seen]): IndexedSeq[Double] =
    match1(stampsMs, refreshes).zip(stampsMs).collect { case (f, due) if due >= fromMs => f }
}
