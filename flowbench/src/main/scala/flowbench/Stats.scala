package flowbench

/** Latency summaries: the median and the tail, where the tail is the
  * highest percentile of a fixed ladder that still has at least ten
  * samples beyond it. */
object Stats {

  val Ladder: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0,
    75.0, 67.0, 50.0)

  final case class Summary(n: Int, p50: Double, tailPct: Double,
                           tail: Double, beyond: Int)

  /** Nearest-rank value at percentile `p` of ascending `sorted`. */
  def at(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1))

  private def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  def summarize(samples: Iterable[Double]): Summary = {
    val s = samples.toIndexedSeq.sorted
    require(s.nonEmpty, "no latency samples")
    val p = Ladder.find(beyond(s.size, _) >= 10).getOrElse(50.0)
    Summary(s.size, at(s, 50.0), p, at(s, p), beyond(s.size, p))
  }

  def median(xs: Seq[Double]): Double = at(xs.toIndexedSeq.sorted, 50.0)
}
