package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** A tail percentile together with the sample that supports it. */
  final case class Tail(q: Double, value: Double, n: Int) {
    def label: String = {
      val pct = q * 100
      if (pct == math.rint(pct)) f"p${pct.toInt}" else f"p$pct%.1f"
    }
  }

  private val Candidates = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** Nearest-rank percentile of an ascending array. */
  def percentile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(q * sorted.length).toInt.max(1)
    sorted(rank - 1)
  }

  def median(xs: Iterable[Double]): Double =
    percentile(xs.toArray.sorted, 0.5)

  /** Samples strictly above the nearest-rank q-percentile position. */
  private def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt.max(1)

  /** The highest percentile that has at least ten samples beyond it; the
    * median when the sample is smaller than that allows. */
  def tail(xs: Iterable[Double]): Tail = {
    val sorted = xs.toArray.sorted
    val q = Candidates.find(beyond(sorted.length, _) >= 10).getOrElse(0.5)
    Tail(q, percentile(sorted, q), sorted.length)
  }

  /** `percentile`, or 0 for an empty sample (per-layer counters only). */
  def pOrZero(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.toArray.sorted, q)
}
