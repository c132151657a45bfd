package graft.perfbench

/** Order statistics used by every reported latency. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The tail latency: the value at the highest whole percentile p that
    * still has at least `beyond` samples strictly above its nearest rank
    * (rank ⌈p·n/100⌉). Returns (p, value); p is 0 and the value the
    * median when there are too few samples for any percentile. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    (99 to 1 by -1).iterator
      .map(p => p -> math.ceil(p * n / 100.0).toInt)
      .find { case (_, rank) => rank >= 1 && n - rank >= beyond }
      .map { case (p, rank) => p -> s(rank - 1) }
      .getOrElse(0 -> median(xs))
  }
}
