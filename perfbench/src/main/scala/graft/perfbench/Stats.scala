package graft.perfbench

/** Summary statistics the benchmark reports. Pure functions, unit-tested
  * in StatsSpec. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Percentiles the tail metric may report, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[TailLadder]] with at least ten of `n`
    * samples beyond it. Below twenty samples none qualifies and the
    * median stands in for the tail. */
  def tailPercentile(n: Int): Double =
    TailLadder.filter(p => n - rank(n, p) >= 10).lastOption.getOrElse(50.0)

  def tail(xs: Seq[Double]): Double = percentile(xs, tailPercentile(xs.size))

  /** Harmonic-mean TEPS over BFS runs given as (bfs seconds, traversed
    * edges): the Graph500 reference's `harmonic_mean_TEPS`, i.e. one over
    * the mean of time per edge. */
  def hmTeps(runs: Seq[(Double, Double)]): Double =
    if (runs.isEmpty) 0.0 else runs.size / runs.map { case (t, e) => t / e }.sum

  def failedRatio(attempted: Long, failed: Long): Double =
    if (attempted <= 0) 0.0 else failed.toDouble / attempted
}
