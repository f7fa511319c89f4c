package graft.perfbench

/** Summary statistics for latency samples. */
object Stats {

  /** Percentiles a timing may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** Nearest-rank percentile of `xs` (p in (0, 100]); NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.length).toInt
      s(math.min(math.max(rank, 1), s.length) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest percentile on [[Ladder]] that leaves at least ten samples
    * above it: a tail figure is only reported when enough samples back it.
    * None when fewer than twenty samples exist (not even the median has ten
    * beyond it).
    */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9).lastOption

  /** Ops per second inside a closed-loop window ending at `deadlineNs`. An
    * op still running at the deadline counts for the share of it done by
    * then: the tail after the window, where clients stop one by one, would
    * otherwise dilute the rate by however long the last ops happened to run.
    */
  def rate(ops: Seq[(Long, Long)], deadlineNs: Long, seconds: Double): Double =
    ops.map { case (s, e) =>
      if (e <= deadlineNs) 1.0
      else if (s >= deadlineNs) 0.0
      else (deadlineNs - s).toDouble / (e - s)
    }.sum / seconds

  /** Median and the tail percentile of one timing series, with its count. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("n" -> xs.length, "p50" -> median(xs))
    tailPercentile(xs.length) match {
      case Some(p) if p > 50.0 =>
        base + ("tail_p" -> p) + ("tail" -> percentile(xs, p))
      case _ => base
    }
  }
}
