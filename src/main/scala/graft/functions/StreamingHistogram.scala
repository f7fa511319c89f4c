package graft.functions

/** Ben-Haim/Tom-Yossef streaming histogram ("A Streaming Parallel Decision
  * Tree Algorithm", JMLR 2010) — the sketch GeoTrellis `StreamingHistogram`
  * implements and the reference uses for quantile color breaks
  * (`Gddp.scala:230-232`). Re-implemented from the paper: mergeable,
  * bounded-size state. [[graft.functions.HistogramBreaks]] runs it as a
  * native aggregate (partial+final like any built-in one).
  */
object StreamingHistogram {

  /** Sorted (centroid, count) bins, at most `maxBins` after compress(). */
  case class Hist(bins: Vector[(Double, Long)], maxBins: Int) {
    def add(v: Double): Hist = insert((v, 1L))

    def merge(other: Hist): Hist = {
      val merged = (bins ++ other.bins).sortBy(_._1)
      Hist(compress(merged, maxBins), maxBins)
    }

    private def insert(b: (Double, Long)): Hist = {
      val i = bins.indexWhere(_._1 >= b._1)
      val withB =
        if (i < 0) bins :+ b
        else if (bins(i)._1 == b._1) bins.updated(i, (bins(i)._1, bins(i)._2 + b._2))
        else (bins.take(i) :+ b) ++ bins.drop(i)
      Hist(compress(withB, maxBins), maxBins)
    }

    private def compress(sorted: Vector[(Double, Long)], cap: Int): Vector[(Double, Long)] = {
      var v = sorted
      while (v.length > cap) {
        // merge the two closest adjacent centroids (paper's update step)
        var bestI = 0; var bestGap = Double.MaxValue
        var i = 0
        while (i < v.length - 1) {
          val gap = v(i + 1)._1 - v(i)._1
          if (gap < bestGap) { bestGap = gap; bestI = i }
          i += 1
        }
        val (c1, n1) = v(bestI); val (c2, n2) = v(bestI + 1)
        val m = (c1 * n1 + c2 * n2) / (n1 + n2)
        v = (v.take(bestI) :+ ((m, n1 + n2))) ++ v.drop(bestI + 2)
      }
      v
    }

    def totalCount: Long = bins.map(_._2).sum

    /** Approximate quantile via cumulative linear interpolation between
      * centroids (the paper's `uniform` procedure simplified to linear
      * within-gap interpolation).
      */
    def quantile(q: Double): Double = {
      if (bins.isEmpty) return Double.NaN
      val t = q * totalCount
      var cum = 0.0
      var i = 0
      while (i < bins.length) {
        val half = bins(i)._2 / 2.0
        if (cum + half >= t) {
          if (i == 0) return bins(0)._1
          val prevHalf = bins(i - 1)._2 / 2.0
          val span = bins(i)._2 / 2.0 + prevHalf
          val frac = if (span == 0) 0.0 else (t - (cum - prevHalf)) / span
          return bins(i - 1)._1 + (bins(i)._1 - bins(i - 1)._1) * math.min(1.0, math.max(0.0, frac))
        }
        cum += bins(i)._2
        i += 1
      }
      bins.last._1
    }

    def quantileBreaks(n: Int): Seq[Double] =
      (1 until n).map(i => quantile(i.toDouble / n))
  }
}
