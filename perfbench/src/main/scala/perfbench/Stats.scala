package perfbench

/** Order statistics and interval arithmetic shared by every workload. */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of an already sorted array. */
  def pct(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of an empty sample")
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Interquartile mean: the mean of the middle half of the sample, after
    * dropping the lowest and the highest quarter (n / 4 values each). */
  def iqm(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "interquartile mean of an empty sample")
    val mid = s.slice(s.length / 4, s.length - s.length / 4)
    mid.sum / mid.length
  }

  /** Length of the union of closed intervals [start, end]. */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Least-squares slope of y over x (0 when x does not vary). */
  def slope(points: Seq[(Double, Double)]): Double = {
    if (points.size < 2) return 0.0
    val mx = points.map(_._1).sum / points.size
    val my = points.map(_._2).sum / points.size
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0.0) 0.0 else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
