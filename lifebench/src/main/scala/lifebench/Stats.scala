package lifebench

/** Summary arithmetic shared by the workloads and checked by the
  * benchmark's self-tests. */
object Stats {

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n).toInt

  /** Nearest-rank `p`-th percentile, reported only when at least ten
    * samples lie beyond it (a tail figure resting on fewer samples is
    * noise, not a measurement). */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.length
    if (n == 0 || beyond(n, p) < 10) None
    else Some(xs.sorted.apply(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
  }

  /** Fewest samples for which [[percentile]] reports `p`. */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= 10).get

  /** Nearest-rank `p`-th percentile of several groups pooled with equal
    * weight per group (a sample of a group of n weighs 1/n), so each group
    * counts the same whatever its size; reported only when at least ten
    * samples lie beyond it. With one group this is [[percentile]]. */
  def pooledPercentile(groups: Seq[Seq[Double]], p: Double): Option[Double] = {
    val gs = groups.filter(_.nonEmpty)
    val pts = gs.flatMap(g => g.map(x => (x, 1.0 / g.length))).sortBy(_._1)
    val target = p / 100.0 * gs.length
    var cum = 0.0
    val i = pts.indexWhere { case (_, w) => cum += w; cum >= target - 1e-9 }
    if (i < 0 || pts.length - 1 - i < 10) None else Some(pts(i)._1)
  }

  /** `k` distinct elements of `xs` (all of them if fewer), drawn by a
    * seeded partial shuffle. */
  def sample[T](xs: Seq[T], k: Int, rnd: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    val m = math.min(k, a.length)
    (0 until m).foreach { i =>
      val j = i + rnd.nextInt(a.length - i)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.take(m).toSeq.map(_.asInstanceOf[T])
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Intervals clipped to a window; empty clips dropped. */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
}
