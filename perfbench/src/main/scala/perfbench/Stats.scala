package perfbench

/** The benchmark's arithmetic, kept free of Spark so it is unit-tested on
  * its own. Times are milliseconds on one clock unless a name says
  * otherwise. */
object Stats {

  /** A percentile together with the number of samples it rests on. */
  final case class Pct(value: Double, samples: Int)

  /** Percentile `p` (0-100) with linear interpolation between closest
    * ranks — the same definition as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside 0-100")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    Pct(s(lo) + (h - lo) * (s(hi) - s(lo)), s.length)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50).value

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Length of the union of `[start, end]` intervals (overlaps counted
    * once; empty or inverted intervals contribute nothing). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curEnd.isNaN || s > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** The part of `[start, end]` that none of `covers` overlaps. A span's
    * self time is this with its child spans as `covers`; an operation's
    * driver gap is this with its Spark jobs as `covers`. Covers are
    * clipped to the interval first, so a child or job that runs past
    * its parent's end is only counted inside it. */
  def uncovered(start: Double, end: Double, covers: Seq[(Double, Double)]): Double = {
    val clipped = covers.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Bytes stored on disk for each byte of user data the workload
    * wrote. */
  def bytesPerUserByte(storedBytes: Long, userBytes: Long): Double = {
    require(userBytes > 0, "no user bytes written")
    storedBytes.toDouble / userBytes
  }

  /** `n` sizes in `[lo, hi]`, one drawn uniformly inside each of `n`
    * equal strata and returned in seeded order: each seed gets different
    * sizes, but their total spreads `n` times less than `n` independent
    * draws would (never more than `(hi - lo) / 2` from `n * (lo + hi) / 2`),
    * so the work in a run does not swing with the seed. */
  def stratified(rng: scala.util.Random, n: Int, lo: Int, hi: Int): Seq[Int] = {
    val width = (hi - lo).toDouble / n
    rng.shuffle((0 until n).map(i => lo + ((i + rng.nextDouble()) * width).toInt))
  }
}
