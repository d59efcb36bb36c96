package graft.flowbench

import java.util.Locale

/** The benchmark's statistics rules, kept pure so they are unit-tested.
  *
  * Percentiles are nearest-rank over the sorted samples. A missing sample
  * (a lost datagram) is `Double.PositiveInfinity`, so it sorts last and
  * counts as missing any latency limit.
  */
object Stats {

  /** Percentiles the tail rule may pick, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. NaN on an empty input.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of the `p`th percentile among `n` samples; the
    * epsilon keeps float error in `p / 100 * n` (99.9% of 10000 is
    * 9990.000000000002) from bumping an exact rank up by one.
    */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly beyond the nearest-rank `p`th percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - rank(n, p)

  /** The highest candidate percentile with at least [[MinBeyond]] samples
    * beyond it, so the tail is backed by that many observations; None when
    * even the median has fewer.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= MinBeyond)

  /** Number text for machine-read output: locale-independent, full
    * precision, and `null` for the non-finite values JSON cannot carry.
    */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  /** Human-readable fixed-point text, never locale-dependent. */
  def fixed(x: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(x))
}
