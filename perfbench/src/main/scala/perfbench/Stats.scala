package perfbench

/** Timing summaries under one reporting rule: the median, plus the highest
  * percentile that still has at least ten samples beyond it, with the sample
  * count. A percentile with fewer than ten samples beyond it is one outlier
  * away from a different number, so it is never reported. */
object Stats {

  val MinBeyond = 10

  /** Percentiles tried, highest first, when looking for the top one. */
  val Ladder: Seq[Double] = Seq(99.99, 99.9, 99.0, 90.0, 75.0, 50.0)

  /** True when `n` samples leave at least [[MinBeyond]] beyond `p`. */
  def supports(n: Long, p: Double): Boolean =
    n * (100.0 - p) / 100.0 >= MinBeyond - 1e-9

  /** Nearest-rank percentile of sorted samples. */
  def percentile(sorted: Array[Long], p: Double): Long = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length - 1, math.max(0, rank - 1)))
  }

  /** `n`, median, and the highest supported percentile of the ladder
    * (`topP` = 0 when even the median lacks ten samples beyond it). */
  final case class Summary(n: Int, p50: Long, topP: Double, top: Long) {
    /** The value at `p` when the sample supports it. */
    def at(sorted: Array[Long], p: Double): Option[Long] =
      if (supports(n, p)) Some(percentile(sorted, p)) else None
  }

  def summary(sorted: Array[Long]): Summary =
    if (sorted.isEmpty) Summary(0, 0L, 0.0, 0L)
    else {
      val topP = Ladder.find(supports(sorted.length, _)).getOrElse(0.0)
      Summary(sorted.length, percentile(sorted, 50.0), topP,
        if (topP > 0) percentile(sorted, topP) else 0L)
    }

  /** Median of doubles (mean of the middle two for even counts). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Append-only primitive sample buffer: latencies of one phase, sorted once
  * at the end. Not thread-safe; each recording thread owns its own. */
final class Samples(initial: Int = 1 << 16) {
  private var buf = new Array[Long](initial)
  private var n = 0
  def add(x: Long): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = x
    n += 1
  }
  def size: Int = n
  def sorted: Array[Long] = {
    val a = java.util.Arrays.copyOf(buf, n)
    java.util.Arrays.sort(a)
    a
  }
}
