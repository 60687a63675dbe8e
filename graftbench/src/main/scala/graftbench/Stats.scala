package graftbench

import scala.util.hashing.MurmurHash3

/** The benchmark's arithmetic, kept pure so its tests need no Spark. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  private val TailLadder = Seq(99.9, 99.0, 90.0, 50.0)

  /** The highest percentile of the ladder 99.9/99/90/50 that still has at
    * least ten samples beyond it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => n * (1 - p / 100.0) >= 10 - 1e-9)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Summary of a timing for the readable report: n, median and the tail
    * percentile the ten-beyond rule allows.
    */
  def describe(xs: Seq[Double], unit: String): String =
    if (xs.isEmpty) "n=0"
    else {
      val tail = tailPercentile(xs.length)
        .map(p => f" p${fmtP(p)}=${percentile(xs, p)}%.4f$unit")
        .getOrElse(" (no tail percentile: fewer than 20 samples)")
      f"n=${xs.length} p50=${median(xs)}%.4f$unit$tail"
    }

  private def fmtP(p: Double): String =
    if (p == p.floor) p.toInt.toString else p.toString

  /** Length of the union of the intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time-weighted mean of a level that changes by `delta` at each event
    * time, over [start, end]; the level is 0 before the first event.
    */
  def timeWeightedMean(events: Seq[(Long, Int)], start: Long, end: Long): Double = {
    require(end > start, "empty interval")
    var level = 0
    var t = start
    var area = 0.0
    for ((at, delta) <- events.sortBy(_._1)) {
      val u = math.min(math.max(at, start), end)
      area += level.toDouble * (u - t)
      t = u
      level += delta
    }
    area += level.toDouble * (end - t)
    area / (end - start)
  }

  /** Mean in-flight waves over the queue capacity. */
  def queueFill(events: Seq[(Long, Int)], start: Long, end: Long, maxQueueSize: Int): Double =
    timeWeightedMean(events, start, end) / maxQueueSize

  /** Order-insensitive fingerprint of a result: the row count plus a hash
    * of the sorted per-row hashes (multiplicity counts, order does not).
    */
  def fingerprint(rowHashes: Seq[Long]): String = {
    val sorted = rowHashes.sorted
    var h1 = 0x5bd1e995
    var h2 = 0x27d4eb2f
    for (x <- sorted) {
      h1 = MurmurHash3.mix(h1, (x ^ (x >>> 32)).toInt)
      h2 = MurmurHash3.mix(h2, x.toInt)
    }
    h1 = MurmurHash3.finalizeHash(h1, sorted.length)
    h2 = MurmurHash3.finalizeHash(h2, sorted.length)
    f"${sorted.length}:$h1%08x$h2%08x"
  }
}
