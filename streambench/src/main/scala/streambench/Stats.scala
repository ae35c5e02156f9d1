package streambench

import scala.collection.mutable.ArrayBuffer

/** Weighted latency samples in milliseconds: one entry may stand for many
  * messages that became visible at the same instant (all records of one
  * HTTP post, all rows one window update made visible). */
final class Latencies {
  private val ms = ArrayBuffer.empty[Double]
  private val weight = ArrayBuffer.empty[Long]

  def add(latencyMs: Double, n: Long = 1L): Unit =
    if (n > 0) synchronized { ms += latencyMs; weight += n }

  def count: Long = synchronized(weight.sum)

  /** Nearest-rank percentile over the weighted samples; 0 when empty. */
  def percentile(p: Double): Double = synchronized {
    val total = weight.sum
    if (total == 0) 0.0
    else {
      val order = ms.indices.sortBy(ms(_))
      val rank = math.max(1L, math.ceil(p / 100.0 * total).toLong)
      var seen = 0L
      order.find { i => seen += weight(i); seen >= rank }.map(ms(_)).getOrElse(ms(order.last))
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Least-squares slope of `ys` over `xs` (per unit of x). */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double =
    if (xs.size < 2) 0.0
    else {
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }

  /** JSON number: finite doubles with their full precision. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
