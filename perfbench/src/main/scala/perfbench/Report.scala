package perfbench

import scala.collection.mutable

import org.apache.commons.math3.special.Beta

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of quantile `q`: a Beta-weighted mean of all
    * order statistics. On a mix of request kinds, whose latencies form
    * several clusters, it reads far steadier from run to run than the one
    * order statistic `quantile` picks. */
  def hd(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    val a = q * (n + 1)
    val b = (1 - q) * (n + 1)
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y against x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val mx = mean(pts.map(_._1)); val my = mean(pts.map(_._2))
    val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (den == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
  }
}

/** Per-run bookkeeping: attempted and failed operations, named metrics and
  * the first 50 failure messages. A failed operation records no latency. */
final class Outcome {
  private val metricsBuf = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L
  private var failedN = 0L
  private var mismatchN = 0L

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def correct: Boolean = synchronized(mismatchN == 0 && failedN == 0)

  def attempt(): Unit = synchronized { attemptedN += 1 }
  def fail(what: String): Unit = synchronized {
    failedN += 1
    if (errors.size < 50) errors += what
  }
  /** A check that runs after the timed window found a wrong answer. */
  def mismatch(what: String): Unit = synchronized {
    mismatchN += 1
    if (errors.size < 50) errors += s"mismatch: $what"
  }
  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metricsBuf(name) = (value, unit)
  }
  def errorLines: Seq[String] = synchronized(errors.toList)

  def json: String = synchronized {
    val ms = metricsBuf.map { case (n, (v, u)) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attemptedN,"failed":${failedN + mismatchN},"metrics":{$ms}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric value $v is not a number") else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
