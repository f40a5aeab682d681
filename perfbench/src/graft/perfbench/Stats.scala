package graft.perfbench

import scala.util.hashing.MurmurHash3

/** A reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run reports: the check verdict, operations attempted
  * and failed, the metrics, and raw JSON facts printed on an info line.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric], info: Seq[(String, String)])

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** least-squares fit y = a + b x; (a, b). Degenerate x gives (mean y, 0). */
  def linearFit(xs: Seq[Double], ys: Seq[Double]): (Double, Double) = {
    val n = xs.length.toDouble
    val mx = xs.sum / n
    val my = ys.sum / n
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) (my, 0.0)
    else {
      val b = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
      (my - b * mx, b)
    }
  }

  /** order-insensitive 64-bit digest of a string collection */
  def setHash(xs: Iterable[String]): Long =
    xs.foldLeft(0L)((acc, s) => acc + graft.fixtures.Fixtures.mix(
      MurmurHash3.stringHash(s, 1).toLong, MurmurHash3.stringHash(s, 2).toLong))

  /** a number as JSON (finite only) */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
