package graft.perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    require(pts.size >= 2, "a slope needs two points")
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    pts.map { case (x, y) => (x - mx) * (y - my) }.sum / pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** What one run hands back to run.py: the contract metrics (end-to-end
  * and per-layer), the workload-specific detail metrics printed as a report,
  * and the correctness tally.
  */
final class Result {
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val hostInfo = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  var invalid: Option[String] = None

  def endToEnd(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def perLayer(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def info(name: String, v: Double, unit: String): Unit = detail(name) = (v, unit)
  def host(k: String, v: String): Unit = hostInfo(k) = v

  /** A failed check: counted against `failed`, explained in the notes. */
  def fail(n: Long, why: String): Unit = if (n > 0) { failed += n; notes += why }

  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")

  def toJson: String =
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""invalid":${invalid.map(Json.str).getOrElse("null")},""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(layer)},""" +
      s""""detail":${obj(detail)},"notes":${notes.map(Json.str).mkString("[", ",", "]")},""" +
      s""""host":${hostInfo.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}}"""
}
