package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import perfbench.Main.Metric

object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile). With ten samples or fewer none exists; the
    * maximum is returned with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN)
    else if (xs.size <= 10) (xs.max, 100.0)
    else {
      val s = xs.sorted
      val n = s.size
      (s(n - 11), 100.0 * (n - 10) / n)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")

  def parseMetrics(json: String): Map[String, Double] =
    new ObjectMapper().readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.get("value").asDouble()).toMap
}
