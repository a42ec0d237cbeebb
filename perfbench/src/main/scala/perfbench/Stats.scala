package perfbench

import org.apache.commons.math3.special.Beta

object Stats {

  /** Quantile with linear interpolation between closest ranks. */
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
    * order statistics. A run gives a few dozen unlike operations (the
    * queries of a pass, the stages of a cycle) with gaps between them;
    * the sample quantile jumps across a gap when two neighbours swap
    * places between runs, this estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(i: Int): Double =
      if (i == 0) 0.0 else if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, b)
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** min, quartiles, p90, max and sample count, as a JSON object. */
  def dispersionJson(xs: Seq[Double]): String =
    if (xs.isEmpty) """{"n":0}"""
    else
      Json.obj(Seq("n" -> xs.size.toString) ++
        Seq("min" -> 0.0, "q1" -> 0.25, "median" -> 0.5, "q3" -> 0.75,
          "p90" -> 0.9, "max" -> 1.0).map { case (k, q) =>
          k -> Json.num(quantile(xs, q))
        })
}

/** The little JSON the benchmark writes: flat objects of numbers and
  * strings. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `fields` values are already-rendered JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
