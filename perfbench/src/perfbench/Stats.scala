package perfbench

/** Order statistics for latency samples. A timing is reported as its
  * median, at any sample count; a tail percentile is nearest-rank and is
  * refused unless at least ten samples lie beyond it — a tail figure
  * resting on fewer is noise. */
object Stats {
  val MinBeyond = 10

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 50 && p < 100, s"tail percentile $p outside (50, 100)")
    val n = xs.size
    require(beyond(n, p) >= MinBeyond,
      s"p$p of $n samples has ${beyond(n, p)} beyond it; need $MinBeyond")
    xs.sorted.apply(math.ceil(p / 100.0 * n).toInt - 1)
  }

  /** Smallest sample count for which `p` is reportable. */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  /** The middle sample, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
