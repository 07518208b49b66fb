package perfbench

/** Order statistics and the JSON the harness hands to run.py. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Quantile over a primitive array, sorting it in place. */
  def quantileInPlace(xs: Array[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    java.util.Arrays.sort(xs)
    val pos = q * (xs.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, xs.length - 1)
    xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer: the harness emits numbers, strings, booleans,
  * sequences and maps, nothing else. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One reported metric: its value, unit and how many samples it
  * summarizes. */
final case class Metric(value: Double, unit: String, n: Long) {
  def json: Map[String, Any] = Map("value" -> value, "unit" -> unit, "n" -> n)
}
