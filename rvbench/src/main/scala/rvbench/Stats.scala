package rvbench

/** Order statistics and the small JSON writer the result line needs. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail of a run: the highest percentile that has at least ten
    * samples beyond it, 1 - 10/n. Below 20 samples that percentile would
    * fall under the median; the run then reports its maximum and says so in
    * `note`. */
  final case class Tail(value: Double, percentile: String, samples: Int, beyond: Int,
      note: String)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.length
    if (n >= 20) {
      val q = 1 - 10.0 / n
      Tail(quantile(xs, q), f"p${q * 100}%.1f", n, 10, "")
    } else Tail(xs.max, "max", n, 0,
      s"$n operations in the run: too few for a percentile above the median with ten samples beyond it")
  }

  // -- JSON ---------------------------------------------------------------

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  /** Render nested Maps / Seqs / numbers / strings / booleans. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
