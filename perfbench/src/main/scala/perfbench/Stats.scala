package perfbench

/** Order statistics and a minimal JSON writer. */
object Stats {

  /** Linear-interpolated quantile of `xs` at q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The tail percentile: the highest one with at least ten samples beyond
    * it. With fewer than 20 samples no such percentile above the median
    * exists and the maximum is reported instead.
    */
  def tailQuantile(n: Int): Double =
    if (n >= 20) 1.0 - 10.0 / n else 1.0

  def tail(xs: Seq[Double]): Double = quantile(xs, tailQuantile(xs.size))

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Union of intervals clipped to [lo, hi]. */
  def coveredWithin(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    unionLength(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })

  // ---- JSON ----

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${json(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
