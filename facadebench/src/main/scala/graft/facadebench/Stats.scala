package graft.facadebench

/** Order statistics over samples in which a failed operation counts as
  * +infinity, so failures push every percentile up instead of vanishing. */
object Stats {

  /** linear-interpolated quantile (q in [0, 1]) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(lo) == s(hi)) s(lo)
    else if (s(hi).isInfinite) Double.PositiveInfinity
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** the highest of p50/p75/p90/p99 with at least ten samples beyond it */
  def highestSupported(n: Int): Double =
    Seq(0.99, 0.9, 0.75).find(q => n * (1 - q) >= 10 - 1e-9).getOrElse(0.5)

  /** JSON has no infinity: a latency made infinite by failures reads as the
    * largest double */
  def finite(x: Double): Double = if (x.isInfinite) Double.MaxValue else x
}

/** just enough JSON for the benchmark's output lines */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'            => b ++= "\\\""
      case '\\'           => b ++= "\\\\"
      case '\n'           => b ++= "\\n"
      case c if c < ' '   => b ++= f"\\u${c.toInt}%04x"
      case c              => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN) "null" else Stats.finite(d).toString
    case f: Float            => value(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: Map[_, _]        => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_]     => xs.map(value).mkString("[", ", ", "]")
    case o                   => str(o.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
