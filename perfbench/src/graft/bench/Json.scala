package graft.bench

/** Minimal JSON rendering for the benchmark's result and artifact files:
  * maps (insertion-ordered), sequences, strings, numbers, booleans, null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Parse a JSON document into Jackson's tree model. */
  def parse(text: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
}

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive samples; 0 for no samples. Unlike a
    * quantile it does not change when the same operations run in another
    * order and a warming JVM speeds up whichever comes later. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
