package graft.perfbench

/** Percentiles and medians for the run's samples. */
object Stats {

  /** Beyond a reported percentile there must be at least this many
    * samples; a tail read off fewer is noise, not a measurement.
    */
  val MinBeyond = 10

  /** Nearest-rank q-quantile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie above it (p50 needs 20 samples, p90 100).
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile out of range: $q")
    val n = xs.size
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(q * n - 1e-9).toInt)
      if (n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
    }
  }

  /** Plain median (mean of the middle pair for an even count), for
    * repeated set-up timings where the count is small by design.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Just enough JSON writing for the result line and the run artifact. */
object Json {
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
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Renders Map/Seq/String/number/Boolean/Option trees. */
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.iterator.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
