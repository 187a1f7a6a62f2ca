package perfbench

/** Latency summaries. Percentiles are nearest-rank over the sorted samples.
  * A tail percentile is reported only when at least [[MinBeyond]] samples
  * lie beyond it, so p90 needs 100 samples.
  */
object Stats {
  val MinBeyond = 10

  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = samples.sorted
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.max(1, rank) - 1)
  }

  /** Samples strictly beyond percentile p's nearest rank. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  def supports(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median and p90 with their sample count; p90 is None unless the
    * sample count supports it under the [[MinBeyond]] rule.
    */
  final case class Summary(n: Int, p50: Option[Double], p90: Option[Double])

  def summarize(samples: Seq[Double]): Summary =
    Summary(
      samples.length,
      if (samples.isEmpty) None else Some(median(samples)),
      if (supports(samples.length, 90)) Some(percentile(samples, 90)) else None)
}

/** Minimal JSON writer for the result lines and the span file. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null"
      else sb ++= java.lang.Double.toString(d).replace("E", "e")
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString)
        sb += ':'
        write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x =>
        if (!first) sb += ','
        first = false
        write(sb, x)
      }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
