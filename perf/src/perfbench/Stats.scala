package perfbench

/** Order statistics and a minimal JSON writer for the artifacts. */
object Stats {

  /** Linear-interpolated percentile (0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (p / 100.0) * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest percentile on this ladder that keeps at least ten
    * samples beyond it, for a sample of `n`: the tail a sample of that
    * size supports. A sample too small to support any tail above the
    * median reports the median. Workloads fix their tail percentile from
    * the sample size they are guaranteed to reach, so one run's tail is
    * comparable with another's.
    */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 200.0 / 3, 50.0)

  def supportedTail(n: Int): Double =
    TailLadder.find(p => n * (100.0 - p) >= 1000.0 - 1e-6).getOrElse(50.0)

  /** Best of three single-threaded runs of a fixed integer loop, in ms:
    * a record of how fast this host ran while the run was measured, for
    * reading two artifacts side by side. Not a metric and never used to
    * scale one.
    */
  def cpuAnchorMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    var i = 0
    while (i < 50000000) { h = (h ^ i) * 1099511628211L; i += 1 }
    if (h == 42) println(h) // keep the loop live
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Peak resident set size of this process in MiB (VmHWM), NaN off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: java.io.IOException => Double.NaN }
}

/** JSON rendering of nested Maps / Seqs / numbers / strings / booleans. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString)
        sb.append(':')
        write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
