package perfbench

import scala.collection.mutable

/** What one run hands back to `run.py`: named metrics with units, the
  * operation tally, and free-form notes (sample counts, which percentile
  * a timing is). Written as one JSON object; no JSON library needed. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  @volatile var attempted: Long = 0
  @volatile var failed: Long = 0

  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }
  def note(key: String, value: Any): Unit = synchronized { notes(key) = value.toString }

  /** Count one operation; a wrong answer or an exception counts as failed. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (errors.size < 50) errors += s"$what: $detail"
    }
    ok
  }
  def fail(what: String, e: Throwable): Unit = check(what, ok = false, s"${e.getClass.getName}: ${e.getMessage}"): Unit

  def toJson: String = synchronized {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    val ns = notes.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}, """ +
      s""""notes": {${ns.mkString(", ")}}, "errors": [${errors.map(Json.str).mkString(", ")}]}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision, locale-independent number; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
