package perfbench

import scala.collection.mutable

/** What one run prints: metrics by name with unit, and every checked
  * operation. A failed check counts against `failed`; it is never dropped.
  */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Progress line on stderr, which run.py keeps in its run log. */
  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One attempted operation; `ok` false records it as failed with `why`. */
  def check(op: String, ok: Boolean, why: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; problems += s"$op: $why" }
    ok
  }

  def json: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    }
    val m = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$m,""" +
      s""""problems":${problems.map(p => "\"" + esc(p) + "\"").mkString("[", ",", "]")}}"""
  }
}

object Stats {
  /** Linear-interpolated median; +Inf entries (failed requests) sort last. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1 || s(s.size / 2).isInfinite) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
