package perfbench

import java.util.Locale
import scala.collection.mutable

/** Metrics and operation counts of one run, rendered as the result
  * object the benchmark prints last. Numbers keep every digit and never
  * depend on the default locale. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted = 0L
  private var failed = 0L
  val notes = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def get(name: String): Option[Double] = metrics.get(name).map(_._1)

  /** Record one operation or output check; `ok = false` counts it as a
    * failed operation. */
  def op(ok: Boolean, what: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; Report.log(s"FAILED: $what") }
    ok
  }

  def json(keep: Set[String]): String = {
    val ms = metrics.toSeq.filter(m => keep(m._1)).map {
      case (k, (v, u)) =>
        s""""$k": {"value": ${Report.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }

  /** Every metric and note, for the run's artifact file. */
  def detail: String = {
    val ms = metrics.toSeq.map { case (k, (v, u)) =>
      s"""    "$k": {"value": ${Report.num(v)}, "unit": "$u"}"""
    }.mkString("{\n", ",\n", "\n  }")
    val ns = notes.toSeq.map { case (k, v) => s"""    "$k": "${Report.esc(v)}"""" }
      .mkString("{\n", ",\n", "\n  }")
    s"""{\n  "attempted": $attempted,\n  "failed": $failed,\n  "metrics": $ms,\n  "notes": $ns\n}\n"""
  }
}

object Report {
  /** Plain decimal with all the digits of the double. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
    case c => c.toString
  }

  def fmt(pattern: String, args: Any*): String =
    pattern.formatLocal(Locale.ROOT, args: _*)

  /** A stderr line stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(fmt("[perfbench %.1fs] %s",
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3, msg))
}
