package graft.layerbench

import java.text.{DecimalFormat, DecimalFormatSymbols}
import java.util.Locale

/** The benchmark's one JSON writer. Every number goes through a formatter
  * pinned to `Locale.ROOT`, so the output is valid JSON whatever the JVM's
  * default locale is (`"%.3f".format(x)` prints `1,500` under `de_DE`).
  *
  * Values: `Map[String, _]` (keys kept in insertion order when a
  * `ListMap`/`LinkedHashMap` is given), `Iterable`, `String`, `Boolean`,
  * integral numbers, `Double`/`Float` (non-finite values become `null`),
  * `Option` and `null`.
  */
object Json {
  private val decimal = new DecimalFormat(
    "0.0################", DecimalFormatSymbols.getInstance(Locale.ROOT))

  def number(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else decimal.synchronized(decimal.format(d))

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i @ (_: Int | _: Long | _: Short | _: Byte) => i.toString
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-renderable: ${other.getClass}")
  }
}
