package graft.util

/** The JSON text pieces the CLI and HTTP faces emit by hand: one escaping
  * rule for every string they print, so a quote, backslash or control
  * character in a question or document cannot break a line's JSON.
  */
object Json {

  /** The body of a JSON string literal for `s` (RFC 8259 escapes). */
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `s` as a quoted JSON string; null becomes "". */
  def str(s: String): String = "\"" + escape(Option(s).getOrElse("")) + "\""

  /** A JSON array of strings. */
  def strs(ss: Seq[String]): String = ss.map(str).mkString("[", ",", "]")

  /** A JSON number; NaN and the infinities, which JSON cannot carry, become null. */
  def num(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  /** A JSON array of numbers (see [[num]]). */
  def nums(ds: Seq[Double]): String = ds.map(num).mkString("[", ",", "]")

  /** A JSON object from keys and already-encoded JSON values, in order. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
