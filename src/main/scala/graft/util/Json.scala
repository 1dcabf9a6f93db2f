package graft.util

/** JSON literals for the hand-built JSON of the CLIs, the HTTP face and the
  * property sanitizer. Every user- or data-supplied string goes through
  * [[str]]: a quote, backslash or control character would otherwise end the
  * literal early and make the whole document unparseable.
  */
object Json {

  /** A JSON string literal (`null` for a null reference): quote, backslash
    * and every control character below 0x20 escaped.
    */
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A JSON array of string literals. */
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  /** A JSON number; NaN and the infinities, which JSON cannot carry, are null. */
  def num(d: Double): String = if (java.lang.Double.isFinite(d)) d.toString else "null"
}
