package perfbench

/** Minimal JSON rendering for the benchmark's output lines and files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** A finite number with all its digits; non-finite values become null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
