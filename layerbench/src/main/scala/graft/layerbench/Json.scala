package graft.layerbench

/** Just enough JSON for the report and result lines. Numbers print
  * with every digit Double.toString gives; NaN and infinities as null. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case null | None => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
