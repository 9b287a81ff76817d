package perfbench

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + value(x) }
      .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case raw: Raw => raw.s
    case other => str(other.toString)
  }

  /** Already-serialized JSON. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",\n", "]")
}
