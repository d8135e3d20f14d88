package perfbench

/** Minimal JSON rendering for the result files: maps, sequences, numbers,
  * strings, booleans and null.
  */
object Json {
  def render(v: Any): String = v match {
    case null         => "null"
    case s: String    => quote(s)
    case b: Boolean   => b.toString
    case d: Double    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number    => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other        => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
