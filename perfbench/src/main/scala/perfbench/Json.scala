package perfbench

import java.nio.file.{Files, Path}

/** Minimal JSON writer for the result and trace records (maps, sequences,
  * strings, numbers, booleans; non-finite numbers become null). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def write(p: Path, v: Any): Unit = Files.writeString(p, render(v))
}
