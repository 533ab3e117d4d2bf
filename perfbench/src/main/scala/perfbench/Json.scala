package perfbench

/** Minimal JSON rendering for the harness's output document. */
object Json {
  /** An object with its keys in insertion order. */
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case Obj(fs) => fs.map { case (k, x) => s"${quote(k)}:${render(x)}" }.mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
