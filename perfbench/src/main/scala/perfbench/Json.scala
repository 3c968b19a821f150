package perfbench

/** Minimal JSON rendering for the harness's result and span files. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")

  def render(v: Any): String = v match {
    case null                    => "null"
    case s: String               => str(s)
    case b: Boolean              => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => d.toString
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(render).mkString("[", ",", "]")
    case Raw(json)               => json
    case other                   => str(other.toString)
  }

  /** An already-rendered JSON value. */
  final case class Raw(json: String)

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
}
