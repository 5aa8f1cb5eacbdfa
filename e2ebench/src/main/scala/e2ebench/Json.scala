package e2ebench

/** Minimal JSON rendering for the result line, the trace and the facts. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty =>
      obj(s.asInstanceOf[Seq[(String, Any)]])
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")
}
