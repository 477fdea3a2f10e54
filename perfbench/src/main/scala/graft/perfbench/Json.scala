package graft.perfbench

/** Minimal JSON rendering for the run header, the span file and the
  * result line (maps keep their insertion order). */
object Json {
  def render(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float              => render(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(render).mkString("[", ",", "]")
    case o: Option[_]          => o.fold("null")(render)
    case other                 => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): String = render(collection.mutable.LinkedHashMap(kvs: _*))

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
}
