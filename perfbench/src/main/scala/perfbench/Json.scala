package perfbench

/** Minimal JSON rendering for the result and span files. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(text: String)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(t) => t
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }

  def obj(fields: (String, Any)*): String = render(collection.immutable.ListMap(fields: _*))
}
