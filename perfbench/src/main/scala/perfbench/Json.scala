package perfbench

/** Text that is already JSON. */
final case class RawJson(text: String)

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case RawJson(text) => text
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
