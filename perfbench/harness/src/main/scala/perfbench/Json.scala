package perfbench

/** Minimal JSON writer. Numbers go through `java.lang.Double.toString`
  * and `Long.toString`, which ignore the default locale, so a
  * comma-decimal locale cannot corrupt the output.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' =>
        b.append("\\u").append(("000" + Integer.toHexString(c)).takeRight(4))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Renders maps, sequences, strings, numbers, booleans and None. */
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
