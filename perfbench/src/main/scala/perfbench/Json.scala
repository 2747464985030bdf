package perfbench

/** Minimal JSON rendering for the report, the result line and the spans
  * file: maps (insertion order kept for ListMap), sequences, strings,
  * numbers, booleans and null. Non-finite doubles render as null. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, x) =>
          if (!first) sb.append(','); first = false
          str(k.toString); sb.append(':'); go(x)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        var first = true
        xs.foreach { x => if (!first) sb.append(','); first = false; go(x) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
