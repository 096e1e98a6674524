package perfbench

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans and null).
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.toSeq.zipWithIndex.foreach { case ((k, w), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(w)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (w, i) => if (i > 0) sb += ','; go(w) }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
