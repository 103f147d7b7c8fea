package perfbench

/** Minimal JSON writer for the harness's result file (maps, sequences,
  * strings, numbers, booleans, options). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
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
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Number => sb ++= n.toString
      case m: collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) sb += ','
          go(y)
        }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.result()
  }
}
