package perfbench

/** Minimal JSON writer for the results and span files.
  *
  * Numbers go through `java.lang.Double.toString` / `Long.toString`, which
  * never consult the default locale (unlike `String.format` or the `f`
  * interpolator), so a JVM started under a decimal-comma locale still writes
  * valid JSON. Non-finite doubles are written as `null`.
  */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; emit(v, sb); sb.toString }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => emit(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
    case i: Int => sb ++= java.lang.Integer.toString(i)
    case l: Long => sb ++= java.lang.Long.toString(l)
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(k.toString, sb); sb += ':'; emit(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; emit(x, sb) }
      sb += ']'
    case other => throw new IllegalArgumentException(s"not JSON-serializable: ${other.getClass}")
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => sb += c
    }
    sb += '"'
  }
}
