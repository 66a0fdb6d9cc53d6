package graft

import java.util.Locale

/** JSON text for the one-line records the mains print and write (Bench's
  * metric lines, BandRun's per-key lines, Verify's oracle_sql.json), and
  * the exception text Verify and BandRun report.
  */
object Json {

  /** A JSON string literal. Escapes backslash, quote and ALL control chars
    * (< 0x20): exception messages routinely contain newlines (ParseException
    * prints the SQL), and a tab or CR in builder-authored SQL would make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
    case c            => c.toString
  } + "\""

  /** `v` with `digits` decimals under Locale.ROOT. The default-locale
    * `%.3f` prints `1,234` under a comma-decimal locale, which is not a
    * JSON number and breaks the whole line.
    */
  def fixed(v: Double, digits: Int): String = s"%.${digits}f".formatLocal(Locale.ROOT, v)

  /** `e` and up to `depth - 1` of its causes, as "Class: message" joined by
    * " <- ": analysis wrappers (EXPRESSION_DECODING_FAILED et al.) bury the
    * actionable exception 1-2 causes down.
    */
  def causes(e: Throwable, depth: Int): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}").take(depth).mkString(" <- ")
}
