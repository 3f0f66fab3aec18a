package graft

/** JSON text for the machine-read lines and files the entry points
  * write (Bench's result line, Verify's oracle_sql.json). */
object Json {

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (< 0x20): one unescaped tab, CR, quote or backslash in a
    * query's SQL or an SF path makes the reader's json.load fail and
    * silently drops the whole line or file. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON array of string literals. */
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}
