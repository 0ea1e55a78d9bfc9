package graft.util

/** Hand-written JSON artifacts (the bench line, the oracle SQL map). */
object Json {
  /** A JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in a value would otherwise make a strict parser
    * (Python's json.load) reject the whole artifact. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
