package graft.util

/** JSON string literals for the hand-written artifacts (Verify's
  * oracle_sql.json, the self-check results). */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a strict `json.load` fail on the whole artifact. */
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
