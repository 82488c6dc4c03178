package graft

/** The JSON string literal every harness artifact writes (oracle_sql.json,
  * the Bench line, PLANAUDIT.json): backslash, quote, and ALL control chars
  * (< 0x20) escaped — a tab or CR in builder-authored SQL would otherwise
  * make a reader's json.load fail.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
