package graft

private[graft] object Json {

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in a query's oracle SQL would
    * otherwise make json.load fail on Verify's oracle_sql.json and
    * silently drop the correctness gate. */
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
