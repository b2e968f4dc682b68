package graft

/** The one JSON string escape behind the mains' hand-written output lines
  * (Verify's oracle_sql.json / rows_only.json, Bench's metrics lines). */
private[graft] object Json {

  /** `s` as a JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL or a data-dir
    * path would otherwise make a reader's json.load fail. */
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
