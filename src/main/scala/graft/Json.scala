package graft

/** The one JSON string escaper behind every hand-built JSON line (Bench's
  * result line, Verify's oracle_sql.json).
  */
object Json {

  /** Quote `s` as a JSON string: backslash, quote and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would otherwise
    * make the oracle compare's json.load fail and silently zero the
    * correctness check.
    */
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
