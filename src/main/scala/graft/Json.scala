package graft

/** JSON string literal for every artifact the library writes by hand (the
  * Bench line, VERIFY_SUMMARY.json, oracle_sql.json, stage manifests).
  * Escapes backslash, quote and ALL control chars (<0x20): a tab or CR in
  * oracle SQL or in an exception message would otherwise make a JSON
  * reader reject the whole artifact. */
object Json {
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
