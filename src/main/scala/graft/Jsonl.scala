package graft

/** JSON string escaping for hand-built JSON and JSONL artifacts
  * ([[Verify]]'s `oracle_sql.json`, [[BroadcastAudit]]'s lines):
  * caller-supplied strings (SQL text, data-dir paths) are
  * interpolated into them, and a quote, backslash or control char
  * would silently corrupt the artifact. Escapes the two JSON string
  * metacharacters plus control chars before interpolation.
  */
object Jsonl {
  def esc(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
