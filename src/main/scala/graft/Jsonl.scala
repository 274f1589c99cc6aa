package graft

/** Helper for the artifact-writing measurement main
  * ([[BroadcastAudit]]): caller-supplied
  * strings (data-dir paths) are interpolated into hand-built JSONL
  * lines, and a path containing a quote or backslash would
  * silently corrupt the committed artifact. Escape the two JSON
  * string metacharacters plus control chars before interpolation.
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
