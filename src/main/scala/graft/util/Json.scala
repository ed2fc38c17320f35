package graft.util

/** JSON string literal for the hand-built JSON of Verify and Bench. */
object Json {
  /** `s` quoted, with backslash, quote and every control char below 0x20
    * escaped: a tab or CR in a value must not break the document. */
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
