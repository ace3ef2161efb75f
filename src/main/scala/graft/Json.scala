package graft

/** JSON text for the mains' hand-built artifact lines. */
object Json {

  /** A JSON string literal: quote, backslash and every control char
    * (< 0x20) escaped — a raw tab, CR or quote in a value would make a
    * reader's `json.load` fail on the whole artifact.
    */
  def string(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
