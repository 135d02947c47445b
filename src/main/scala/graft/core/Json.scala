package graft.core

/** The few JSON builders the mains' artifacts need (values arrive
  * pre-rendered; only strings are escaped here).
  */
object Json {

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (< 0x20): a tab or CR in a message or an oracle SQL would otherwise
    * make the reader's json.load fail on the whole artifact.
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

  def obj(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")

  def strs(values: Seq[String]): String = arr(values.map(str))
}
