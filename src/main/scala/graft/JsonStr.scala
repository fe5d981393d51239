package graft

/** Minimal JSON string plumbing shared by the driver-facing mains
  * (Verify's oracle_sql.json dump, Bench's one-line artifact). Escapes
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load fail
  * and silently zero the round's correctness.
  */
object JsonStr {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat string->string JSON object (oracle_sql.json's shape). */
  def stringMap(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")

  /** Parse a FLAT string->number JSON object (`{"a":1.2,"b":3}`) — the
    * only shape oracle_bench.py emits. Not a general JSON parser; keys
    * are the bench's own query names (no escapes in practice).
    */
  def parseFlatNumberMap(s: String): Map[String, Double] =
    // the exponent group must admit a sign: a char-class number pattern
    // captured "1.2e-3" as "1.2e" and the .toDouble blew up, voiding the
    // whole map; the flatMap guard keeps one malformed value from doing so
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)".r
      .findAllMatchIn(s)
      .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _))
      .toMap
}
