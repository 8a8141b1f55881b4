package graft.core

/** The one JSON writer for the small records graft emits by hand: audit
  * records ([[AuditLog]]), store params ([[AtomicDir.writeRecord]]) and
  * Verify's `oracle_sql.json`. Output is always a single line, so
  * JSON-lines readers (`spark.read.json`, [[AuditLog.compact]]) see one
  * record per line.
  */
object Json {

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a raw tab or CR would make strict readers (Python's
    * `json.load`) fail, and a raw newline would split a JSON-lines record. */
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** One-line JSON object. Values render as JSON numbers/booleans when
    * numeric or boolean, as quoted strings otherwise. */
  def obj(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, v: Long) => s"${quote(k)}:$v"
      case (k, v: Int) => s"${quote(k)}:$v"
      // Double/Boolean must render as JSON values too — a quoted "0.95"
      // under a DoubleType read schema silently reads back NULL. Non-finite
      // doubles have no JSON form; they quote.
      case (k, v: Double) if !v.isNaN && !v.isInfinite => s"${quote(k)}:$v"
      case (k, v: Boolean) => s"${quote(k)}:$v"
      case (k, v) => s"${quote(k)}:${quote(String.valueOf(v))}"
    }.mkString("{", ",", "}")
}
