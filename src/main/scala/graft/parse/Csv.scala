package graft.parse

import graft.model.Event

/** Positional CSV parse — semantics of the Logstash `csv` filter as used by
  * the reference (7 uses; ref: config/processors/api_security_mcafee.mcp_v5
  * .conf:16-22): `columns => [...]` positional naming, RFC-4180-ish quoting
  * (doubled quotes escape), `skip_empty_columns`. Extra values beyond the
  * column list land under `column<N>` (plugin behavior).
  */
object Csv {
  def splitLine(line: String, sep: Char = ',', quote: Char = '"'): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == quote) {
          if (i + 1 < line.length && line.charAt(i + 1) == quote) { cur.append(quote); i += 1 }
          else inQ = false
        } else cur.append(c)
      } else {
        if (c == quote) inQ = true
        else if (c == sep) { out += cur.toString; cur.setLength(0) }
        else cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  def apply(ev: Event, sourceField: String, columns: Seq[String],
            separator: Char = ',', target: String = "",
            skipEmptyColumns: Boolean = false): Boolean = {
    ev.getString(sourceField) match {
      case None => false
      case Some(line) =>
        val vals = splitLine(line, separator)
        val targetParts = if (target.isEmpty) Vector.empty[String] else Event.parsePath(target)
        vals.zipWithIndex.foreach { case (v, idx) =>
          if (!(skipEmptyColumns && v.isEmpty)) {
            val name = if (idx < columns.length) columns(idx) else s"column${idx + 1}"
            val parts =
              if (name.startsWith("[")) Event.parsePath(name)
              else targetParts :+ name
            ev.setParts(parts, v)
          }
        }
        true
    }
  }
}
