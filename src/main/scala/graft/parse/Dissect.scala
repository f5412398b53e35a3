package graft.parse

import graft.model.Event
import scala.collection.mutable

/** Dissect engine: positional delimiter tokenization — one left-to-right scan
  * over the input, NO regex (the reference uses dissect 450× precisely because
  * it is much cheaper than grok; SURVEY.md §2.3).
  *
  * Supported token forms (all used by the ported processors):
  *  - `%{field}` / `%{[a][b]}` / `%{[[a][b]]}` capture into (nested) path
  *    (ref: config/processors/api_network_aws.vpcflow.conf:17-22 uses the
  *     double-bracket form; syslog_security_palo.alto.fw.conf:65-70 single)
  *  - `%{?skip}` / `%{}` discard
  *    (ref: syslog_security_palo.alto.fw.conf:39-45 `%{?data}`)
  *  - `%{+field}` append to previously captured field joined by the separator
  *
  * Every capture token is resolved AT COMPILE TIME to a slot index among the
  * mapping's distinct target paths, so the per-event path is a plain array
  * write — profiling showed the previous staged-list design spending most of
  * the whole kernel's cycles in Vector equality (`Seq.sameElements`) while
  * matching `%{+f}` appends against earlier captures.
  *
  * Failure (a separator not found) appends `tag_on_failure`
  * (ref: api_network_aws.vpcflow.conf:19 `_dissectfailure_1`).
  */
final case class CompiledDissect(tokens: Array[Dissect.Token],
                                 slotPaths: Array[Seq[String]]) {
  import Dissect._

  def extract(ev: Event, input: String): Boolean = {
    // staged writes, one cell per distinct target path: only commit to the
    // event if the whole mapping matches. `%{+f}` appends to any earlier
    // capture of f (plain or +), joined by the token's compile-time append
    // separator. A fresh array per call costs less than a ThreadLocal
    // lookup.
    val values = new Array[String](slotPaths.length)
    var pos = 0
    var i = 0
    while (i < tokens.length) {
      tokens(i) match {
        case Lit(s) =>
          if (!input.startsWith(s, pos)) return false
          pos += s.length
        case Cap(_, skip, append, sep, slot, padRight) =>
          // capture runs until the next literal (or end of input)
          val next = if (i + 1 < tokens.length) tokens(i + 1).asInstanceOf[Lit] else null
          val end =
            if (next == null) input.length
            else {
              val idx = input.indexOf(next.s, pos)
              if (idx < 0) return false
              idx
            }
          val v = input.substring(pos, end)
          pos = end
          // `%{f->}`: swallow repeats of the following delimiter (keep one
          // for the Lit token itself)
          if (padRight && next != null)
            while (input.startsWith(next.s, pos + next.s.length)) pos += next.s.length
          if (!skip) {
            val prev = values(slot)
            values(slot) = if (append && prev != null) prev + sep + v else v
          }
      }
      i += 1
    }
    var j = 0
    while (j < slotPaths.length) {
      if (values(j) != null) ev.setParts(slotPaths(j), values(j))
      j += 1
    }
    true
  }
}

object Dissect {
  sealed trait Token
  final case class Lit(s: String) extends Token
  /** `appendSep` — Logstash dissect joins `%{+f}` values with the literal
    * delimiter PRECEDING the append token (or the configured
    * append_separator), not a hardcoded space. `slot` — compile-time index
    * of the token's target path among the mapping's distinct paths
    * (-1 for skip tokens). */
  /** `padRight` — the `%{f->}` modifier: consecutive repeats of the
    * following delimiter are consumed (ref: flat_file_audit_microsoft.iis
    * .w3c.conf:26 `%{[[event][created]]->}`). */
  final case class Cap(path: Seq[String], skip: Boolean, append: Boolean,
                       appendSep: String, slot: Int,
                       padRight: Boolean = false) extends Token

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, CompiledDissect]()

  /** `appendSeparator`: explicit override of the `%{+f}` join string
    * (Logstash `append_separator` option); null → the delimiter preceding
    * each append token (Logstash default behavior). */
  def compile(mapping: String, appendSeparator: String = null): CompiledDissect = {
    val key = if (appendSeparator == null) mapping else s"$appendSeparator $mapping"
    val c = cache.get(key)
    if (c != null) return c
    val toks = mutable.ArrayBuffer.empty[Token]
    val slots = mutable.ArrayBuffer.empty[Seq[String]]
    def slotOf(path: Seq[String]): Int = {
      // content equality: "date" and "[date]" parse to equal paths
      val i = slots.indexOf(path)
      if (i >= 0) i else { slots += path; slots.length - 1 }
    }
    var i = 0
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) { toks += Lit(lit.toString); lit.clear() }
    while (i < mapping.length) {
      if (mapping.startsWith("%{", i)) {
        val j = findClose(mapping, i + 2)
        flushLit()
        var body = mapping.substring(i + 2, j)
        var skip = false; var append = false; var padRight = false
        if (body.startsWith("?")) { skip = true; body = body.substring(1) }
        else if (body.startsWith("+")) { append = true; body = body.substring(1) }
        if (body.endsWith("->")) { padRight = true; body = body.dropRight(2) }
        if (body.isEmpty) skip = true
        // normalize double-bracket form [[a][b]] → [a][b]
        if (body.startsWith("[[") && body.endsWith("]]")) body = body.substring(1, body.length - 1)
        val sep =
          if (!append) " "
          else if (appendSeparator != null) appendSeparator
          else toks.lastOption match { // delimiter preceding the append token
            case Some(Lit(s)) => s
            case _ => " "
          }
        val path = Event.parsePath(body)
        toks += Cap(path, skip, append, sep, if (skip) -1 else slotOf(path), padRight)
        i = j + 1
      } else { lit.append(mapping.charAt(i)); i += 1 }
    }
    flushLit()
    // merge: two adjacent captures with no literal between them is invalid in
    // dissect; we keep compile-time strictness to surface porting bugs early.
    var k = 0
    while (k < toks.length - 1) {
      if (toks(k).isInstanceOf[Cap] && toks(k + 1).isInstanceOf[Cap])
        throw new IllegalArgumentException(s"dissect: adjacent captures without separator in: $mapping")
      k += 1
    }
    val built = CompiledDissect(toks.toArray, slots.toArray)
    cache.putIfAbsent(key, built)
    built
  }

  private def findClose(s: String, from: Int): Int = {
    // token body may itself contain ']' of nested path brackets; the token
    // terminator is the first '}' (dissect forbids '}' inside field names)
    val j = s.indexOf('}', from)
    if (j < 0) throw new IllegalArgumentException(s"dissect: unterminated token in: $s")
    j
  }

  def apply(ev: Event, sourceField: String, mapping: String,
            tagOnFailure: Seq[String] = Seq("_dissectfailure")): Boolean = {
    val in = ev.stringOrNull(sourceField)
    if (in == null || !compile(mapping).extract(ev, in)) {
      tagOnFailure.foreach(ev.addTag); false
    } else true
  }
}
