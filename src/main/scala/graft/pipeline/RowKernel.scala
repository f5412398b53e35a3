package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.enrich.Dicts
import graft.model.{Columns, Event}
import graft.rules.{Program, TechnologyConfig}

/** InternalRow-level realization of the fused parse→enrich kernel, run by
  * the GraftParse plan node in batch and streaming alike.
  *
  * There is no Dataset encoder boundary on either side: input fields are
  * read straight from the Tungsten row (no object/Timestamp materialization
  * — pass-through strings are cloned as UTF8String bytes, never decoded),
  * and output rows are built directly (no wide case class, no generated
  * serializer re-encoding every string). At ≥8 allocating threads per box
  * this measurably reduces DRAM pressure — the bottleneck behind the N-vs-4N
  * scaling obligation.
  *
  * Row-object contract: every emitted row is a fresh GenericInternalRow
  * (safe to buffer/cache downstream); input rows are only read inside the
  * flatMap callback, with retained strings cloned out of the reused buffer.
  */
object RowKernel {

  /** Output schema, in the column table's order. */
  val schema: StructType =
    StructType(Columns.all.map(c => StructField(c.name, c.dataType, c.nullable)))
  private val numFields = schema.length

  private val emptyArray = new GenericArrayData(Array.empty[Any])
  private val droppedRule = UTF8String.fromString("dropped")
  private val notParsed = UTF8String.fromString("not parsed")
  private val arrayOrdinals: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, idx) if f.dataType.isInstanceOf[ArrayType] => idx
  }

  /** Per-partition compiled technology entry: config + program + reusable
    * constant columns (raw input tool value, technology name, route_outputs
    * array, dated index cached per epoch-day — log batches are
    * time-clustered). Emitted UTF8Strings are immutable, so sharing one
    * instance across all of a partition's rows is safe. */
  private final class Tech(val toolU8: UTF8String, // raw input value (passthrough column)
                           val cfg: TechnologyConfig,
                           val program: Program) {
    val techU8: UTF8String = UTF8String.fromString(cfg.tech)
    val routeOutputs: GenericArrayData =
      new GenericArrayData(cfg.outputs.iterator.map(UTF8String.fromString).toArray[Any])
    private var lastDay: Long = Long.MinValue
    private var lastIdx: UTF8String = _
    def routeIndexU8(tsMillis: Long): UTF8String = {
      val day = Math.floorDiv(tsMillis, 86400000L)
      if (day != lastDay) {
        lastDay = day
        lastIdx = UTF8String.fromString(Engine.routeIndex(cfg, tsMillis))
      }
      lastIdx
    }
  }

  /** The preamble every kernel mode shares: per partition, a technology
    * cache; per input row (conv_id, turn_idx, role, text, tool, ts), its
    * compiled technology, the `ts` output value (boxed micros, or null for
    * a null `ts`) and `ts` in millis for the parse context (0 for a null
    * `ts`). `f` returns the turn's output rows. */
  private def eachTurn(it: Iterator[InternalRow])(
      f: (InternalRow, Tech, Any, Long) => IterableOnce[InternalRow]): Iterator[InternalRow] = {
    val techs = new java.util.HashMap[UTF8String, Tech]()
    it.flatMap { row =>
      val toolU8 = if (row.isNullAt(4)) UTF8String.EMPTY_UTF8 else row.getUTF8String(4)
      var tech = techs.get(toolU8)
      if (tech == null) {
        val key = toolU8.clone()
        val (cfg, program) = Engine.techOf(key.toString)
        tech = new Tech(key, cfg, program)
        techs.put(key, tech)
      }
      val ts = if (row.isNullAt(5)) null else java.lang.Long.valueOf(row.getLong(5))
      val tsMillis = if (ts == null) 0L else Math.floorDiv(ts.longValue, 1000L)
      f(row, tech, ts, tsMillis)
    }
  }

  /** The row's input text, decoded. */
  private def textOf(row: InternalRow): String =
    if (row.isNullAt(3)) null else row.getUTF8String(3).toString

  /** One partition of input rows → 0..N output rows each. `emitDropped`
    * additionally materializes one marker row (parse_rule='dropped', empty
    * route_outputs) per input turn that yields no event — `drop {}`-ed, or
    * split into none (palo's `split {}` on newline-only text) — so a
    * single pass can account for conservation metrics — used by Sink; the
    * query path filters at the source by not asking.
    *
    * Lazy flatten: `mask(ordinal)` selects which columns to materialize —
    * unselected Event-derived fields stay null and skip their map walk +
    * UTF8String conversion entirely, which is the wide path's DRAM traffic.
    * The 13 context columns (conv/turn/.../route) are always populated.
    * Output schema is unchanged (GraftParseExec projects the selected
    * columns); `null` mask = full flatten. */
  def process(it: Iterator[InternalRow], dicts: Dicts,
              emitDropped: Boolean, mask: Array[Boolean]): Iterator[InternalRow] =
    eachTurn(it) { (row, tech, ts, tsMillis) =>
      val text = textOf(row)
      val results = Engine.parseAndEnrich(tech.cfg, tech.program, text, tsMillis, dicts)
      val noEvent = results == null || results.isEmpty
      if (noEvent && !emitDropped) Nil
      else {
        val convU8 = if (row.isNullAt(0)) null else row.getUTF8String(0).clone()
        val turnIdx = if (row.isNullAt(1)) null else java.lang.Integer.valueOf(row.getInt(1))
        val roleU8 = if (row.isNullAt(2)) null else row.getUTF8String(2).clone()
        val textU8 = if (row.isNullAt(3)) null else row.getUTF8String(3).clone()
        if (noEvent)
          droppedRow(tech, convU8, turnIdx, roleU8, textU8, ts, tsMillis) :: Nil
        else {
          var i = -1
          results.map { case (ev, parseOk) =>
            i += 1
            flatten(ev, parseOk, i, tech, convU8, turnIdx, roleU8, textU8, ts, tsMillis,
              mask, text)
          }
        }
      }
    }

  /** Count of always-populated context columns at the head of the table
    * (conv_id..route_outputs), whose ordinals `flatten` and `droppedRow`
    * write directly. */
  val numContextCols: Int = Columns.all.indexWhere(_.kind != Columns.Context)

  /** Ordinal mask for a column subset (always includes the context
    * columns — they are populated unconditionally). NOTE: this is the
    * lazy-flatten COLUMN mask of the output schema — unrelated to
    * Enrich.maskFor, the per-technology STEP-skip mask of the enrichment
    * chain (same name, different axis). */
  def maskFor(cols: Seq[String]): Array[Boolean] = {
    val m = new Array[Boolean](numFields)
    var i = 0
    while (i < numContextCols) { m(i) = true; i += 1 }
    cols.foreach(c => m(schema.fieldIndex(c)) = true)
    m
  }

  // ---- Flatten inversion (round 6, guide §1.2 "per-task work") ----------
  // flatten walks the event tree ONCE, scattering populated leaves into
  // their ordinals through a segment trie built from the column table —
  // O(populated fields), not O(schema width).

  /** Trie over path segments; a terminal node carries the flatten ordinal
    * and conversion kind of the column ending there. */
  private final class FTrie {
    val children = new java.util.HashMap[String, FTrie]()
    var ordinal: Int = -1
    var kind: Int = -1
  }

  /** Counts-only 5-column schema (see Engine.parseCardinality). */
  val countSchema: StructType =
    StructType(Seq("technology", "role", "tool", "ts", "route_outputs").map(schema(_)))

  /** Counts-only kernel: same parse dispatch, but only each program's
    * cardinality step (Engine.parseCardinality) — no parse body, no
    * enrichment chain, no wide flatten; one reused 5-column row emitted
    * `cardinality` times per input turn. It reads the input's role, text,
    * tool and ts only: GraftParse feeds it typed nulls for conv_id and
    * turn_idx.
    *
    * ROW-OBJECT CAVEAT (exception to this file's header contract): the
    * emitted rows share ONE mutable GenericInternalRow. This is only safe
    * because the sole consumer, GraftParseExec, projects each row to an
    * UnsafeRow before pulling the next — a cache/sort/collect over this
    * iterator would silently see the last row N times. */
  def processCounts(it: Iterator[InternalRow], dicts: Dicts): Iterator[InternalRow] = {
    val out = new Array[Any](5)
    val row = new GenericInternalRow(out)
    eachTurn(it) { (r, tech, ts, tsMillis) =>
      val n = Engine.parseCardinality(tech.cfg, tech.program, textOf(r), tsMillis, dicts)
      if (n == 0) Nil
      else {
        out(0) = tech.techU8
        out(1) = if (r.isNullAt(2)) null else r.getUTF8String(2).clone()
        out(2) = tech.toolU8
        out(3) = ts
        out(4) = tech.routeOutputs
        Iterator.fill(n)(row)
      }
    }
  }

  private def droppedRow(tech: Tech, convU8: UTF8String, turnIdx: Any,
                         roleU8: UTF8String, textU8: UTF8String,
                         ts: Any, tsMillis: Long): InternalRow = {
    val v = new Array[Any](numFields)
    var j = 0
    while (j < arrayOrdinals.length) { v(arrayOrdinals(j)) = emptyArray; j += 1 }
    v(0) = convU8; v(1) = turnIdx; v(2) = 0; v(3) = roleU8; v(4) = tech.toolU8
    v(5) = ts; v(6) = textU8; v(7) = tech.techU8; v(8) = droppedRule
    v(9) = false; v(11) = tech.routeIndexU8(tsMillis)
    new GenericInternalRow(v)
  }

  private val flattenTrie: FTrie = new FTrie

  /** Tag-derived boolean columns (ordinal, tagTrue, tagFalse) and the
    * event-derived ordinals defaulting to the shared empty array; also
    * builds [[flattenTrie]]. */
  private val (privOrdinals, derivedArrOrdinals): (Array[(Int, String, String)], Array[Int]) = {
    val privs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    val arrs = scala.collection.mutable.ArrayBuffer.empty[Int]
    Columns.all.zipWithIndex.foreach { case (c, ord) =>
      if (c.kind == Columns.Priv) privs += ((ord, c.tagTrue, c.tagFalse))
      else if (c.kind != Columns.Context) {
        var n = flattenTrie
        Event.parsePath(c.path).foreach { seg =>
          var ch = n.children.get(seg)
          if (ch == null) { ch = new FTrie; n.children.put(seg, ch) }
          n = ch
        }
        require(n.ordinal == -1, s"duplicate flatten path ${c.path}")
        n.ordinal = ord
        n.kind = c.kind
        if (c.kind == Columns.Arr) arrs += ord
      }
    }
    (privs.toArray, arrs.toArray)
  }

  private def flatten(ev: Event, parseOk: Boolean, subIdx: Int, tech: Tech,
                      convU8: UTF8String, turnIdx: Any, roleU8: UTF8String,
                      textU8: UTF8String, ts: Any, tsMillis: Long,
                      mask: Array[Boolean] = null, textStr: String = null): InternalRow = {
    val v = new Array[Any](numFields)
    v(0) = convU8                     // conv_id
    v(1) = turnIdx                    // turn_idx
    v(2) = subIdx                     // sub_idx
    v(3) = roleU8                     // role
    v(4) = tech.toolU8                // tool — raw input value passthrough
    v(5) = ts                         // ts
    v(6) = textU8                     // text — UNTOUCHED passthrough
    v(7) = tech.techU8                // technology
    val pr = ev.valueOrNull("[agent][parse_rule]") match {
      case x: String => x
      case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
        a.collect { case x: String => x }.mkString(",") // stacked add_field rules
      case _ => null
    }
    v(8) = if (pr == null) notParsed else UTF8String.fromString(pr) // parse_rule
    v(9) = parseOk                    // parse_ok
    v(10) = if (ev.tags.isEmpty) emptyArray // tags (sorted)
    else {
      val t = ev.tags.toArray
      java.util.Arrays.sort(t.asInstanceOf[Array[Object]])
      val o = new Array[Any](t.length)
      var j = 0
      while (j < t.length) { o(j) = UTF8String.fromString(t(j)); j += 1 }
      new GenericArrayData(o)
    }
    v(11) = ev.getString("[@metadata][output]") match { // conf-level index override
      case Some(o) => UTF8String.fromString(o)
      case None => tech.routeIndexU8(tsMillis)
    }                                 // route_index
    v(12) = tech.routeOutputs         // route_outputs (shared immutable constant)
    // Event-derived section: array defaults, tag-derived booleans, then ONE
    // walk of the populated event tree (the masked lazy-flatten contract is
    // unchanged: unselected ordinals keep their default null/empty-array)
    var j = 0
    while (j < derivedArrOrdinals.length) { v(derivedArrOrdinals(j)) = emptyArray; j += 1 }
    j = 0
    while (j < privOrdinals.length) {
      val (ord, tagTrue, tagFalse) = privOrdinals(j)
      if (mask == null || mask(ord))
        v(ord) = if (ev.hasTag(tagTrue)) java.lang.Boolean.TRUE
                 else if (ev.hasTag(tagFalse)) java.lang.Boolean.FALSE else null
      j += 1
    }
    scatter(ev.root, flattenTrie, v, mask, textStr, textU8)
    new GenericInternalRow(v)
  }

  /** Walk one level of the event tree against the flatten trie, converting
    * each matched leaf per its column kind; absent columns keep their
    * defaults. Descends only into nested maps — an ArrayBuffer at an
    * intermediate segment never matches (mirrors Event.partsOrNull, whose
    * array probe requires a numeric segment; no flatten path has one).
    *
    * `textStr`/`textU8`: the input text and its already-encoded UTF8String.
    * A string column whose value IS the input text object (reference
    * equality — `message`, and `log_original` which e01 copies from the
    * same object) reuses that encoding instead of re-encoding the largest
    * string in the row (UTF8Strings are immutable, so sharing is safe). */
  private def scatter(m: Event.FMap, node: FTrie, v: Array[Any],
                      mask: Array[Boolean], textStr: String, textU8: UTF8String): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val child = node.children.get(e.getKey)
      if (child != null) {
        val value = e.getValue
        if (child.ordinal >= 0 && (mask == null || mask(child.ordinal))) {
          val conv = convertLeaf(value, child.kind, textStr, textU8)
          if (conv != null) v(child.ordinal) = conv
        }
        value match {
          case mm: Event.FMap if !child.children.isEmpty =>
            scatter(mm, child, v, mask, textStr, textU8)
          case _ => ()
        }
      }
    }
  }

  /** Kind-specific conversion — byte-for-byte the round-5 s()/l()/arr()
    * semantics (returning null keeps the column's default). */
  private def convertLeaf(value: Any, kind: Int,
                          textStr: String, textU8: UTF8String): Any = kind match {
    case Columns.Str => value match {
      case x: String =>
        if ((x eq textStr) && textU8 != null) textU8 else UTF8String.fromString(x)
      case x: Long => UTF8String.fromString(x.toString)
      case x: Double => UTF8String.fromString(graft.model.Event.numToString(x))
      case x: Boolean => UTF8String.fromString(x.toString)
      case _ => null
    }
    case Columns.Lng => value match {
      case x: Long => java.lang.Long.valueOf(x)
      case x: String => x.toLongOption match {
        case Some(n) => java.lang.Long.valueOf(n)
        case None => null
      }
      case x: Double => java.lang.Long.valueOf(x.toLong)
      case _ => null
    }
    case _ => value match { // Columns.Arr
      case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
        val b = Array.newBuilder[Any]
        b.sizeHint(a.length)
        a.foreach { case x: String => b += UTF8String.fromString(x); case _ => () }
        new GenericArrayData(b.result())
      case x: String => new GenericArrayData(Array[Any](UTF8String.fromString(x)))
      case _ => null
    }
  }
}
