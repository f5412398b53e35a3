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
  * Row-object contract, with no exception: every emitted row is a fresh
  * GenericInternalRow holding exactly the columns the call's mask selects,
  * in column-table order (safe to buffer/cache downstream); input rows are
  * only read inside the flatMap callback, with retained strings cloned out
  * of the reused buffer.
  */
object RowKernel {

  /** Output schema, in the column table's order. */
  val schema: StructType =
    StructType(Columns.all.map(c => StructField(c.name, c.dataType, c.nullable)))
  private val numFields = schema.length

  private val emptyArray = new GenericArrayData(Array.empty[Any])
  private val droppedRule = UTF8String.fromString("dropped")
  private val notParsed = UTF8String.fromString("not parsed")

  // the context columns' ordinals, at the head of the column table
  private val Array(convId, turnIdx, subIdx, roleCol, toolCol, tsCol, textCol, techCol, parseRule,
      parseOk, tagsCol, routeIndex, routeOutputs) =
    Array("conv_id", "turn_idx", "sub_idx", "role", "tool", "ts", "text", "technology",
      "parse_rule", "parse_ok", "tags", "route_index", "route_outputs").map(schema.fieldIndex)

  /** The columns a counted row can hold: each comes from the input row or
    * the static technology config, never from the event. */
  private val countCols = Set("technology", "role", "tool", "ts", "route_outputs")

  /** Whether a call emitting `cols` runs at counts depth: only each
    * program's cardinality step (Engine.parseCardinality), then that many
    * rows — no parse body, no enrichment chain, no flatten. A marker row
    * (`emitDropped`) needs the whole parse. */
  def countsOnly(cols: Iterable[String], emitDropped: Boolean): Boolean =
    !emitDropped && cols.forall(countCols)

  /** The column mask selecting `cols`: [[process]] then emits rows of
    * exactly those columns. NOTE: this is a COLUMN mask of the output
    * schema — unrelated to Enrich.maskFor, the per-technology STEP-skip
    * mask of the enrichment chain (same name, different axis). */
  def maskFor(cols: Seq[String]): Array[Boolean] = {
    val m = new Array[Boolean](numFields)
    cols.foreach(c => m(schema.fieldIndex(c)) = true)
    m
  }

  /** Per-partition compiled technology entry: config + program + reusable
    * constant columns (raw input tool value, null for a null tool;
    * technology name, route_outputs array, dated index cached per epoch-day
    * — log batches are time-clustered). Emitted UTF8Strings are immutable,
    * so sharing one instance across all of a partition's rows is safe. */
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

  /** The preamble every call shares: per partition, a technology cache;
    * per input row (conv_id, turn_idx, role, text, tool, ts), its compiled
    * technology (a null tool runs the `unknown` program, as an empty one
    * does), the `ts` output value (boxed micros, or null for a null `ts`)
    * and `ts` in millis for the parse context (0 for a null `ts`). `f`
    * returns the turn's output rows. */
  private def eachTurn(it: Iterator[InternalRow])(
      f: (InternalRow, Tech, Any, Long) => IterableOnce[InternalRow]): Iterator[InternalRow] = {
    val techs = new java.util.HashMap[UTF8String, Tech]()
    it.flatMap { row =>
      val toolU8 = if (row.isNullAt(4)) null else row.getUTF8String(4)
      var tech = techs.get(toolU8)
      if (tech == null) {
        val key = if (toolU8 == null) null else toolU8.clone()
        val (cfg, program) = Engine.techOf(if (key == null) "" else key.toString)
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

  /** One call's writer: `slot(ordinal)` is the column's index in the
    * emitted row, or -1 when the mask leaves it out. Event rows, marker
    * rows and counted rows all write through it. */
  private final class Writer(mask: Array[Boolean]) {
    private val selected = (0 until numFields).filter(o => mask == null || mask(o))
    val slot: Array[Int] = Array.fill(numFields)(-1)
    selected.zipWithIndex.foreach { case (o, s) => slot(o) = s }
    val names: Seq[String] = selected.map(schema.fieldNames(_))
    private val arraySlots: Array[Int] =
      selected.indices.filter(s => schema(selected(s)).dataType.isInstanceOf[ArrayType]).toArray

    def has(ord: Int): Boolean = slot(ord) >= 0
    def put(v: Array[Any], ord: Int, x: Any): Unit = { val s = slot(ord); if (s >= 0) v(s) = x }

    /** A fresh row holding what all of a turn's rows share: the input's
      * conv_id, turn_idx, role, tool, ts and text (`textU8`), the
      * technology, and the empty array in every array column. */
    def turnRow(row: InternalRow, tech: Tech, ts: Any, textU8: UTF8String): Array[Any] = {
      val v = new Array[Any](selected.length)
      var j = 0
      while (j < arraySlots.length) { v(arraySlots(j)) = emptyArray; j += 1 }
      if (has(convId) && !row.isNullAt(0)) v(slot(convId)) = row.getUTF8String(0).clone()
      if (has(turnIdx) && !row.isNullAt(1)) v(slot(turnIdx)) = row.getInt(1)
      if (has(roleCol) && !row.isNullAt(2)) v(slot(roleCol)) = row.getUTF8String(2).clone()
      put(v, toolCol, tech.toolU8)
      put(v, tsCol, ts)
      put(v, textCol, textU8)
      put(v, techCol, tech.techU8)
      v
    }
  }

  /** One partition of input rows → 0..N output rows each, holding the
    * columns `mask` selects (`maskFor`; null = all). Unselected columns are
    * never computed: an unselected event-derived field skips its map walk
    * and UTF8String conversion, which is the wide path's DRAM traffic, and
    * a call whose columns pass [[countsOnly]] runs no parse body at all.
    *
    * `emitDropped` additionally materializes one marker row
    * (parse_rule='dropped', parse_ok=false, empty tags, route_outputs and
    * array columns) per input turn that yields no event — `drop {}`-ed, or
    * split into none (palo's `split {}` on newline-only text) — so a single
    * pass can account for conservation metrics — used by Sink; the query
    * path filters at the source by not asking. */
  def process(it: Iterator[InternalRow], dicts: Dicts,
              emitDropped: Boolean, mask: Array[Boolean]): Iterator[InternalRow] = {
    val w = new Writer(mask)
    if (countsOnly(w.names, emitDropped))
      eachTurn(it) { (row, tech, ts, tsMillis) =>
        val n = Engine.parseCardinality(tech.cfg, tech.program, textOf(row), tsMillis, dicts)
        if (n == 0) Nil
        else {
          val v = w.turnRow(row, tech, ts, null)
          w.put(v, routeOutputs, tech.routeOutputs)
          Iterator.tabulate(n)(i => new GenericInternalRow(if (i == 0) v else v.clone()))
        }
      }
    else
      eachTurn(it) { (row, tech, ts, tsMillis) =>
        val text = textOf(row)
        val results = Engine.parseAndEnrich(tech.cfg, tech.program, text, tsMillis, dicts)
        val noEvent = results == null || results.isEmpty
        if (noEvent && !emitDropped) Nil
        else {
          val textU8 = if (row.isNullAt(3)) null else row.getUTF8String(3).clone()
          val v = w.turnRow(row, tech, ts, textU8)
          if (noEvent) {
            w.put(v, subIdx, 0)
            w.put(v, parseRule, droppedRule)
            w.put(v, parseOk, false)
            w.put(v, routeIndex, tech.routeIndexU8(tsMillis))
            new GenericInternalRow(v) :: Nil
          } else {
            // the last event takes the turn row itself, the others a copy
            val last = results.length - 1
            var i = -1
            results.map { case (ev, ok) =>
              i += 1
              flatten(w, if (i == last) v else v.clone(), ev, ok, i, tech, tsMillis, text, textU8)
            }
          }
        }
      }
  }

  // ---- Flatten inversion (round 6, guide §1.2 "per-task work") ----------
  // flatten walks the event tree ONCE, scattering populated leaves into
  // their slots through a segment trie built from the column table —
  // O(populated fields), not O(schema width).

  /** Trie over path segments; a terminal node carries the flatten ordinal
    * and conversion kind of the column ending there. */
  private final class FTrie {
    val children = new java.util.HashMap[String, FTrie]()
    var ordinal: Int = -1
    var kind: Int = -1
  }

  private val flattenTrie: FTrie = new FTrie

  /** Tag-derived boolean columns (ordinal, tagTrue, tagFalse); also builds
    * [[flattenTrie]]. */
  private val privOrdinals: Array[(Int, String, String)] = {
    val privs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
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
      }
    }
    privs.toArray
  }

  /** Fill `v`, a copy of the turn's row, with the columns of event `ev`
    * (the `i`-th of its turn). */
  private def flatten(w: Writer, v: Array[Any], ev: Event, ok: Boolean, i: Int, tech: Tech,
                      tsMillis: Long, textStr: String, textU8: UTF8String): InternalRow = {
    w.put(v, subIdx, i)
    if (w.has(parseRule)) {
      val pr = ev.valueOrNull("[agent][parse_rule]") match {
        case x: String => x
        case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
          a.collect { case x: String => x }.mkString(",") // stacked add_field rules
        case _ => null
      }
      v(w.slot(parseRule)) = if (pr == null) notParsed else UTF8String.fromString(pr)
    }
    w.put(v, parseOk, ok)
    if (w.has(tagsCol) && ev.tags.nonEmpty) { // sorted
      val t = ev.tags.toArray
      java.util.Arrays.sort(t.asInstanceOf[Array[Object]])
      val o = new Array[Any](t.length)
      var j = 0
      while (j < t.length) { o(j) = UTF8String.fromString(t(j)); j += 1 }
      v(w.slot(tagsCol)) = new GenericArrayData(o)
    }
    if (w.has(routeIndex))
      v(w.slot(routeIndex)) = ev.getString("[@metadata][output]") match { // conf-level index override
        case Some(o) => UTF8String.fromString(o)
        case None => tech.routeIndexU8(tsMillis)
      }
    w.put(v, routeOutputs, tech.routeOutputs) // shared immutable constant
    // event-derived section: tag-derived booleans, then ONE walk of the
    // populated event tree (absent leaves keep their null/empty-array default)
    var j = 0
    while (j < privOrdinals.length) {
      val (ord, tagTrue, tagFalse) = privOrdinals(j)
      if (w.has(ord))
        v(w.slot(ord)) = if (ev.hasTag(tagTrue)) java.lang.Boolean.TRUE
                         else if (ev.hasTag(tagFalse)) java.lang.Boolean.FALSE else null
      j += 1
    }
    scatter(ev.root, flattenTrie, v, w.slot, textStr, textU8)
    new GenericInternalRow(v)
  }

  /** Walk one level of the event tree against the flatten trie, converting
    * each matched leaf of a column with a `slot` per its column kind; absent
    * columns keep their defaults. Descends only into nested maps — an ArrayBuffer at an
    * intermediate segment never matches (mirrors Event.partsOrNull, whose
    * array probe requires a numeric segment; no flatten path has one).
    *
    * `textStr`/`textU8`: the input text and its already-encoded UTF8String.
    * A string column whose value IS the input text object (reference
    * equality — `message`, and `log_original` which e01 copies from the
    * same object) reuses that encoding instead of re-encoding the largest
    * string in the row (UTF8Strings are immutable, so sharing is safe). */
  private def scatter(m: Event.FMap, node: FTrie, v: Array[Any],
                      slot: Array[Int], textStr: String, textU8: UTF8String): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val child = node.children.get(e.getKey)
      if (child != null) {
        val value = e.getValue
        if (child.ordinal >= 0 && slot(child.ordinal) >= 0) {
          val conv = convertLeaf(value, child.kind, textStr, textU8)
          if (conv != null) v(slot(child.ordinal)) = conv
        }
        value match {
          case mm: Event.FMap if !child.children.isEmpty =>
            scatter(mm, child, v, slot, textStr, textU8)
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
