package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.enrich.Dicts
import graft.model.Event
import graft.rules.{ParseCtx, ParseOutcome, TechnologyConfig}

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

  /** Output schema — derived from the ParsedTurn declaration, which nests
    * its 254th-parameter overflow in `ext` (JVM case-class limit, see
    * Schema.scala); a row has no such limit, so the kernel's table stays
    * FLAT — ext's fields are spliced inline in declaration order. */
  val schema: StructType = {
    val base = org.apache.spark.sql.Encoders.product[graft.model.ParsedTurn].schema
    val ext = org.apache.spark.sql.Encoders.product[graft.model.ParsedTurnExt].schema
    StructType(base.fields.filter(_.name != "ext") ++ ext.fields)
  }
  private val numFields = schema.length

  private val emptyArray = new GenericArrayData(Array.empty[Any])
  private val droppedRule = UTF8String.fromString("dropped")
  private val notParsed = UTF8String.fromString("not parsed")
  private val arrayOrdinals: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, idx) if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => idx
  }

  /** Per-partition compiled technology entry: config + program + reusable
    * constant columns (raw input tool value, technology name, route_outputs
    * array, dated index cached per epoch-day — log batches are
    * time-clustered). Emitted UTF8Strings are immutable, so sharing one
    * instance across all of a partition's rows is safe. */
  private final class Tech(val toolU8: UTF8String, // raw input value (passthrough column)
                           val cfg: TechnologyConfig,
                           val program: (Event, ParseCtx) => ParseOutcome) {
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
    * compiled technology, `ts` in micros and millis, and the decoded text.
    * `f` returns the turn's output rows. */
  private def eachTurn(it: Iterator[InternalRow])(
      f: (InternalRow, Tech, Long, Long, String) => IterableOnce[InternalRow]): Iterator[InternalRow] = {
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
      val tsMicros = row.getLong(5)
      val text = if (row.isNullAt(3)) null else row.getUTF8String(3).toString
      f(row, tech, tsMicros, Math.floorDiv(tsMicros, 1000L), text)
    }
  }

  /** One partition of input rows → 0..N output rows each. `emitDropped`
    * additionally materializes one marker row (parse_rule='dropped', empty
    * route_outputs) per `drop {}`-ed input turn so a single pass can
    * account for conservation metrics — used by Sink; the query path
    * filters at the source by not asking.
    *
    * Lazy flatten: `mask(ordinal)` selects which columns to materialize —
    * unselected Event-derived fields stay null and skip their map walk +
    * UTF8String conversion entirely, which is the wide path's DRAM traffic.
    * The 13 context columns (conv/turn/.../route) are always populated.
    * Output schema is unchanged (GraftParseExec projects the selected
    * columns); `null` mask = full flatten. */
  def process(it: Iterator[InternalRow], dicts: Dicts,
              emitDropped: Boolean, mask: Array[Boolean]): Iterator[InternalRow] =
    eachTurn(it) { (row, tech, tsMicros, tsMillis, text) =>
      val results = Engine.parseAndEnrich(tech.cfg, tech.program, text, tsMillis, dicts)
      if (results == null && !emitDropped) Nil
      else {
        val convU8 = if (row.isNullAt(0)) null else row.getUTF8String(0).clone()
        val turnIdx = row.getInt(1)
        val roleU8 = if (row.isNullAt(2)) null else row.getUTF8String(2).clone()
        val textU8 = if (row.isNullAt(3)) null else row.getUTF8String(3).clone()
        if (results == null)
          droppedRow(tech, convU8, turnIdx, roleU8, textU8, tsMicros, tsMillis) :: Nil
        else {
          var i = -1
          results.map { case (ev, parseOk) =>
            i += 1
            flatten(ev, parseOk, i, tech, convU8, turnIdx, roleU8, textU8, tsMicros, tsMillis,
              mask, text)
          }
        }
      }
    }

  /** Count of always-populated context columns at the head of the flatten
    * put order (conv_id..route_outputs). Shared by maskFor and asserted at
    * the point in flatten where the Event-derived section begins, so a
    * later context-column insertion cannot silently misalign the mask. */
  val numContextCols = 13

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
  // The round-5 flatten probed all ~280 Event-derived paths per row (each a
  // 2-4 level map walk → ~700 hash gets/row) even though a typical event
  // populates only a few dozen leaves. The spec below declares the same
  // columns in the same put order; flatten now walks the event tree ONCE,
  // scattering populated leaves into their ordinals through a precomputed
  // segment trie — O(populated fields), not O(schema width).

  private final val KS = 0 // string column (stringAtParts semantics)
  private final val KL = 1 // long column (Long | numeric-string | Double)
  private final val KA = 2 // array-of-string column (scalar promoted)

  /** One Event-derived column: a (path, kind) probe, or a tag-pair derived
    * boolean (`priv`) when `path == null`. */
  private final class DCol(val path: String, val kind: Int,
                           val tagTrue: String, val tagFalse: String)

  /** Trie over path segments; a terminal node carries the flatten ordinal
    * and conversion kind of the column ending there. */
  private final class FTrie {
    val children = new java.util.HashMap[String, FTrie]()
    var ordinal: Int = -1
    var kind: Int = -1
  }

  /** Counts-only 5-column schema (see Engine.parseCardinality). */
  val countSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("technology", StringType),
      StructField("role", StringType),
      StructField("tool", StringType),
      StructField("ts", TimestampType),
      StructField("route_outputs", ArrayType(StringType))))
  }

  /** Counts-only kernel: same parse dispatch, no enrichment chain, no wide
    * flatten — one reused 5-column row emitted `cardinality` times per
    * input turn.
    *
    * ROW-OBJECT CAVEAT (exception to this file's header contract): the
    * emitted rows share ONE mutable GenericInternalRow. This is only safe
    * because the sole consumer, GraftParseExec, projects each row to an
    * UnsafeRow before pulling the next — a cache/sort/collect over this
    * iterator would silently see the last row N times. */
  def processCounts(it: Iterator[InternalRow], dicts: Dicts): Iterator[InternalRow] = {
    val out = new Array[Any](5)
    val row = new GenericInternalRow(out)
    eachTurn(it) { (r, tech, tsMicros, tsMillis, text) =>
      val n = Engine.parseCardinality(tech.cfg, tech.program, text, tsMillis, dicts)
      if (n == 0) Nil
      else {
        out(0) = tech.techU8
        out(1) = if (r.isNullAt(2)) null else r.getUTF8String(2).clone()
        out(2) = tech.toolU8
        out(3) = tsMicros
        out(4) = tech.routeOutputs
        Iterator.fill(n)(row)
      }
    }
  }

  private def droppedRow(tech: Tech, convU8: UTF8String, turnIdx: Int,
                         roleU8: UTF8String, textU8: UTF8String,
                         tsMicros: Long, tsMillis: Long): InternalRow = {
    val v = new Array[Any](numFields)
    var j = 0
    while (j < arrayOrdinals.length) { v(arrayOrdinals(j)) = emptyArray; j += 1 }
    v(0) = convU8; v(1) = turnIdx; v(2) = 0; v(3) = roleU8; v(4) = tech.toolU8
    v(5) = tsMicros; v(6) = textU8; v(7) = tech.techU8; v(8) = droppedRule
    v(9) = false; v(11) = tech.routeIndexU8(tsMillis)
    new GenericInternalRow(v)
  }

  /** Event-derived columns in flatten put order (ordinal = numContextCols +
    * index). The column list is the round-5 flatten body VERBATIM — it is
    * frozen by the output schema; only the execution strategy changed
    * (trie scatter instead of ~280 per-column path probes), in ParsedTurn
    * declaration order. */
  private val derivedCols: Array[DCol] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[DCol]
    def s(p: String): Unit = b += new DCol(p, KS, null, null)
    def l(p: String): Unit = b += new DCol(p, KL, null, null)
    def arr(p: String): Unit = b += new DCol(p, KA, null, null)
    def priv(tagTrue: String, tagFalse: String): Unit =
      b += new DCol(null, -1, tagTrue, tagFalse)
    s("message")
    s("[log][original]")
    s("[event][module]")
    s("[event][dataset]")
    s("[event][kind]")
    s("[event][category]")
    s("[event][type]")
    s("[event][action]")
    s("[event][outcome]")
    s("[event][provider]")
    l("[event][severity]")
    l("[event][created_ms]")
    l("[event][end_ms]")
    s("[event][hash]")
    s("[source][ip]")
    s("[source][address]")
    l("[source][port]")
    s("[source][mac]")
    priv("sip_private", "sip_public")
    s("[source][geo][country_iso_code]")
    s("[source][geo][city_name]")
    s("[destination][ip]")
    l("[destination][port]")
    priv("dip_private", "dip_public")
    s("[destination][geo][country_iso_code]")
    s("[destination][geo][city_name]")
    s("[destination][domain]")
    s("[network][transport]")
    s("[network][protocol]")
    s("[network][iana_number]")
    l("[network][bytes]")
    l("[network][packets]")
    l("[log][syslog][facility][code]")
    s("[log][syslog][facility][name]")
    l("[log][syslog][severity][code]")
    s("[log][syslog][severity][name]")
    s("[log][source][hostname]")
    s("[rule][name]")
    s("[rule][description]")
    s("[rule][category]")
    s("[rule][version]")
    s("[rule][ruleset]")
    s("[host][name]")
    s("[host][id]")
    s("[user][name]")
    s("[user][email]")
    s("[user][full_name]")
    s("[url][original]")
    s("[url][domain]")
    s("[url][path]")
    s("[url][query]")
    s("[url][top_level_domain]")
    s("[url][registered_domain]")
    s("[service][name]")
    s("[service][version]")
    s("[cloud][provider]")
    s("[cloud][account][id]")
    s("[observer][vendor]")
    s("[observer][product]")
    s("[observer][egress][interface][id]")
    s("[error][code]")
    s("[threat][tactic][name]")
    s("[threat][tactic][reference]")
    l("[process][pid]")
    s("[source][nat][ip]")
    s("[http][request][method]")
    l("[source][bytes]")
    l("[destination][bytes]")
    s("[host][ip]")
    s("[event][id]")
    s("[user_agent][original]")
    s("[browser][name]")
    s("[browser][version]")
    s("[user_agent][device][name]")
    s("[user_agent][os][family]")
    s("[user_agent][os][platform]")
    s("[user_agent][os][version]")
    arr("[related][ip]")
    arr("[related][hosts]")
    arr("[related][user]")
    s("[host][hostname]")
    s("[host][domain]")
    s("[event][reason]")
    s("[event][recommendation]")
    l("[event][start_ms]")
    s("[observer][ingress][interface][name]")
    s("[log][level]")
    s("[source][domain]")
    s("[user_agent][os][name]")
    s("[user][id]")
    s("[user][roles]")
    s("[user][type]")
    s("[destination][user][id]")
    s("[destination][user][email]")
    s("[destination][user][full_name]")
    s("[transaction][id]")
    s("[cloud][region]")
    s("[file][directory]")
    s("[file][name]")
    s("[service][type]")
    s("[error][message]")
    s("[threat][indicator][ip]")
    s("[threat][indicator][provider]")
    arr("[related][mac]")
    arr("[related][hash]")
    s("[destination][address]")
    s("[url][full]")
    s("[client][ip]")
    s("[source][user][email]")
    s("[rule][id]")
    s("[rule][uuid]")
    s("[rule][reference]")
    s("[event][status]")
    l("[threat][list][created_ms]")
    s("[group][id]")
    s("[event][severity_name]")
    l("[event][modified_ms]")
    arr("[threat][technique][id]")
    arr("[file][attributes]")
    l("[file][size]")
    arr("[rule][author]")
    s("[trace][id]")
    l("[event][risk_score]")
    l("[vulnerability][score][base]")
    l("[event][risk_score_norm]")
    s("[email][subject]")
    s("[email][header_from]")
    s("[email][header_replyto]")
    s("[url][scheme]")
    l("[event][ingested_ms]")
    s("[event][duration]")
    s("[cloud][instance][name]")
    l("[http][response][status_code]")
    l("[http][request][bytes]")
    l("[http][response][bytes]")
    s("[http][request][referrer]")
    s("[user_agent][name]")
    s("[tls][cipher]")
    s("[tls][version_protocol]")
    s("[tls][next_protocol]")
    s("[tls][client][server_name]")
    s("[database][user][name]")
    s("[organization][id]")
    s("[event][url]")
    s("[server][user][group][id]")
    s("[source][name]")
    s("[file][extension]")
    s("[file][type]")
    s("[observer][name]")
    s("[event][code]")
    s("[event][sequence]")
    s("[observer][ip]")
    l("[observer][port]")
    s("[process][command_line]")
    s("[network][name]")
    s("[labels][tags]")
    s("[file][target_path]")
    s("[database][instance]")
    s("[process][name]")
    s("[network][forwarded_ip]")
    s("[cloud][instance][id]")
    s("[http][request][mime_type]")
    s("[http][cookie][name]")
    l("[source][as][number]")
    l("[destination][as][number]")
    s("[observer][ingress][interface][id]")
    s("[cloud][availability_zone]")
    s("[container][image][name]")
    s("[service][state]")
    s("[cloud][machine][type]")
    s("[user][group][name]")
    s("[user][group][id]")
    arr("[cloud][project][name]")
    s("[source][as][organization][name]")
    s("[log][syslog][priority]")
    s("[threat][technique][name]")
    s("[network][direction]")
    s("[server][address]")
    l("[client][port]")
    s("[http][version]")
    s("[source][user][id]")
    s("[source][user][full_name]")
    s("[source][user][domain]")
    s("[destination][nat][ip]")
    s("[service][ephemeral_id]")
    s("[host][os][name]")
    s("[host][os][version]")
    s("[threat][list][category]")
    s("[threat][list][attribute_tag]")
    s("[agent][name]")
    s("[database][name]")
    s("[database][table]")
    s("[database][field_names]")
    s("[database][user][id]")
    s("[database][user][email]")
    s("[database][user][full_name]")
    s("[event][original]")
    s("[error][id]")
    s("[file][path]")
    s("[client][user][title]")
    s("[client][user][name]")
    s("[client][domain]")
    s("[host][user][title]")
    s("[host][user][roles]")
    l("[host][disk][read][bytes]")
    s("[package][type]")
    s("[threat][list][uuid]")
    s("[threat][list][type]")
    s("[threat][list][ioc]")
    s("[threat][list][event_id]")
    l("[threat][list][start_ms]")
    s("[threat][list][severity_name]")
    s("[threat][list][event_analysis]")
    s("[threat][list][distribution]")
    s("[threat][list][safe_to_enable_ids]")
    s("[threat][list][source_org]")
    s("[threat][list][event_info]")
    s("[threat][list][object_relation]")
    s("[threat][list][comment]")
    s("[threat][framework]")
    s("[source][user][name]")
    s("[group][name]")
    s("[server][ip]")
    l("[server][port]")
    l("[source][nat][port]")
    s("[host][serial]")
    s("[server][user][id]")
    s("[tls][client][subject]")
    s("[source][user][roles]")
    s("[user][domain]")
    s("[host][mac]")
    s("[observer][hostname]")
    s("[observer][version]")
    s("[host][os][family]")
    s("[host][model]")
    s("[host][manufacturer]")
    s("[process][executable]")
    s("[organization][name]")
    s("[error][type]")
    s("[destination][user][name]")
    s("[container][id]")
    l("[process][start_ms]")
    s("[process][hash][md5]")
    l("[process][parent][start_ms]")
    s("[process][parent][name]")
    l("[process][parent][pid]")
    s("[process][parent][hash][sha1]")
    s("[process][parent][hash][sha256]")
    arr("[file][hash][md5]")
    arr("[file][hash][sha1]")
    arr("[file][hash][sha256]")
    arr("[file][hash][sha512]")
    s("[alarm][id]")
    s("[process][pe][company]")
    s("[process][pe][description]")
    s("[process][pe][file_version]")
    s("[process][pe][original_file_name]")
    s("[event][reference]")
    s("[host][geo][name]")
    s("[client][as][organization][name]")
    s("[host][geo][location]")
    s("[observer][ingress][interface][alias]")
    s("[process][entity_id]")
    s("[process][parent][command_line]")
    l("[process][pgid]")
    s("[file][uid]")
    s("[log][origin][function]")
    s("[log][origin][file][line]")
    s("[dns][answers][class]")
    s("[log][logger]")
    s("[process][thread][name]")
    s("[span][id]")
    s("[file][mime_type]")
    s("[container][runtime]")
    s("[container][image][tag]")
    s("[container][name]")
    s("[cloud][project][id]")
    s("[cloud][account][name]")
    s("[cloud][service][name]")
    l("[host][os][installation_date_ms]")
    s("[host][logged_in_users]")
    s("[host][last_logged_in_user]")
    s("[host][timezone]")
    s("[host][os][type]")
    s("[log][source][ip]")
    s("[process][id]")
    s("[observer][type]")
    s("[event][description]")
    l("[log][offset]")
    s("[log][file][path]")
    s("[ecs][version]")
    s("[client][nat][ip]")
    s("[host][user][name]")
    s("[user_agent][version]")
    s("[source][user][group][name]")
    s("[log][origin][file][name]")
    l("[client][bytes]")
    s("[dns][header_flags]")
    l("[process][uptime]")
    s("[client][address]")
    s("[client][user][roles]")
    s("[destination][host][name]")
    s("[server][host][name]")
    s("[host][geo][country_iso_code]")
    s("[dns][answers][type]")
    s("[file][gid]")
    s("[service][id]")
    s("[database][query]")
    s("[dns][op_code]")
    s("[dns][question][name]")
    s("[dns][question][class]")
    s("[dns][question][type]")
    s("[dns][response_code]")
    s("[dns][resolved_ip]")
    s("[dns][answers][data]")
    s("[dns][answers][name]")
    s("[dns][id]")
    s("[host][type]")
    s("[package][name]")
    b.toArray
  }

  private val flattenTrie: FTrie = new FTrie

  /** Tag-derived boolean columns (ordinal, tagTrue, tagFalse) and the
    * ordinals defaulting to the shared empty array; also builds
    * [[flattenTrie]] and asserts the spec covers the schema exactly. */
  private val (privOrdinals, derivedArrOrdinals): (Array[(Int, String, String)], Array[Int]) = {
    val privs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    val arrs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var idx = 0
    while (idx < derivedCols.length) {
      val c = derivedCols(idx)
      val ord = numContextCols + idx
      if (c.path == null) privs += ((ord, c.tagTrue, c.tagFalse))
      else {
        var n = flattenTrie
        graft.model.Event.parsePath(c.path).foreach { seg =>
          var ch = n.children.get(seg)
          if (ch == null) { ch = new FTrie; n.children.put(seg, ch) }
          n = ch
        }
        require(n.ordinal == -1, s"duplicate flatten path ${c.path}")
        n.ordinal = ord
        n.kind = c.kind
        if (c.kind == KA) arrs += ord
      }
      idx += 1
    }
    require(numContextCols + derivedCols.length == numFields,
      s"flatten spec covers ${numContextCols + derivedCols.length} of $numFields fields")
    (privs.toArray, arrs.toArray)
  }

  private def flatten(ev: Event, parseOk: Boolean, subIdx: Int, tech: Tech,
                      convU8: UTF8String, turnIdx: Int, roleU8: UTF8String,
                      textU8: UTF8String, tsMicros: Long, tsMillis: Long,
                      mask: Array[Boolean] = null, textStr: String = null): InternalRow = {
    val v = new Array[Any](numFields)
    v(0) = convU8                     // conv_id
    v(1) = turnIdx                    // turn_idx
    v(2) = subIdx                     // sub_idx
    v(3) = roleU8                     // role
    v(4) = tech.toolU8                // tool — raw input value passthrough
    v(5) = tsMicros                   // ts
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
    case KS => value match {
      case x: String =>
        if ((x eq textStr) && textU8 != null) textU8 else UTF8String.fromString(x)
      case x: Long => UTF8String.fromString(x.toString)
      case x: Double => UTF8String.fromString(graft.model.Event.numToString(x))
      case x: Boolean => UTF8String.fromString(x.toString)
      case _ => null
    }
    case KL => value match {
      case x: Long => java.lang.Long.valueOf(x)
      case x: String => x.toLongOption match {
        case Some(n) => java.lang.Long.valueOf(n)
        case None => null
      }
      case x: Double => java.lang.Long.valueOf(x.toLong)
      case _ => null
    }
    case _ => value match { // KA
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
