package graft.pipeline

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import graft.enrich.{Dicts, Enrich}
import graft.model.Event
import graft.rules.{Dropped, Parsed, ParseCtx, ParseOutcome, Program, Registry, TechnologyConfig}

/** The per-turn core of the fused parse→enrich kernel: one turn in, 0..N
  * enriched events out, which [[RowKernel]] flattens to rows inside the
  * GraftParse plan node — one serialization boundary for the whole
  * record-level pipeline (SURVEY.md §2.7/§4). Pure function of
  * (turn, dicts): no wall-clock, no network, no mutable global state beyond
  * per-JVM compiled-pattern caches.
  */
object Engine {

  private val dayFmt = DateTimeFormatter.ofPattern("yyyy.MM.dd").withZone(ZoneOffset.UTC)

  /** parse-STAGE failure predicate. Evaluated after the parse program but
    * BEFORE the enrichment chain runs, so enrichment-stage grok tags (e.g.
    * `_grokparsefailure_user_agent_1` from 10_user_agent_enrichment.conf,
    * which only triggers field cleanup in the reference) can never flip a
    * successfully parsed event to failed. */
  private def parseOkOf(ev: Event): Boolean =
    !ev.hasTag("_parse_failure") &&
      !ev.tags.exists(tag => tag.startsWith("_dissectfailure") ||
        tag.startsWith("_grokparsefailure") || tag == "dissect_failure_1")

  /** Parse context of a turn at `tsMillis`: the time and its UTC year. */
  def parseCtx(tsMillis: Long): ParseCtx =
    ParseCtx(tsMillis, Instant.ofEpochMilli(tsMillis).atZone(ZoneOffset.UTC).getYear)

  /** The kernel preamble, then the program's cardinality step: a fresh
    * event holding `text` as `message`, the input codec applied, and a
    * scalar `host` copied to [agent][name]. The preamble is 1:1 and never
    * drops. The events returned may still be owed their 1:1 body
    * (`Pending`); [[parse]] runs it. */
  def events(cfg: TechnologyConfig, program: Program,
             text: String, ctx: ParseCtx, dicts: Dicts): ParseOutcome = {
    graft.rules.RuleDicts.set(dicts) // parse-stage translates (cisco)
    val ev = new Event
    ev.set("message", if (text == null) "" else text)
    // Input-stage codec: `kafka_input.codec == "json"` decodes the payload
    // object into the event root (the only tech shipping this in the
    // reference's settings is a10.proxy — ref: build_scripts/settings.json
    // "kafka_input": {"codec": "json"}); a non-object / invalid payload
    // keeps the raw text in `message` with `_jsonparsefailure`.
    if (cfg.jsonCodec) graft.parse.JsonOps.parse(ev, "message", "")
    // Generic input normalization from the shared kafka input template
    // (ref: config/inputs/kafka/1_kafka_input_template.conf:37-43): if
    // `host` is not a Hash, copy it to [agent][name]. When `host` is absent
    // the reference sets [agent][name] to Ruby nil (nil.is_a?(Hash) is
    // false) — output-identical to leaving it unset, so we skip the write
    // rather than storing a null the enrichment walkers would re-scrub.
    ev.valueOrNull("host") match {
      case null => ()
      case _: Event.FMap => ()
      case hostScalar => ev.set("[agent][name]", Event.deepCopy(hostScalar))
    }
    program.events(ev, ctx)
  }

  /** The kernel preamble, then the whole parse program: `Dropped`, or the
    * turn's finished events. */
  def parse(cfg: TechnologyConfig, program: Program,
            text: String, ctx: ParseCtx, dicts: Dicts): ParseOutcome =
    Program.finish(events(cfg, program, text, ctx, dicts), ctx)

  /** Shared kernel core: parse the turn, stamp parse_ok per produced
    * event, then run the enrichment chain. Returns null when the turn was
    * dropped (`drop {}`), else (event, parse_ok) pairs in sub_idx order.
    * Pure function of (tool, text, tsMillis, dicts). */
  def parseAndEnrich(cfg: TechnologyConfig, program: Program,
                     text: String, tsMillis: Long, dicts: Dicts): Seq[(Event, Boolean)] = {
    val ctx = parseCtx(tsMillis)
    parse(cfg, program, text, ctx, dicts) match {
      case Dropped => null
      case Parsed(events) =>
        val ectx = Enrich.Ctx(tsMillis, ctx.tsYear)
        events.map { e =>
          val ok = parseOkOf(e)
          Enrich(e, cfg, dicts, ectx)
          (e, ok)
        }
    }
  }

  /** Counts-only variant: the output CARDINALITY of a turn, from the
    * program's cardinality step alone. Valid because only parse programs
    * drop (`drop {}`) or split (newline and records[] envelopes), and they
    * decide it before their 1:1 body; the preamble, the body and the
    * enrichment chain are 1:1 field transforms. The grouped columns of the
    * counts aggregate (technology/role/tool/ts/route_outputs) all come from
    * the input row and the static TechnologyConfig, never from the Event.
    * A program with no cardinality step yields 1 without building an event
    * or reading `text`. A body that would throw is not run, so the turn
    * still counts. GraftParse runs this (its counts mode) when the plan
    * above it reads only those columns. */
  def parseCardinality(cfg: TechnologyConfig, program: Program,
                       text: => String, tsMillis: Long, dicts: Dicts): Int =
    if (!program.splits) 1
    else Program.cardinality(events(cfg, program, text, parseCtx(tsMillis), dicts))

  def techOf(tool: String): (TechnologyConfig, Program) =
    (Registry.configs.getOrElse(tool, Registry.configs("unknown")),
      Registry.programs.getOrElse(tool, Registry.programs("unknown")))

  /** Elastic-style dated index (ref: config/outputs/elastic_output.conf:6-15
    * `%{[@metadata][output]}` with `%{+xxxx.MM.dd}` date pattern) — derived
    * from event time, deterministic. */
  def routeIndex(cfg: TechnologyConfig, tsMillis: Long): String =
    cfg.indexName + "_" + dayFmt.format(Instant.ofEpochMilli(tsMillis))
}
