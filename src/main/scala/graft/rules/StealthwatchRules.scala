package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** cisco.stealthwatch — semantic port of
  * syslog_security_cisco.stealthwatch.conf (126 lines): shared header
  * dissect (both {name=} branches identical in the reference), then the
  * three payload shapes — comma CSV (RULE 1, with the localhost
  * destination demotion), CSV-with-pipe rule name (RULE 2) and the
  * pipe-kv alarm (RULE 3). Quirk: the `=~ "|"` gates are an EMPTY regex
  * alternation that matches everything — RULE 3 fires for any rest with
  * '=' regardless of pipes, mirrored. */
object StealthwatchRules {

  private val headDissect =
    "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[source][address]]} %{[[process][name]]}[%{[[process][pid]]}]: %{rest_msg}"

  private val startFormats =
    Seq("MMM dd HH:mm:ss", "ISO8601", "yyyy-MM-dd'T'HH:mm:ss'TZD'")

  def stealthwatch(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.stealthwatch")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    Mutate.strip(ev, "actual_msg")
    // ref :25-38 — both branches of the {name=} conditional are identical
    if (ev.getString("message").exists(_.contains("{name=")))
      Dissect(ev, "actual_msg", headDissect)
    else
      Dissect(ev, "actual_msg", headDissect)
    val rm = ev.getString("rest_msg").getOrElse("")
    if (!rm.contains("=") && !rm.contains("|")) { // ref :39-61 — RULE 1
      ev.mergeInto("[agent][parse_rule]", "RULE 1")
      Dissect(ev, "rest_msg",
        "%{?data},%{[[source][port]]},%{[[event][start]]}+%{?data},%{[[user][name]]},%{[[destination][ip]]},%{?data},%{[[event][action]]}")
      if (ev.getString("[destination][ip]").contains("localhost")) {
        ev.rename("[destination][ip]", "[destination][address]")
        ev.remove("[destination][ip]")
      }
      if (Dates(ev, "[event][start]", startFormats, "[event][start_ms]",
        timezone = "GMT", locale = "en", defaultYear = ctx.tsYear))
        ev.remove("[event][start]")
    } else if (!rm.contains("=")) { // ref :62-77 — RULE 2 (`=~ "|"` is vacuous)
      ev.mergeInto("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "rest_msg",
        "%{?data},%{[[source][port]]},%{[[event][start]]}+%{?data},%{[[rule][name]]}|%{?data},%{[[destination][ip]]},%{?data},%{[[event][action]]}")
      if (Dates(ev, "[event][start]", startFormats, "[event][start_ms]",
        timezone = "GMT", locale = "en", defaultYear = ctx.tsYear))
        ev.remove("[event][start]")
    } else { // ref :78-106 — RULE 3 (gate is just "contains =")
      ev.mergeInto("[agent][parse_rule]", "RULE 3")
      Kv(ev, "rest_msg", '|', '=', target = "sw")
      ev.rename("[sw][SourceHostname]", "[source][address]")
      ev.rename("[sw][TargetMacAddress]", "[destination][mac]")
      ev.rename("[sw][Duration]", "[event][duration]")
      ev.rename("[sw][SourceIP]", "[source][ip]")
      ev.rename("[sw][event.status]", "[rule][description]")
      ev.rename("[sw][TargetHostname]", "[destination][address]")
      ev.rename("[sw][Target]", "[destination][ip]")
      ev.rename("[sw][Port]", "[destination][port]")
      ev.rename("[sw][AlarmID]", "[event][id]")
      ev.rename("[sw][AlarmName]", "[rule][name]")
      ev.rename("[sw][AlarmSeverity]", "[event][severity_name]")
      ev.remove("sw")
      ev.mergeInto("[rule][category]", "Audit/Information")
    }
    if (!Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss", "MMM d HH:mm:ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure"), defaultYear = ctx.tsYear)) { // ref :107-117
      if (ev.hasTag("_dateparsefailure")) ev.remove("[event][created]")
    } else ev.remove("[event][created]")
    Seq("[log][date_time]", "host", "port", "rest_msg", "actual_msg").foreach(ev.remove) // ref :118-121
  }
}
