package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, SyslogPri}

/** symantec.dlp — semantic port of syslog_security_symantec.dlp.conf (113
  * lines; the SURVEY §2.3 `kv` exemplar, ref :26-31).
  *
  * Flow: header grok + syslog_pri (:12-20); the 3-token `%{+[[event]
  * [created]]}` syslog-date dissect with `->` padding on the first token
  * (single-digit days arrive as `MMM  d`) and the 8-pipe CEF split whose
  * tail lands in `somedata` (:21-26); `kv` over somedata with
  * `value_split => "="` and `field_split => "\r\n"` — a CHARACTER CLASS,
  * either CR or LF splits — into `[dlp]` (:27-33); the two remove_field
  * lists naming TOP-LEVEL `REPORTED_ON`/`INCIDENT_SNAPSHOT`/… (:35-39)
  * which are NO-OPS — kv put everything under [dlp], and [dlp] is removed
  * wholesale at :99 anyway (mirrored as nothing); 24 [dlp] renames to ECS
  * (:41-73); the FNAME/FILE_NAME conditional whose guard compares against
  * the 4-char literal `N\/A` — Logstash double-quoted strings keep unknown
  * escapes verbatim, so a real `N/A` value does NOT equal it and the rename
  * fires anyway (reference bug, mirrored; only a literal `N\/A` payload
  * suppresses the first arm and falls to FILE_NAME) (:74-83); the
  * url.full → rule.reference copy (:85-87) which runs BEFORE enrichment 07,
  * so rule.reference keeps original case while url.full is lowercased
  * (rule.reference is not on the 681-path list); the source.ip sanity check
  * `!~ "." or =~ "N" or =~ " " or =~ "A"` — `.` is a regex any-char, so
  * `!~ "."` means EMPTY; any N/space/A anywhere kills the ip and stamps
  * parse_rule "RULE 1(no ip)" (:88-95); the `"null null"`
  * destination.address scrub (:96-98); remove of [dlp]/somedata/actual_msg
  * (:99-101); the year-less GMT date (`MMM dd`/`MMM d`) on [event][created]
  * (:102-107); and the host.hostname → host.name copy whose guard
  * `[host][hostname] != "" or [host][hostname][0] != ""` is VACUOUS — on a
  * scalar the `[0]` probe yields nil which `!=` "" — so the copy runs
  * whenever hostname exists (:109-113, mirrored as a bare presence check).
  * The copy precedes enrichment 18's host_split, so host.name keeps the
  * FQDN while host.hostname is split into name + [host][domain].
  *
  * Neither [event][module] nor [event][dataset] is ever set — this conf has
  * no add_field for them and no enrichment defaults them (mirrored: both
  * flatten NULL). parse_rule only exists on no-ip rows.
  */
object SymantecDlpRules {

  private val bodyDissect =
    "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][hostname]]} %{?data}|%{?data}|%{?data}|%{?data}|%{[[rule][ruleset]]}|%{[[rule][name]]}|%{?data}|%{somedata}"

  private val renames = Seq( // ref :41-73
    "[dlp][MONITOR_NAME]" -> "[rule][ruleset]",
    "[dlp][POLICY]" -> "[rule][description]",
    "[dlp][RULES]" -> "[rule][name]",
    "[dlp][SUBJECT]" -> "[email][subject]",
    "[dlp][PATH]" -> "[file][path]",
    "[dlp][PARENT_PATH]" -> "[process][parent][executable]",
    "[dlp][SEVERITY]" -> "[event][severity_name]",
    "[dlp][TARGET]" -> "[file][target_path]",
    "[dlp][BLOCKED]" -> "[event][action]",
    "[dlp][PROTOCOL]" -> "[network][protocol]",
    "[dlp][INCIDENT_ID]" -> "[event][id]",
    "[dlp][APPLICATION_NAME]" -> "[network][application]",
    "[dlp][URL]" -> "[url][full]",
    "[dlp][ENDPOINT_DEVICE_ID]" -> "[host][id]",
    "[dlp][SENDER]" -> "[source][user][email]",
    "[dlp][DATAOWNER_EMAIL]" -> "[user][email]",
    "[dlp][RECIPIENT]" -> "[destination][user][email]",
    "[dlp][DESTINATION_ADDRESS]" -> "[destination][address]",
    "[dlp][MACHINE_IP]" -> "[source][ip]",
    "[dlp][ENDPOINT_MACHINE]" -> "[host][hostname]",
    "[dlp][APPLICATION_USER]" -> "[source][user][name]",
    "[dlp][ENDPOINT_USERNAME]" -> "[user][name]",
    "[dlp][DATAOWNER_NAME]" -> "[file][owner]")

  def dlp(ev: Event, ctx: ParseCtx): Unit = {
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :12-16
    SyslogPri(ev) // ref :17-20
    Dissect(ev, "actual_msg", bodyDissect) // ref :21-26
    Kv.withPattern(ev, "somedata", "[\r\n]", '=', target = "dlp") // ref :27-33
    // :35-39 — remove_field of top-level REPORTED_ON/…/MATCH_COUNT: no-ops
    renames.foreach { case (from, to) => ev.rename(from, to) } // ref :41-73
    ev.getString("[dlp][FNAME]") match { // ref :74-83 — `!= "N\/A"` literal
      case Some(v) if v != "N\\/A" => ev.rename("[dlp][FNAME]", "[file][name]")
      case Some(_) => () // a literal `N\/A` payload: neither arm fires
      case None =>
        ev.getString("[dlp][FILE_NAME]").foreach { v =>
          if (v != "N\\/A") ev.rename("[dlp][FILE_NAME]", "[file][name]")
        }
    }
    ev.copyField("[url][full]", "[rule][reference]") // ref :85-87
    ev.getString("[source][ip]").foreach { ip => // ref :88-95
      if (ip.isEmpty || ip.indexOf('N') >= 0 || ip.indexOf(' ') >= 0 ||
          ip.indexOf('A') >= 0) {
        ev.mergeInto("[agent][parse_rule]", "RULE 1(no ip)")
        ev.remove("[source][ip]")
      }
    }
    ev.getString("[destination][address]").foreach { a => // ref :96-98
      if (a.contains("null null")) ev.remove("[destination][address]")
    }
    Seq("[dlp]", "somedata", "actual_msg").foreach(ev.remove) // ref :99-101
    if (Dates(ev, "[event][created]", // ref :102-107
      Seq("MMM dd HH:mm:ss", "MMM d HH:mm:ss"), "[event][created_ms]",
      timezone = "GMT", locale = "en", defaultYear = ctx.tsYear))
      ev.remove("[event][created]")
    ev.copyField("[host][hostname]", "[host][name]") // ref :109-113 — vacuous guard
  }
}
