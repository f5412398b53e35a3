package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, SyslogPri}

/** skyhigh.atd — syslog_security_skyhigh.atd.conf (ATD detonation verdicts).
  * Quirks mirrored:
  *  - Summary.Client and Summary."Src IP" (and their flat twins) all rename
  *    onto [source][ip] — later sources overwrite.
  *  - Summary.Subject hashes land under [file][hash][*]; the FLAT md5/sha-*
  *    keys land under the non-ECS [hash][*] tree instead.
  *  - both [atd][Action] and [atd][Analysis] rename onto [event][action];
  *    when neither exists, SubmitterType == "MWG" yields "permitted" and
  *    anything else the reference's literal "animalized".
  *  - the year-less start clock defaults to the event year. */
object SkyhighAtdRules {

  def skyhighAtd(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "skyhigh") // ref :9-12
    ev.set("[event][dataset]", "skyhigh.atd")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    Dissect(ev, "actual_msg", // ref :22-27
      "%{[[event][start]]->} %{+[[event][start]]} %{+[[event][start]]} " +
        "%{[[source][address]]} %{[[process][name]]}[%{[[process][pid]]}]: %{log_message}")
    JsonOps.parse(ev, "log_message", "atd") // ref :28-31
    ev.rename("[atd][Summary][Client]", "[source][ip]") // ref :32-73
    ev.rename("[atd][Summary][User]", "[user][name]")
    ev.rename("[atd][Summary][Src IP]", "[source][ip]")
    ev.rename("[atd][Summary][Dst IP]", "[destination][ip]")
    ev.rename("[atd][Summary][TaskId]", "[process][thread][id]")
    ev.rename("[atd][Summary][port]", "[destination][port]")
    ev.rename("[atd][Summary][Subject][Name]", "[file][name]")
    ev.rename("[atd][Summary][Subject][Type]", "[file][type]")
    ev.rename("[atd][Summary][Subject][md5]", "[file][hash][md5]")
    ev.rename("[atd][Summary][Subject][sha-1]", "[file][hash][sha1]")
    ev.rename("[atd][Summary][Subject][sha-256]", "[file][hash][sha256]")
    ev.rename("[atd][Summary][Subject][sha-512]", "[file][hash][sha512]")
    ev.rename("[atd][Summary][Subject][size]", "[file][size]")
    ev.rename("[atd][Summary][Verdict][Severity]", "[event][severity]")
    ev.rename("[atd][Summary][Verdict][Description]", "[event][severity_name]")
    SyslogPri.toEcs(ev) // the four flat syslog_* renames (:47-50)
    ev.rename("[atd][Client]", "[source][ip]")
    ev.rename("[atd][Action]", "[event][action]")
    ev.rename("[atd][User]", "[user][name]")
    ev.rename("[atd][Src IP]", "[source][ip]")
    ev.rename("[atd][Dst IP]", "[destination][ip]")
    ev.rename("[atd][TaskId]", "[process][thread][id]")
    ev.rename("[atd][port]", "[destination][port]")
    ev.rename("[atd][Url]", "[url][full]")
    ev.rename("[atd][name]", "[file][name]")
    ev.rename("[atd][Type]", "[file][type]")
    ev.rename("[atd][md5]", "[hash][md5]")
    ev.rename("[atd][sha-1]", "[hash][sha1]")
    ev.rename("[atd][sha-256]", "[hash][sha256]")
    ev.rename("[atd][sha-512]", "[hash][sha512]")
    ev.rename("[atd][size]", "[file][size]")
    ev.rename("[atd][Techniques]", "[threat][technique][name]")
    ev.rename("[atd][Tactics]", "[threat][tactic][name]")
    ev.rename("[atd][Description]", "[rule][description]")
    ev.rename("[atd][Analysis]", "[event][action]")
    ev.rename("[atd][Severity]", "[event][severity_name]")
    if (!ev.has("[event][action]")) { // ref :75-85
      if (ev.getString("[atd][Summary][SubmitterType]").contains("MWG"))
        ev.set("[event][action]", "permitted")
      else
        ev.set("[event][action]", "animalized") // the reference's literal
    }
    if (Dates(ev, "[event][start]", Seq("MMM dd HH:mm:ss", "MMM dd HH:mm:ss ZZZ"), // ref :86-93
      "[event][start_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_es"), defaultYear = ctx.tsYear))
      ev.remove("[event][start]")
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]") // ref :94-98
    for (f <- Seq("atd", "actual_msg", "log_message")) ev.remove(f) // ref :99-101
  }
}
