package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate, SyslogPri}

/** cisco.apic — semantic port of syslog_security_cisco.apic.conf (109
  * lines): double-space collapse, syslog header + pri, a 4-token header
  * strip, then pam-auth / incorrect-packet-flags / aaa-session-failure /
  * other dissects with the subj-[...]-split user extraction. The created
  * date runs on a field nothing sets (no-op; e03 default applies). */
object CiscoApicRules {

  def apic(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.apic")
    Mutate.strip(ev, "message") // ref :13-18
    Mutate.gsub(ev, "message", "  ", " ")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :19-23
    SyslogPri(ev) // ref :24-27
    ev.mergeInto("[agent][parse_rule]", "syslog header") // ref :28-30
    Dissect(ev, "actual_msg",
      "%{?data} %{?data} %{?data} %{?data} %{rest_msg}", Seq("_dissect_failure_1")) // ref :31-36
    val rm = ev.getString("rest_msg").getOrElse("")
    if (rm.contains("authentication failure")) { // ref :37-46
      ev.mergeInto("[agent][parse_rule]", "rule 1")
      Dissect(ev, "rest_msg",
        "%{[[service][type]]}: %{[[event][action]]}; logname=%{[[user][name]]} uid=%{[[user][id]]} %{?data} rhost=%{[[source][ip]]}",
        Seq("_dissect_failure_3"))
    } else if (rm.contains("packet flags are incorrect")) { // ref :47-56
      ev.mergeInto("[agent][parse_rule]", "rule 2")
      Dissect(ev, "rest_msg",
        "%{[[source][ip]]}:%{[[source][port]]} - %{[[destination][ip]]}:%{[[destination][port]]} - %{[[rule][description]]}",
        Seq("_dissect_failure_4"))
    } else if (rm.contains("client-type-ssh-Failure") || rm.contains("client-type-REST-Failure")) { // ref :57-77
      ev.mergeInto("[agent][parse_rule]", "rule 3")
      Dissect(ev, "rest_msg",
        "%{?data}subj-[%{[[user][tmp]]}]/%{[[event][id]]}] From-%{[[source][ip]]}-%{[[rule][description]]}",
        Seq("_dissect_failure_6"))
      if (ev.getString("[user][tmp]").exists(_.contains("-"))) {
        Mutate.splitField(ev, "[user][tmp]", "-")
        // rename from an array index: value moves to user.name ([user][tmp]
        // is removed wholesale below, matching the ref's cleanup)
        ev.getString("[user][tmp][1]").foreach(v => ev.set("[user][name]", v))
      }
    } else { // ref :78-88
      ev.mergeInto("[agent][parse_rule]", "other")
      Dissect(ev, "rest_msg",
        "%{[[source][ip]]}:%{[[source][port]]} - %{[[destination][ip]]}:%{[[destination][port]]} - %{[[rule][description]]}",
        Seq("_dissect_failure_5"))
    }
    // ref :89-100 — [event][created] is never set by this conf: no-op date
    if (!Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec"))) {
      if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    } else ev.remove("[event][created]")
    Seq("[user][tmp]", "rest_msg", "actual_msg").foreach(ev.remove) // ref :101-103
  }
}
