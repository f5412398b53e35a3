package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** spectracom.ntp — semantic port of syslog_audit_spectracom.ntp.conf (177
  * lines): a 12-branch process-line dissect ladder over the NTP appliance's
  * sshd/useradd/xinetd/oscillator messages, with the `yyyy D HH:mm:ss SSS`
  * day-of-year clock on the XO1 oscillator lines.
  *
  * Mirrored accident: every `[event][severity_name]` gate (RULE 3 NOTE,
  * RULE 8 ERRR, RULE 9 INFO) probes a field this conf never sets (the pri
  * decode writes the flat syslog_* names) — those three branches are dead;
  * auth failures route via the `user=` / else forms and ERRR/INFO lines
  * fall through to RULEs 10-12. */
object SpectracomRules {

  def ntp(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "spectracom") // ref :9-12
    ev.set("[event][dataset]", "spectracom.ntp")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :16-20
    SyslogPri(ev) // ref :21-24
    val am = ev.getString("actual_msg").getOrElse("")
    def sev: String = ev.getString("[event][severity_name]").getOrElse("") // never set (see header)
    if (am.contains("useradd")) { // ref :25-34
      ev.mergeInto("[agent][parse_rule]", "RULE 1")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{?data} '%{[[user][id]]}' %{?data} %{?data} '%{[[group][name]]}'")
    } else if (am.contains("userdel")) { // ref :35-44
      ev.mergeInto("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{?data} '%{[[user][id]]}' %{?data} group '%{[[group][name]]}'")
    } else if (am.contains("uthentication failure")) { // ref :45-84
      if (sev.contains("NOTE")) { // dead gate (severity_name never set)
        ev.mergeInto("[agent][parse_rule]", "RULE 3")
        Dissect(ev, "actual_msg",
          "%{[[process][name]]}[%{[[process][pid]]}]: %{?data} %{[[rule][description]]}; %{rest_msg}")
        Kv(ev, "rest_msg", ' ', '=')
        ev.rename("user", "[user][name]")
      } else if (am.contains("user=")) { // ref :63-72
        ev.mergeInto("[agent][parse_rule]", "RULE 12")
        Dissect(ev, "actual_msg",
          "%{[[process][name]]}[%{[[process][pid]]}]: %{?data}(%{[[event][type]]}): %{[[rule][description]]}; %{?data} uid=%{?data} euid=%{[[event][id]]} %{?data}rhost=%{[[source][ip]]} user=%{[[user][name]]}")
      } else { // ref :73-83
        ev.mergeInto("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "actual_msg",
          "%{[[process][name]]}[%{[[process][pid]]}]: %{?data} %{[[rule][description]]} for %{[[user][name]]} from %{[[source][ip]]}")
      }
    } else if (am.contains("XO1")) { // ref :85-94 — day-of-year clock
      ev.mergeInto("[agent][parse_rule]", "RULE 5")
      Dissect(ev, "actual_msg",
        "%{[[source][address]]}: [%{?data}] %{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{+[[event][created]]} XO1: %{[[rule][description]]}")
    } else if (am.contains("Postponed keyboard-interactive")) { // ref :95-104
      ev.mergeInto("[agent][parse_rule]", "RULE 6")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{?data} %{[[rule][description]]} for %{[[user][name]]} from %{[[source][ip]]}")
    } else if (am.contains("could not load host key")) { // ref :105-114
      ev.mergeInto("[agent][parse_rule]", "RULE 7")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{?data} %{[[rule][description]]}: %{?[[host][key]]}")
    } else if (sev.contains("ERRR")) { // dead gate
      ev.mergeInto("[agent][parse_rule]", "RULE 8")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]}")
    } else if (sev.contains("INFO")) { // dead gate
      if (am.contains("xinetd")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 9")
        Dissect(ev, "actual_msg",
          "%{[[process][name]]}[%{[[process][pid]]}]: %{[[event][action]]}: %{?data} %{?data}=%{?[[vendor][message][id]]} %{?data}")
      }
    } else if (am.contains("identification string")) { // ref :135-144
      ev.mergeInto("[agent][parse_rule]", "RULE 10")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]} from %{[[source][ip]]} %{?data} %{[[source][port]]}")
    } else if (am.contains("GPS 0")) { // ref :145-154
      ev.mergeInto("[agent][parse_rule]", "RULE 11")
      Dissect(ev, "actual_msg", "%{[[source][address]]} %{?data} %{[[rule][description]]}")
    } else { // ref :155-164
      ev.mergeInto("[agent][parse_rule]", "RULE 12")
      Dissect(ev, "actual_msg",
        "%{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]}")
    }
    if (Dates(ev, "[event][created]", // ref :165-168 (day-of-year first)
      Seq("yyyy D HH:mm:ss SSS", "yyyy-mm-dd HH:mm:ss", "yyyy-mm-dd HH:mm:ss.SSS",
        "MMM dd HH:mm:ss", "MMM dd HH:mm:ss.SSS"),
      "[event][created_ms]", defaultYear = ctx.tsYear))
      ev.remove("[event][created]")
    Seq("actual_msg", "[log][date]", "logname", "rest_msg", "euid", "ruser", "pri")
      .foreach(ev.remove) // ref :169-171
  }
}
