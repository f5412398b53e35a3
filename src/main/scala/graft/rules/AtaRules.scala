package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** "microsoft ata" (note the reference's space in the dataset name) —
  * semantic port of syslog_security_microsoft.ata.conf (149 lines): strip
  * quotes/backslashes, syslog header + pri, the CEF pipe dissect (both
  * branches of the `Z {name=` conditional carry the IDENTICAL mapping —
  * mirrored), a target-less kv into the event ROOT, the msg= description
  * dissect, ECS renames of the CEF extension keys, ISO dates, and the
  * 26-entry alert-id → category translate. parse_rule is the constant
  * 'no rules'. */
object AtaRules {

  private val cefDissect = // ref :31-44 (identical in both branches)
    "%{[[event][no]]} %{[[event][created]]} %{[[source][address]]} %{msg} %{[[process][pid]]} %{?data} %{?CEF1}|%{?CEF2}|%{?CEF3}|%{?CEF4}|%{?CEF5}|%{[[rule][name]]}|%{?data}|%{rest_msg}"

  private val alertDict: Map[String, String] = Map( // ref :110-137
    "2001" -> "Security/Suspicious", "2002" -> "Security/Other",
    "2003" -> "Security/Reconnaissance", "2004" -> "Security/Other",
    "2005" -> "Security/Other", "2006" -> "Security/Other",
    "2007" -> "Security/Other", "2008" -> "Security/Activity",
    "2009" -> "Security/Activity", "2010" -> "Security/Activity",
    "2011" -> "Security/Activity", "2012" -> "Security/Other",
    "2013" -> "Security/Other", "2014" -> "Security/Activity",
    "2015" -> "Security/Other", "2016" -> "Security/Other",
    "2017" -> "Security/Attack", "2018" -> "Security/Attack",
    "2019" -> "Security/Other", "2020" -> "Security/Other",
    "2021" -> "Security/Other", "2022" -> "Security/Activity",
    "2023" -> "Audit/Authentication Failure", "2024" -> "Security/Other",
    "2025" -> "Security/Other", "2026" -> "Security/Suspicious")

  def ata(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "microsoft") // ref :9-12
    ev.set("[event][dataset]", "microsoft ata")
    ev.set("[agent][parse_rule]", "no rules") // ref :14-16
    Mutate.gsub(ev, "message", "[\"]", "") // ref :17-21
    Mutate.gsub(ev, "message", "[\\\\]", "")
    Mutate.strip(ev, "message")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :22-26
    SyslogPri(ev) // ref :27-30
    // ref :31-44 — both branches of the `Z {name=` conditional run the same
    // mapping; the conditional is kept for shape only
    if (ev.getString("message").exists(_.contains("Z {name=")))
      Dissect(ev, "actual_msg", cefDissect)
    else
      Dissect(ev, "actual_msg", cefDissect)
    Kv(ev, "rest_msg", ' ', '=') // ref :45-49 — no target: keys land at ROOT
    Dissect(ev, "rest_msg", "%{?data} msg=%{[[rule][description]]}.%{?data}") // ref :50-54
    ev.rename("shost", "[source][address]") // ref :55-60
    ev.rename("start", "[event][start]")
    ev.rename("cs1", "[event][reference]")
    ev.rename("externalId", "[event][id]")
    Seq("[event][no]", "msg", "cs1Label", "cnt", "actual_msg").foreach(ev.remove) // ref :61-68
    Mutate.strip(ev, "[event][reference]")
    ev.rename("request", "[host][hostname]")
    ev.rename("app", "[rule][ruleset]")
    ev.rename("suser", "[source][user][id]")
    ev.rename("outcome", "[event][action]")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", locale = "en")) // ref :69-74
      ev.remove("[event][created]")
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", locale = "en")) // ref :75-80
      ev.remove("[event][start]")
    ev.getString("[event][id]").foreach { id => // ref :110-137
      ev.set("[rule][category]", alertDict.getOrElse(id, "Others"))
    }
    ev.getString("[host][hostname]").foreach { h => // ref :139-143
      if (h != "") ev.copyField("[host][hostname]", "[host][name]")
    }
  }
}
