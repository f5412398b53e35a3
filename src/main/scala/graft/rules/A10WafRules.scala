package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate, SyslogPri}

/** a10.waf — semantic port of syslog_security_a10.waf.conf (111 lines):
  * the CEF WAF grok (RULE 1), the TCP resets-connection dissect whose
  * parse_rule is a dissect add_field (set only on SUCCESS), and the two
  * persist-xff forms. Mirrored accidents: the health-check drop compares
  * against the LITERAL string "^A10" (so capital A10 never drops), and
  * both url.full add_fields gate on url.domain /
  * http.request.body.content — fields nothing here sets (dead). */
object A10WafRules {

  private val wafGrok = // ref :29-36
    "^.*?(?<[process][name]>.*?)\\:\\d+\\|.*?\\|.*?\\|(?<[agent][version]>.*?)\\|(WAF|waf).*?\\|.*?\\|(?<[event][severity]>.*?)\\|rt=(?<[event][created]>.*?) src=(?<[source][ip]>.*?) spt=(?<[source][port]>\\d+) dst=(?<[destination][ip]>.*?) dpt=(?<[destination][port]>\\d+) dhost=(?<[host][ip]>.*?)(\\:\\d+)? cs1=(?<[rule][name]>.*?) cs2=(?<[event][id]>.*?) act=(?<[event][action]>.*?) cs3=(?<[rule][ruleset]>.*?) app=(?<[network][protocol]>.*?) requestMethod=(?<[http][request][method]>.*?) cn1=.*? request=(?<[url][path]>.*?) msg=(?<[rule][description]>.*?)( id=.*?)?( form=.*?)?$"

  private val xffClientGrok = // ref :62-68
    "^(?<[event][type]>.*?):(?<[user_agent][original]>.*?)\\; client_ip=(?<[client][ip]>.*?);.*?$"

  private val xffFullGrok = // ref :74-81
    "^((?<[month]>.*?) (?<[date]>.*?) (?<[time]>.*?) (?<[host][hostname]>.*?) (?<[process][name]>.*?)\\: \\[(?<[event][module]>.*?)\\]\\<(?<[log][syslog][severity][code]>.*?)\\>)?(?<[event][type]>.*?):(?<[user_agent][original]>.*)\\, (?<[url][path]>.*?)(\\] (?<[source][ip]>.*?))?$"

  def waf(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "a10") // ref :9-12
    ev.set("[event][dataset]", "a10.waf")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :14-18
    SyslogPri(ev) // ref :19-22
    val am = ev.getString("actual_msg").getOrElse("")
    if (am == "a10" || am == "^A10") return Dropped // ref :24-27 — literal "^A10"
    Pending(Seq(ev), wafBody(am))
  }

  private def wafBody(am: String)(ev: Event, ctx: ParseCtx): Unit = {
    if (am.matches("^.*?(CEF|cef):.*?$") && am.matches("(?s).*(WAF|waf).*")) { // ref :29-50
      ev.mergeInto("[agent][parse_rule]", "RULE 1")
      Grok(ev, "actual_msg", Seq(wafGrok), Seq("grok_parsefailure"))
      // ref :37-48 — both url.full assemblies gate on fields nothing sets
      if (ev.has("[network][protocol]") && ev.has("[url][domain]") &&
        ev.has("[destination][port]") && ev.has("[http][request][body][content]"))
        Mutate.addField(ev, "[url][full]",
          "%{[network][protocol]}://%{[[url][domain]]}:%{[[destination][port]]}%{[[http][request][body][content]]}")
      if (ev.has("[url][domain]"))
        Mutate.addField(ev, "[url][full]", "%{[[url][scheme]]}://%{[[url][domain]]}/%{[[url][path]]}")
    } else if (am.matches("(?s).*(r|R)esets (C|c)onnection.*")) { // ref :51-59
      // dissect-level add_field: parse_rule lands only on dissect SUCCESS
      if (Dissect(ev, "actual_msg",
        "[%{?data}] %{[[network][transport]]} %{[[source][ip]]} > %{[[destination][ip]]}:%{[[destination][port]]->} %{?data} %{[[event][action]]}",
        Seq("_dissectfailure_1")))
        ev.mergeInto("[agent][parse_rule]", "RULE 2")
    } else if (am.contains("persist-xff:")) { // ref :60-94
      if (am.contains("client_ip")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 3(a)")
        Grok(ev, "actual_msg", Seq(xffClientGrok), Seq("_parsefailure_body2"))
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 3(b)")
        Grok(ev, "actual_msg", Seq(xffFullGrok), Seq("_parsefailure_body3"))
        if (ev.has("month") && ev.has("date") && ev.has("time"))
          Mutate.addField(ev, "[event][created]", "%{month} %{date} %{time}")
      }
    } else { // ref :95-98
      ev.mergeInto("[agent][parse_rule]", "no rule match")
    }
    if (!Dates(ev, "[event][created]", Seq("MMM dd yyyy HH:mm:ss"), // ref :101-112
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) {
      if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    } else ev.remove("[event][created]")
    Seq("actual_msg", "pri", "cn1").foreach(ev.remove) // ref :113-115 (month/date/time survive, unflattened)
  }
}
