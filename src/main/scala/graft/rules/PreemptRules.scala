package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Kv, Mutate}

/** preempt.threat_intelligence — api_security_preempt_monthly.conf.
  * Quirks mirrored:
  *  - [event][created] is captured by the header dissect and then REMOVED
  *    unparsed (:71) — only start/end get date filters.
  *  - the end formats are broken: "MMM dd yyyy HH:mm:ss +mm:ss" parses the
  *    minute twice (conflict) and the zone-less fallback can't consume the
  *    " +00:00" tail the dissect stitched into [event][end] — the default
  *    _dateparsefailure fires and enrichment 02 then removes the string
  *    with _dateparsefailure_ee.
  *  - a ".com" suser writes the flat "parsing rule" field (NOT
  *    [agent][parse_rule] — parse_rule stays "not parsed"), backslashes
  *    gsub to ";" and the domain dissect splits on it.
  *  - the internal-need hostname guard copies to [host][name] (:74-79). */
object PreemptRules {

  def preempt(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "preempt") // ref :9-12
    ev.set("[event][dataset]", "preempt.threat_intelligence")
    Mutate.strip(ev, "message") // ref :14-16
    Dissect(ev, "message", // ref :17-21
      "%{[[log][date_time]]} {%{?data}} <%{[[log][level]]}>%{[[event][created]]->} " +
        "%{+[[event][created]]} %{+[[event][created]]} %{?data}|%{?data}|%{?data}|%{?data}|" +
        "%{[[rule][name]]}|%{[[rule][description]]}|%{?data}start=%{[[event][start]]} " +
        "end=%{[[event][end]]} %{+[[event][end]]} %{+[[event][end]]} %{+[[event][end]]} " +
        "%{+[[event][end]]} %{kv_msg}")
    Kv(ev, "kv_msg", ' ', '=', target = "preem") // ref :22-27
    ev.rename("[preem][externalId]", "[rule][uuid]") // ref :28-38
    ev.rename("[preem][suser]", "user_name")
    ev.rename("[preem][src]", "[source][ip]")
    ev.rename("[preem][shost]", "[host][hostname]")
    ev.rename("[preem][cat]", "[rule][ruleset]")
    ev.rename("[preem][cn1]", "[process][count]")
    ev.rename("[preem][cs1]", "[event][reference]")
    ev.getString("user_name").foreach { un => // ref :39-57
      if (un.contains(".com") || un.contains(".COM")) {
        ev.set("parsing rule", "Rule 1") // flat field, not [agent][parse_rule]
        Mutate.gsub(ev, "user_name", "[\\\\]", ";")
        Dissect(ev, "user_name", "%{[[user][domain]]->};%{[[user][name]]}")
        ev.remove("user_name")
      } else {
        ev.rename("user_name", "[user][name]")
      }
    }
    if (Dates(ev, "[event][start]", // ref :58-64
      Seq("MMM dd yyyy HH:mm:ss +mm:ss", "MMM dd yyyy HH:mm:ss"),
      "[event][start_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][start]") // target == source: string replaced
    if (Dates(ev, "[event][end]", // ref :65-71
      Seq("MMM dd yyyy HH:mm:ss +mm:ss", "MMM dd yyyy HH:mm:ss"),
      "[event][end_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][end]")
    for (f <- Seq("[log][date_time]", "[event][created]", "kv_msg", "preem")) // ref :72-74
      ev.remove(f)
    if (ev.getString("[host][hostname]").exists(_.nonEmpty)) // ref :76-81
      ev.copyField("[host][hostname]", "[host][name]")
  }
}
