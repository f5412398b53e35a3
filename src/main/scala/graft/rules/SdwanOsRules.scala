package graft.rules

import graft.model.Event
import graft.parse.{Dissect, Grok, Kv, Mutate, SyslogPri}

/** versa_sdwan.os_ubuntu — semantic port of
  * syslog_security_sdwan.os_ubuntu.conf (155 lines): lowercase-first, the
  * shared sdwan header grok, then three shapes — the tailf alarmman event
  * (header dissect whose trailing `%{}}` demands a `}`-terminated process
  * token, alarm kv, the vdirector host/observer swap, type `:`-split, and
  * the payload-severity override of the pri-derived severity), the
  * `connection closed` sshd line (whose mapping requires the `]}`-
  * terminated tail), and a generic catch-all whose captures are all
  * removed. The conf renames the flat syslog_* fields itself — including
  * `syslog_facility_name`, a field that never exists, so the facility CODE
  * still arrives via the 04 enrichment like every other tech. */
object SdwanOsRules {

  private val sevNameDict: Map[String, String] = Map(
    "warning" -> "warning", "indeterminate" -> "informational",
    "minor" -> "notice", "major" -> "error", "critical" -> "critical",
    "cleared" -> "informational")
  private val sevCodeDict: Map[String, Long] = Map(
    "warning" -> 4L, "indeterminate" -> 6L, "minor" -> 5L, "major" -> 3L,
    "critical" -> 2L, "cleared" -> 6L)

  def osUbuntu(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "versa") // ref :9-15
    ev.set("[event][dataset]", "versa_sdwan.os_ubuntu")
    Mutate.lowercase(ev, "message") // ref :23-25
    Grok(ev, "message",
      Seq("^(.*?\\{name=.*?}(\\s)?)?(<(?<pri>\\d+)>)?(\\s)?(?<actual_msg>.*)$|(^(?<actual_msg>.*)$)"),
      Seq("_parsefailure_header")) // ref :27-31
    SyslogPri(ev) // ref :32-35
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("com.tailf.ncs.alarmman.common.alarm")) { // ref :39-131
      Mutate.addField(ev, "[event][provider]", "%{[[event][module]]}.alarmman")
      Grok(ev, "actual_msg",
        Seq("%{GREEDYDATA:[[tmp][header]]} event %{GREEDYDATA:[[tmp][msg]]}.*\\.alarm\\[%{GREEDYDATA:[[tmp][alarm_msg]]}"),
        Seq("_grokparsefailure_header"))
      Dissect(ev, "[tmp][header]",
        "%{[[tmp][date]]} %{+[[tmp][date]]} %{+[[tmp][date]]} %{[[observer][hostname]]} %{}}",
        Seq("_dissect_error-sdwan.os-alarmman"))
      ev.rename("syslog_severity_code", "[log][syslog][severity][code]") // ref :60-65
      ev.rename("syslog_severity", "[log][syslog][severity][name]")
      ev.rename("syslog_facility", "[log][syslog][facility][name]")
      ev.rename("syslog_facility_name", "[log][syslog][facility][code]") // source never exists
      Mutate.strip(ev, "[tmp][alarm_msg]")
      Mutate.strip(ev, "[tmp][process]")
      Kv(ev, "[tmp][alarm_msg]", ',', '=', target = "[tmp][details]") // ref :71-75
      if (ev.getString("[tmp][details][device]").contains("vdirector")) // ref :81-86
        Mutate.update(ev, "[tmp][details][device]", "%{[[observer][hostname]]}")
      ev.rename("[tmp][details][device]", "[host][hostname]") // ref :88-93
      ev.rename("[tmp][details][alarm-text]", "[error][message]")
      Mutate.splitField(ev, "[tmp][details][type]", ":")
      Mutate.addField(ev, "[error][type]", "%{[[tmp][details][type][1]]}")
      if (ev.has("[tmp][details][severity]")) { // ref :96-100 — payload severity wins
        ev.remove("[log][syslog][severity][name]")
        ev.remove("[log][syslog][severity][code]")
      }
      ev.getString("[tmp][details][severity]").foreach { s => // ref :103-131
        if (!ev.has("[log][syslog][severity][name]"))
          ev.set("[log][syslog][severity][name]", sevNameDict.getOrElse(s, "debug"))
        if (!ev.has("[log][syslog][severity][code]"))
          ev.set("[log][syslog][severity][code]", sevCodeDict.getOrElse(s, 7L))
      }
    } else if (am.contains("connection closed")) { // ref :132-140
      Dissect(ev, "actual_msg",
        "%{[[tmp][date]]} %{+[[tmp][date]]} %{+[[tmp][date]]} %{[[observer][hostname]]} %{}: %{[[event][action]]} by %{[[source][ip]]} %{}]}",
        Seq("_dissectfailure_2"))
    } else { // ref :142-150
      Dissect(ev, "actual_msg", "%{} %{[[tmp][host]]} %{[[tmp][rest_msg]]}",
        Seq("_dissect_error-sdwan.os-message"))
    }
    ev.remove("tmp"); ev.remove("actual_msg") // ref :151-153
  }
}
