package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** versa.sdwan_application — semantic port of
  * config/processors/syslog_security_sdwan.app.conf (347 lines): whole-line
  * lowercase, pri-presence split (Rule 1 syslog vs Rule 2 analytics export),
  * per-dataset kv decode (`, `-split pairs) with a dataset→event.kind
  * translate, dataset-specific rename blocks (alarmlog / sdwanb2bslamlog /
  * systemloadlog / eventlog incl. the sla-not-met alarmkey pipe-dissect),
  * and the site/appliance-type derivation gsubs shared with cisco.ise.
  *
  * Mirrored reference behaviors worth noting:
  *  - the header grok's optional `{name=...} ` prefix group consumes
  *    everything through the FIRST such brace group (ref :34), which is why
  *    the Rule 2 else-dissect starts at the timestamp;
  *  - eventlog add_fields whose kv source is absent (every Rule 1 eventlog)
  *    leave unresolved `%{[[tmp][rest_msg][...]]}` literals in
  *    related.hosts / observer interface names / rule.ruleset — 94 does not
  *    scrub bracketed sprintf literals and 07 lowercases them;
  *  - the alarmlog severity translates (ref :230-256) write fields that the
  *    04 syslog-pri ECS renames clobber downstream, so the surfaced
  *    severity is always PRI-derived (default pri 13 for Rule 2);
  *  - `"" in [network][name]` (ref :316) is substring-true for any string —
  *    the add_field is gated only on host.hostname.
  */
object SdwanRules {

  private val headerGrok = // ref :32-36
    "^(.*?\\{name=.*?}(\\s)?)?(<(?<pri>\\d+)>)?(\\s)?(?<actual_msg>.*)$|(^(?<actual_msg>.*)$)"

  private val eventGrok = // ref :79-85
    "^.*?device=(?<[host][hostname]>.*?),.*?type=(?<[error][type]>.*?),.*?severity=(?<[event][severity_name]>.*?),alarm-text=\\\"(?<[event][reason]>.*?)\\\",.*$"

  private val kindDict: Map[String, String] = Map( // ref :126-152
    "alarmlog" -> "alert", "accesslog" -> "state", "sfwaccesslog" -> "state",
    "denylog" -> "state", "idplog" -> "alert", "avlog" -> "alert",
    "ipflog" -> "alert", "urlflog" -> "alert", "dosthreatlog" -> "alert",
    "flowidlog" -> "state", "flowmonlog" -> "state", "flowmonhttplog" -> "state",
    "monstatslog" -> "metric", "bwmonlog" -> "metric", "intfutillog" -> "metric",
    "sdwanb2bslamlog" -> "metric", "tcpappmonlog" -> "metric",
    "systemloadlog" -> "metric", "eventlog" -> "event")

  private val sevNameDict: Map[String, String] = Map( // ref :230-242
    "warning" -> "warning", "indeterminate" -> "informational",
    "minor" -> "notice", "major" -> "error", "critical" -> "critical",
    "cleared" -> "informational")

  private val sevCodeDict: Map[String, Long] = Map( // ref :244-256
    "warning" -> 4L, "indeterminate" -> 6L, "minor" -> 5L, "major" -> 3L,
    "critical" -> 2L, "cleared" -> 6L)

  private def dataset(ev: Event): String = ev.getString("[tmp][dataset]").getOrElse("")

  def sdwanApp(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "versa") // ref :9-12
    ev.set("[event][dataset]", "versa.sdwan_application")
    Mutate.lowercase(ev, "message") // ref :15-19
    val msg = ev.getString("message").getOrElse("")
    if (msg.matches("(?s).*<\\d+>.*")) ev.set("[agent][parse_rule]", "Rule 1") // ref :21-30
    else ev.set("[agent][parse_rule]", "Rule 2")
    Grok(ev, "message", Seq(headerGrok), Seq("_parsefailure_header")) // ref :32-36
    SyslogPri(ev) // ref :37-40
    if (ev.getString("[agent][parse_rule]").contains("Rule 1")) { // ref :42-50
      Dissect(ev, "actual_msg",
        "%{[tmp][time]} %{+[tmp][time]} %{+[tmp][time]} %{[tmp][host]} [%{?data}][%{[log][level]}][%{?data}][%{?data}] %{[tmp][dataset]} %{rest_data}",
        Seq("_dissect_error-sdwan.app-message_event"))
    } else { // ref :51-77
      if (ev.getString("actual_msg").exists(_.contains("{name="))) {
        Dissect(ev, "actual_msg",
          "%{[tmp][time]} %{[tmp][host]} %{?date} %{[tmp][dataset]}, %{[tmp][rest_msg]}",
          Seq("_dissect_error-sdwan.app-message_alarm"))
        Grok(ev, "[tmp][host]", Seq("\\{name=%{GREEDYDATA:[[observer][hostname]]}}"),
          Seq("_grokparsefailure_error_sdwan.app"))
      } else {
        Dissect(ev, "actual_msg",
          "%{[tmp][time]} %{[tmp][dataset]}, %{[tmp][rest_msg]}",
          Seq("_dissect_error-sdwan.app-message_alarm"))
      }
    }
    if (dataset(ev).contains("event")) // ref :78-86
      Grok(ev, "rest_data", Seq(eventGrok), Seq("_grok_error-sdwan.app-event"))
    if (ev.getString("rest_data").exists(_.contains("cli"))) // ref :87-94
      Dissect(ev, "rest_data", "cli '%{[event][action]}'", Seq("_dissect_error-sdwan.app-cli"))
    Dates(ev, "[tmp][time]", // ref :96-101
      Seq("MMM dd yyyy HH:mm:ss", "MMM  d yyyy HH:mm:ss", "ISO8601", "MMM dd HH:mm:ss"),
      "[event][created_ms]", tagOnFailure = Seq("_dateparsefailure_error_sdwan.app-date"),
      defaultYear = ctx.tsYear)
    if (ev.has("[tmp][dataset]")) // ref :104-110
      Mutate.addField(ev, "[event][provider]", "%{[[event][module]]}.%{[[tmp][dataset]]}")
    Kv.withPattern(ev, "[tmp][rest_msg]", ", ", '=', target = "[tmp][rest_msg]") // ref :113-121
    ev.set("[event][kind]", kindDict.getOrElse(dataset(ev), "event")) // ref :126-152
    if (dataset(ev) == "alarmlog") { // ref :158-257
      ev.rename("[tmp][rest_msg][appliancename]", "[host][hostname]")
      ev.rename("[tmp][rest_msg][tenantname]", "[organization][name]")
      ev.rename("[tmp][rest_msg][alarmtype]", "[error][type]")
      ev.rename("[tmp][rest_msg][alarmcause]", "[event][action]")
      ev.rename("[tmp][rest_msg][alarmseqno]", "[event][id]")
      ev.rename("[tmp][rest_msg][alarmtext]", "[error][message]")
      ev.rename("[tmp][rest_msg][serialnum]", "[host][id]")
      Mutate.addField(ev, "[rule][category]", "%{[[tmp][rest_msg][alarmclass]]}")
      Mutate.addField(ev, "event.reason", "%{[[tmp][rest_msg][alarmkind]]}") // ref :169 dotted key
      Mutate.addField(ev, "[event][type]", "%{[[tmp][rest_msg][alarmeventtype]]}")
      Mutate.addField(ev, "[log][syslog][severity][name]", "%{[[tmp][rest_msg][alarmseverity]]}")
      Mutate.addField(ev, "[event][code]", "%{[[tmp][rest_msg][alarmkey]]}")
      Dates(ev, "[tmp][rest_msg][generatetime]", Seq("UNIX"), "[event][start_ms]") // ref :175-178
      if (!ev.has("[event][outcome]")) // translate, override=false default
        ev.getString("[event][action]").foreach { a =>
          ev.set("[event][outcome]",
            Map("performancedegradeed" -> "failure", "outofservice" -> "failure")
              .getOrElse(a, "unknown")) // ref :180-188
        }
      if (ev.getString("[error][type]").contains("sdwan-datapath-sla-not-met")) { // ref :190-205
        Dissect(ev, "[tmp][rest_msg][alarmkey]",
          "%{[[rule][name]]}|%{[[tmp][related_src]]}|%{[[observer][egress][interface][alias]]}|%{[[tmp][related_dst]]}|%{[[observer][ingress][interface][name]]}|%{[[rule][ruleset]]}")
        Mutate.addField(ev, "[related][hosts]", "%{[[tmp][related_src]]}")
        Mutate.addField(ev, "[source][domain]", "%{[[tmp][related_src]]}")
        Mutate.addField(ev, "[destination][domain]", "%{[[tmp][related_dst]]}")
        Mutate.addField(ev, "[related][hosts]", "%{[[tmp][related_dst]]}")
        Mutate.addField(ev, "[rule][category]", "%{[error][type]}")
      }
      if (ev.getString("[error][type]").contains("lef-collector-queue-utilization")) { // ref :207-216
        Grok(ev, "[error][message]",
          Seq("%{GREEDYDATA:[[tmp][lefcollectorqueueutilization]]}queue %{NOTSPACE:[[labels][queue]]} %{GREEDYDATA:[[tmp][action]]} \\(%{WORD:[[tmp][paramname]]}: %{NOTSPACE:[[tmp][paramvalue]]}\\)"))
        val key = Mutate.sprintf(ev, "%{[[tmp][paramname]]}")
        Mutate.addField(ev, s"[labels][$key]", "%{[[tmp][paramvalue]]}")
      }
      if (ev.getString("[error][type]").contains("cgnat-pool-utilization")) { // ref :218-227
        Grok(ev, "[error][message]",
          Seq("%{GREEDYDATA}\\(%{GREEDYDATA:[[tmp][paramname]]}: %{NOTSPACE:[[tmp][paramvalue]]}\\)"))
        val key = Mutate.sprintf(ev, "%{[[tmp][paramname]]}")
        Mutate.addField(ev, s"[labels][$key]", "%{[[tmp][paramvalue]]}")
      }
      // ref :230-256 — rfc5424 translates; name target already exists (the
      // :171 add_field) so only the code lands; both are clobbered by the
      // 04 ECS renames downstream
      ev.getString("[tmp][rest_msg][alarmseverity]").foreach { sev =>
        if (!ev.has("[log][syslog][severity][name]"))
          ev.set("[log][syslog][severity][name]", sevNameDict.getOrElse(sev, "debug"))
        if (!ev.has("[log][syslog][severity][code]"))
          ev.set("[log][syslog][severity][code]", sevCodeDict.getOrElse(sev, 7L))
      }
    }
    if (dataset(ev) == "sdwanb2bslamlog") { // ref :260-271
      ev.rename("[tmp][rest_msg][appliancename]", "[host][hostname]")
      ev.rename("[tmp][rest_msg][tenantname]", "[organization][name]")
      Mutate.addField(ev, "[related][hosts]", "%{[[tmp][rest_msg][localsitename]]}")
      Mutate.addField(ev, "[related][hosts]", "%{[[tmp][rest_msg][remotesitename]]}")
      Mutate.addField(ev, "[observer][ingress][interface][name]", "%{[[tmp][rest_msg][remoteacccktname]]}")
      Mutate.addField(ev, "[observer][egress][interface][name]", "%{[[tmp][rest_msg][localacccktname]]}")
      Mutate.addField(ev, "[network][direction]", "outbound")
      Mutate.addField(ev, "[rule][ruleset]", "%{[[tmp][rest_msg][fwdclass]]}")
    }
    if (dataset(ev) == "systemloadlog") { // ref :274-279
      ev.rename("[tmp][rest_msg][cpuload]", "[host][cpu][usage]")
      ev.rename("[tmp][rest_msg][memload]", "[host][memory][usage]")
    }
    if (dataset(ev) == "eventlog") { // ref :282-309
      ev.rename("[tmp][rest_msg][appliancename]", "[host][hostname]")
      ev.rename("[tmp][rest_msg][tenantname]", "[organization][name]")
      ev.rename("[tmp][rest_msg][eventtype]", "[error][type]")
      ev.rename("[tmp][rest_msg][rule]", "[network][application]")
      Mutate.addField(ev, "[related][hosts]", "%{[[tmp][rest_msg][localsitename]]}")
      Mutate.addField(ev, "[related][hosts]", "%{[[tmp][rest_msg][remotesitename]]}")
      Mutate.addField(ev, "[observer][ingress][interface][name]", "%{[[tmp][rest_msg][remoteacccktname]]}")
      Mutate.addField(ev, "[observer][egress][interface][name]", "%{[[tmp][rest_msg][localacccktname]]}")
      Mutate.addField(ev, "[rule][ruleset]", "%{[[tmp][rest_msg][fwdclass]]}")
      Dates(ev, "[tmp][rest_msg][generatetime]", Seq("UNIX"), "[event][start_ms]") // ref :296-299
      if (ev.getString("[error][type]").contains("sdwan-datapath-sla-not-met")) { // ref :301-308
        Dissect(ev, "[tmp][rest_msg][alarmkey]",
          "%{[[network][application]]}|%{[[related][hosts]]}|%{[[observer][egress][interface][alias]]}|%{[[related][hosts]]}|%{[[observer][ingress][interface][name]]}|%{[[rule][ruleset]]}")
      }
    }
    if (ev.has("[host][hostname]")) { // ref :315-338
      // ref :316 `"" in [network][name] or ![network][name]` — substring-true
      // for any string, so the gate is only host.hostname
      Mutate.addField(ev, "[network][name]", "%{[[host][hostname]]}")
      Mutate.addField(ev, "[service][type]", "%{[[host][hostname]]}")
      var i = 0
      while (i < 2) { // ref :325-337 — the gsub pair is applied twice
        Mutate.gsub(ev, "[service][type]", "(.*)-([a-z]*)", "$2")
        Mutate.gsub(ev, "[network][name]", "([a-z]*)([0-9].*)", "$1")
        i += 1
      }
    }
    Seq("rest_msg", "event_kind", "tmp", "actual_msg", "rest_data").foreach(ev.remove) // ref :341-343
  }
}
