package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, Mutate, SyslogPri}

/** Three small feed processors:
  *   - tanium.inventory — config/processors/syslog_list_inventory_tanium.conf
  *   - virtustream.linux — config/processors/logstash_virtustream_linux_forwarder.conf
  *   - pingfederate.auth — config/processors/flat_file_audit_pingfederate.conf
  */
object InventoryFwdRules {

  private def failParse(ev: Event): Unit = {
    ev.set("[agent][parse_rule]", "not parsed")
    ev.addTag("_parse_failure")
  }

  // ------------------------------------------------- tanium.inventory
  /** ref syslog_list_inventory_tanium.conf:9-108. Quirks mirrored:
    *  - `[tanm][Intel Type]` renames onto `[event][dataset]` (:47),
    *    OVERWRITING the stamped "tanium.inventory" when present.
    *  - the hostname guard (:50-54) copies [host][hostname] → [host][name]
    *    whenever the hostname is truthy and non-empty (the `[0] != ""`
    *    disjunct only matters for array hostnames).
    *  - every "[current result unavailable]" probe (:55-89) is a regex
    *    SEARCH (`=~`), so the marker anywhere in the value removes it.
    *  - the prefix grok (:21-23) has NO tag_on_failure override — a
    *    brace-less payload lands the default _grokparsefailure.
    *  - skip_on_invalid_json (:26-30): an unparseable remainder is
    *    silently ignored, every rename goes dead. */
  def taniumInventory(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "tanium") // ref :9-12
    ev.set("[event][dataset]", "tanium.inventory")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    Grok(ev, "actual_msg", Seq("^.*?\\}(\\s)?(?<tmp_msg>.*)$")) // ref :22-25
    if (ev.has("tmp_msg") && !JsonOps.parse(ev, "tmp_msg", "tanm"))
      ev.removeTag("_jsonparsefailure") // skip_on_invalid_json => true (:26-30)
    ev.rename("[tanm][Computer Name]", "[host][hostname]") // ref :32-48
    ev.rename("[tanm][Operating System]", "[host][os][name]")
    ev.rename("[tanm][Operating System Install Date]", "[host][os][installation_date]")
    ev.rename("[tanm][Computer Serial Number]", "[host][serial]")
    ev.rename("[tanm][Domain Name]", "[host][domain]")
    ev.rename("[tanm][MAC Address]", "[host][mac]")
    ev.rename("[tanm][IPv4 Address]", "[host][ip]")
    ev.rename("[tanm][Tanium Client IP Address]", "[source][ip]")
    ev.rename("[tanm][Tanium Client NAT IP Address]", "[source][nat][ip]")
    ev.rename("[tanm][Tanium Server Name]", "[observer][hostname]")
    ev.rename("[tanm][Logged In Users]", "[host][logged_in_users]")
    ev.rename("[tanm][Last Logged In User]", "[host][last_logged_in_user]")
    ev.rename("[tanm][Time Zone]", "[host][timezone]")
    ev.rename("[tanm][Manufacturer]", "[host][manufacturer]")
    ev.rename("[tanm][Model]", "[host][model]")
    ev.rename("[tanm][Intel Type]", "[event][dataset]")
    ev.getString("[host][hostname]").foreach { h => // ref :50-54
      if (h.nonEmpty) ev.copyField("[host][hostname]", "[host][name]")
    }
    val unavailable = "[current result unavailable]"
    for (f <- Seq("[host][domain]", "[host][last_logged_in_user]", // ref :55-89
                  "[source][ip]", "[source][nat][ip]", "[host][ip]",
                  "[host][timezone]", "[host][logged_in_users]"))
      if (ev.getString(f).exists(_.contains(unavailable))) ev.remove(f)
    if (Dates(ev, "[host][os][installation_date]", Seq("M/d/yyyy"), // ref :90-101
      "[host][os][installation_date_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_hoid"))) ev.remove("[host][os][installation_date]")
    else if (ev.hasTag("_dateparsefailure_hoid")) ev.remove("[host][os][installation_date]")
    ev.remove("actual_msg") // ref :102-104
    ev.remove("tanm")
    ev.remove("tmp_msg")
  }

  // ------------------------------------------------- virtustream.linux
  /** ref logstash_virtustream_linux_forwarder.conf:9-80. Quirks mirrored:
    *  - `rename [port]` / `rename [host]` (:17-18) probe TOP-LEVEL fields
    *    the pipeline input never sets — both dead, kept as written.
    *  - the logstash-self-log grok (:35-40) only runs when
    *    `[event][kind] =~ "logstash"` AND the syslog_message starts with
    *    two bracket groups; its optional trailing `{:message=>…,
    *    :exception=>…}` captures split ruby-exception payloads.
    *  - non-bracketed logstash messages rename syslog_message →
    *    [error][message] wholesale (:42-46). */
  def virtustreamLinux(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "virtustream") // ref :9-12
    ev.set("[event][dataset]", "virtustream.linux")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev) // ref :13-16
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[port]", "[source][port]") // ref :17-18 — dead (see scaladoc)
    ev.rename("[host]", "[host][ip]")
    ev.rename("[tmp][tags]", "[host][os][type]") // ref :19-31
    ev.rename("[tmp][syslog_hostname]", "[log][source][hostname]")
    ev.rename("[tmp][syslog_facility]", "[log][syslog][facility][name]")
    ev.rename("[tmp][type]", "[event][type]")
    ev.rename("[tmp][syslog_program]", "[event][kind]")
    ev.rename("[tmp][@version]", "[observer][version]")
    ev.rename("[tmp][message]", "[event][original]")
    ev.rename("[tmp][syslog_facility_code]", "[log][syslog][facility][code]")
    ev.rename("[tmp][syslog_pid]", "[process][pid]")
    ev.rename("[tmp][syslog_severity]", "[log][syslog][priority]")
    ev.rename("[tmp][received_from]", "[log][source][ip]")
    ev.rename("[tmp][syslog_severity_code]", "[log][syslog][severity][code]")
    if (ev.getString("[event][kind]").exists(_.contains("logstash"))) { // ref :33-47
      val sm = ev.getString("[tmp][syslog_message]").getOrElse("")
      if (sm.matches("^\\[.*?\\]\\[.*$")) // anchored start; `.*$` needs no full-line match
        Grok(ev, "[tmp][syslog_message]",
          Seq("^.*?\\].*?\\]\\[(?<[process][parent][name]>.*?)(\\s+)?\\](\\s+)?(\\[(?<[process][name]>.*?)(\\s+)?\\])?(\\s+)?(\\[(?<[process][id]>.*?)\\])?(\\s+)?(?<[event][action]>.*?)( \\{\\:message\\=\\>(?<[error][message]>.*?)\\, \\:exception\\=\\>(?<[error][type]>.*?)\\,.*)?$"),
          Seq("_grokparsefailure_header"))
      else ev.rename("[tmp][syslog_message]", "[error][message]")
    }
    if (Dates(ev, "[tmp][syslog_timestamp]", // ref :49-54
      Seq("MMM dd HH:mm:ss", "MMM  dd HH:mm:ss", "MMM d yyyy HH:mm:ss", "ISO8601"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      defaultYear = ctx.tsYear)) ()
    if (Dates(ev, "[tmp][@timestamp]", Seq("ISO8601"), "[event][start_ms]", // ref :55-60
      timezone = "GMT", locale = "en")) ()
    if (Dates(ev, "[tmp][received_at]", Seq("ISO8601"), "[event][ingested_ms]", // ref :61-66
      timezone = "GMT", locale = "en")) ()
    ev.remove("tmp") // ref :68-70
  }

  // ------------------------------------------------- pingfederate.auth
  /** ref flat_file_audit_pingfederate.conf:9-117. Quirks mirrored:
    *  - empty messages and `<191>` debug lines are DROPPED (:13-27) — the
    *    parse_rule add_fields before the drops are unobservable.
    *  - the `"  " → " "` gsub (:31) collapses exactly one double-space
    *    run per occurrence (a literal two-space pattern, not a + run).
    *  - a message that is neither `<187` nor `<188` gets NO rule dissect:
    *    [event][created] stays absent (date no-ops) and the translate
    *    skips (source missing → fallback NOT applied).
    *  - RULE 3's trailing `: %{del}` means error codes keep no colon. */
  def pingfederate(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "pingfederate") // ref :9-12
    ev.set("[event][dataset]", "pingfederate.auth")
    val msg0 = ev.getString("message").getOrElse("")
    if (msg0 == "") return Dropped // ref :13-18 (RULE 1 (dropped))
    if (msg0.contains("<191>")) return Dropped // ref :21-27 (RULE 2 (dropped))
    Pending(Seq(ev), pingfederateBody)
  }

  private def pingfederateBody(ev: Event, ctx: ParseCtx): Unit = {
    Mutate.strip(ev, "message") // ref :28-33
    Mutate.gsub(ev, "message", "\\r\\n", ";")
    Mutate.gsub(ev, "message", "  ", " ")
    Mutate.gsub(ev, "message", "\\n", ";")
    Dissect(ev, "message", "%{[[log][date]]} {%{?data}} %{rest_msg}") // ref :34-38
    val msg = ev.getString("message").getOrElse("")
    val header = "<%{[[log][level]]}>%{[[event][created]]->} %{+[[event][created]]} " +
      "%{+[[event][created]]} %{[[source][address]]} [%{del},%{del1},%{[[log][logger]]}] "
    if (msg.contains("<187")) { // ref :39-75
      if (msg.contains("com.pingidentity.pingone.api.PingOneAdminApiException")) {
        ev.set("[agent][parse_rule]", "RULE 3")
        Dissect(ev, "rest_msg", header + "%{[[rule][description]]};%{del}: " +
          "%{[[http][request][method]]} request to %{[[url][full]]} returned %{[[error][code]]}: %{del}")
      } else if (msg.contains("java.net.UnknownHostException")) {
        ev.set("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "rest_msg", header + "%{[[rule][description]]};")
      } else {
        ev.set("[agent][parse_rule]", "RULE 5")
        Dissect(ev, "rest_msg", header + "%{[[rule][description]]}")
      }
    } else if (msg.contains("<188")) { // ref :76-85
      ev.set("[agent][parse_rule]", "RULE 6")
      Dissect(ev, "rest_msg", header + "%{[[rule][description]]}")
    }
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"), // ref :87-92
      "[event][created_ms]", timezone = "GMT", locale = "en",
      defaultYear = ctx.tsYear)) ev.remove("[event][created]")
    ev.getString("[log][level]").foreach { lvl => // ref :98-107
      if (!ev.has("[rule][category]"))
        ev.set("[rule][category]", lvl match {
          case "187" => "Ops Error"
          case "188" => "Ops Warning"
          case "191" => "Ops other"
          case _ => "Others"
        })
    }
    ev.remove("del") // ref :108-110
    ev.remove("del1")
    ev.remove("[log][date]")
    ev.remove("rest_msg")
  }
}
