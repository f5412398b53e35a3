package graft.rules

import graft.model.Event
import graft.parse._

/** cisco.ise — semantic port of config/processors/syslog_security_cisco.ise
  * .conf. The ISE relay splits one logical event across syslog segments:
  * segment 0 carries the dissectable header + KV tail, segments >0 carry KV
  * continuation only (:60-99). Five translate ladders with fallbacks map the
  * category name onto module/kind/category/type/outcome (:122-186); leftover
  * KVs are json_encoded into [labels][tags] (:248-251). The final
  * `date { timezone => "[@metadata][timezone]" }` passes the field REFERENCE
  * as a literal zone id (:252-258) — an unresolvable zone, so event.created
  * always fails and is removed (:259-263), which we mirror. */
object IseRules {

  private val iseMainGrok = // ref :24-29
    "%{SYSLOGTIMESTAMP:syslog_date} %{NOTSPACE:[[observer][name]]} " +
      "%{NOTSPACE:[[tmp][cat_name]]} %{NUMBER:[[tmp][msg_id]]} " +
      "%{NUMBER:[[tmp][total_segments]]} %{NUMBER:[[tmp][segment_number]]} " +
      "%{GREEDYDATA:[[tmp][msg]]}"

  private val iseSeg0Dissect = // ref :64-68
    "%{[[tmp][ise_timestamp]]} %{+[[tmp][ise_timestamp]]} %{+[[tmp][ise_timestamp]]} " +
      "%{[[tmp][ise_seq_num]]} %{[[event][code]]} %{[log][syslog][severity][name]} " +
      "%{[[tmp][class]]}: %{[[tmp][msg_text]]}, %{[[tmp][rest_msg]]}"

  private val failureReasonGrok = // ref :102-108
    "%{NUMBER:[[error][code]]} %{GREEDYDATA:[[error][message]]}"

  private val cmdAvGrok = // ref :218-222
    "^CmdAV=(?<[process][command_line]>.*?)(\\s\\<cr\\>)?$"

  // ref :122-186 — the five category translate ladders
  private val modDict = Map(
    "CISE_Passed_Authentications" -> "aaa_audit", "CISE_AAA_Audit" -> "aaa_audit",
    "CISE_Failed_Authentications" -> "aaa_audit",
    "CISE_AAA_Diagnostics" -> "aaa_diagnostics",
    "CISE_Authentication_Flow_Diagnostics" -> "aaa_diagnostics",
    "CISE_Identity_Stores_Diagnostics" -> "aaa_diagnostics",
    "CISE_Policy_Diagnostics" -> "aaa_diagnostics",
    "CISE_RADIUS_Diagnostics" -> "aaa_diagnostics",
    "CISE_Guest" -> "aaa_diagnostics", "CISE_My_Devices" -> "aaa_diagnostics",
    "CISE_AD_Connector" -> "aaa_diagnostics",
    "CISE_TACACS_Diagnostics" -> "aaa_diagnostics",
    "CISE_Accounting" -> "accounting", "CISE_RADIUS_Accounting" -> "accounting",
    "CISE_TACACS_Accounting" -> "accounting",
    "CISE_System_Diagnostics" -> "system_diagnostics",
    "CISE_Licensing" -> "system_diagnostics")
  private val kindDict = Map(
    "CISE_Failed_Authentications" -> "alert", "CISE_Failed_Attempts" -> "alert")
  private val catDict = Map(
    "CISE_System_Diagnostics" -> "host", "CISE_Licensing" -> "host",
    "CISE_TACACS_Accounting" -> "configuration",
    "CISE_RADIUS_Accounting" -> "configuration")
  private val typeDict = Map(
    "CISE_Passed_Authentications" -> "allowed",
    "CISE_Failed_Authentications" -> "denied",
    "CISE_System_Diagnostics" -> "info", "CISE_Licensing" -> "info")
  private val outcomeDict = Map(
    "CISE_Passed_Authentications" -> "success",
    "CISE_Failed_Authentications" -> "failure", "CISE_Failed_Attempts" -> "failure")

  def ciscoIse(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.ise")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    if (!Grok(ev, "actual_msg", Seq(iseMainGrok), Seq("_grokparsefailure"))) { // ref :24-29
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("syslog_date", "[tmp][syslog_date]") // ref :32-35
    ev.set("[event][ingested_ms]", ctx.tsMillis) // ref :38-40 copy @timestamp
    // ref :42-47 — [tmp][time] is never produced upstream; the filter is a
    // no-op on the absent field, mirrored verbatim
    Dates(ev, "[tmp][time]", Seq("MMM dd yyyy HH:mm:ss", "MMM  d yyyy HH:mm:ss", "ISO8601"),
      "[event][created_ms]")
    // ref :49-58 — syslog_date parsed in place (feeds @timestamp, which this
    // engine keeps as the untouched input ts column; no flattened output)
    Dates(ev, "[tmp][syslog_date]", Seq("MMM dd HH:mm:ss", "MMM  dd HH:mm:ss"),
      "[tmp][syslog_date_ms]", defaultYear = ctx.tsYear)
    val seg0 = ev.getString("[tmp][segment_number]").contains("0")
    if (seg0) { // ref :62-83
      if (Dissect(ev, "[tmp][msg]", iseSeg0Dissect, Seq("_dissectfailure"))) {
        Kv.withPattern(ev, "[tmp][rest_msg]", ", ", '=', target = "kvs",
          removeCharKey = "\\s")
        Dates(ev, "[tmp][ise_timestamp]",
          Seq("MMM dd yyyy HH:mm:ss", "MMM  d yyyy HH:mm:ss", "ISO8601",
            "yyyy-MM-dd HH:mm:ss.SSS ZZ"), "[tmp][at_ms]")
      }
    } else { // ref :86-99
      ev.rename("[tmp][msg]", "[tmp][rest_msg]")
      Kv.withPattern(ev, "[tmp][rest_msg]", ", ", '=', target = "kvs",
        removeCharKey = "\\s")
    }
    if (ev.has("[kvs][FailureReason]")) // ref :102-108
      Grok(ev, "[kvs][FailureReason]", Seq(failureReasonGrok), Seq("_grokparsefailure"))
    ev.rename("[tmp][msg_text]", "[event][reason]") // ref :113-119
    ev.rename("[tmp][cat_name]", "[event][action]")
    ev.rename("[tmp][msg_id]", "[event][id]")
    ev.rename("[tmp][class]", "[event][provider]")
    Mutate.addField(ev, "[event][sequence]",
      "%{[tmp][segment_number]}_%{[tmp][total_segments]}")
    // ref :122-186 — five translates with fallbacks
    ev.getString("[event][action]").foreach { a =>
      ev.set("[event][module]", modDict.getOrElse(a, "event"))
      ev.set("[event][kind]", kindDict.getOrElse(a, "event"))
      ev.set("[event][category]", catDict.getOrElse(a, "authentication"))
      ev.set("[event][type]", typeDict.getOrElse(a, "access"))
      ev.set("[event][outcome]", outcomeDict.getOrElse(a, "unknown"))
    }
    ev.rename("[kvs][DeviceIPAddress]", "[destination][ip]") // ref :189-204
    ev.rename("[kvs][DevicePort]", "[destination][port]")
    ev.rename("[kvs][DetinationIPAddress]", "[observer][ip]") // ref's own typo
    ev.rename("[kvs][DestinationPort]", "[observer][port]")
    ev.rename("[kvs][Protocol]", "[network][protocol]")
    ev.rename("[kvs][NetworkDeviceName]", "[host][hostname]")
    ev.rename("[kvs][UserName]", "[user][name]")
    ev.rename("[kvs][CmdSet]", "proc_tmp")
    ev.rename("[kvs][User]", "[user][name]")
    ev.rename("[kvs][Remote-Address]", "[source][ip]")
    ev.rename("[kvs][Response]", "[event][outcome]")
    ev.rename("[kvs][start_time]", "[event][created]")
    ev.rename("[kvs][timezone]", "[@metadata][timezone]")
    ev.remove("[kvs][FailureReason]")
    if (ev.has("proc_tmp")) { // ref :205-223
      Mutate.gsub(ev, "proc_tmp", "\\[\\]", "")
      Mutate.strip(ev, "proc_tmp")
      Mutate.gsub(ev, "proc_tmp", "CmdArgAV=", "")
      Mutate.gsub(ev, "proc_tmp", "<cr>", "")
      Mutate.strip(ev, "proc_tmp")
      Grok(ev, "proc_tmp", Seq(cmdAvGrok), Seq("_grokparsefailure"))
    }
    if (ev.has("[kvs][AdminIPAddress]")) // ref :224-228
      Mutate.gsub(ev, "[kvs][AdminIPAddress]", "[\\\\, ]", "")
    if (seg0 && ev.has("[host][hostname]")) { // ref :231-247
      if (!ev.has("[network][name]"))
        Mutate.addField(ev, "[network][name]", "%{[host][hostname]}")
      Mutate.addField(ev, "[service][type]", "%{[host][hostname]}")
      Mutate.gsub(ev, "[service][type]", "(.*)-([a-z]*)", "$2")
      Mutate.gsub(ev, "[network][name]", "([a-z]*)([0-9].*)", "$1")
    }
    JsonOps.encode(ev, "kvs", "[labels][tags]") // ref :248-251
    // ref :252-263 — the timezone option receives the field-reference STRING
    // itself (not its value): never a valid zone, so this date always fails
    if (ev.has("[event][created]")) {
      Dates(ev, "[event][created]", Seq("UNIX"), "[event][created_ms]",
        timezone = "[@metadata][timezone]", tagOnFailure = Seq("_dateparsefailure_ec"))
      if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    }
    Seq("tmp", "kvs", "actual_msg", "proc_tmp").foreach(ev.remove) // ref :264-267
  }
}
