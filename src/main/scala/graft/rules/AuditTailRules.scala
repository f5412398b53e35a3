package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate, SyslogPri}

/** Audit-tail pair:
  *   - tenable_nessus.security_center — syslog_audit_tenable.security_center.conf
  *   - sap.cloud_connector — flat_file_log_audit_sap.cloud_connector.conf
  */
object AuditTailRules {

  // -------------------------------------- tenable_nessus.security_center
  /** ref syslog_audit_tenable.security_center.conf:9-66. Quirks mirrored:
    *  - the app grok (:37-42) has NO tag_on_failure override — OS-log lines
    *    (the .os_logs kind) land the default _grokparsefailure and flip
    *    parse_ok.
    *  - `.*\[%{WORD:product}\]` is greedy: product comes from the LAST
    *    bracketed word before the pipe-delimited tail.
    *  - finalmessage (everything after the last pipe) lands on
    *    [event][outcome]. */
  def securityCenter(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "tenable_nessus") // ref :9-12
    ev.set("[event][dataset]", "tenable_nessus.security_center")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("T.NessusCore") || am.contains("SecurityCenter")) // ref :22-31
      ev.set("[event][kind]", "tenable_nessus.security_center.app")
    else // ref :32-36
      ev.set("[event][kind]", "tenable_nessus.security_center.os_logs")
    Grok(ev, "actual_msg", // ref :37-42
      Seq("%{SYSLOGTIMESTAMP:syslog_timestamp} %{SYSLOGHOST:syslog_hostname}\\s" +
        "(?<technology_name>.*?):.*\\[%{WORD:product}\\]\\:\\s%{WORD:day},\\s" +
        "%{GREEDYDATA:date}\\s-%{INT:value}\\|%{WORD:status}\\|%{WORD:infotype}\\|" +
        "%{WORD:messagetype}\\|%{WORD:errorlevel}\\|%{GREEDYDATA:finalmessage}"))
    ev.rename("syslog_hostname", "[host][hostname]") // ref :43-51
    ev.rename("product", "[observer][product]")
    ev.rename("status", "[event][action]")
    ev.rename("infotype", "[error][id]")
    ev.rename("messagetype", "[error][code]")
    ev.rename("errorlevel", "[error][type]")
    ev.rename("finalmessage", "[event][outcome]")
    Dates(ev, "date", Seq("dd MMM yyyy HH:mm:ss", "ISO8601"), // ref :52-58
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))
    for (f <- Seq("syslog_timestamp", "technology_name", "day", "value", "date", "actual_msg"))
      ev.remove(f) // ref :59-61
  }

  // -------------------------------------------------- sap.cloud_connector
  /** ref flat_file_log_audit_sap.cloud_connector.conf:7-62. Quirks mirrored:
    *  - "^Date & Time" header rows are DROPPED (:7-9).
    *  - the whole message is LOWERCASED before the dissect (:15), so every
    *    capture (action, user, hosts) arrives lowercase.
    *  - the created gsub `^(.*?) (.*?\.\d\d\d).*?$` → `\1T\2` re-joins the
    *    date and millisecond time with a 'T' and discards any trailing
    *    timezone junk (Ruby \1/\2 ≙ Java $1/$2).
    *  - the host.name copy (:13) probes a field the pipeline never sets —
    *    dead, kept. */
  def sapCloudConnector(ev: Event, ctx: ParseCtx): ParseOutcome = {
    if (ev.getString("message").exists(_.startsWith("Date & Time"))) return Dropped // ref :7-9
    Pending(Seq(ev), sapCloudConnectorBody)
  }

  private def sapCloudConnectorBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "sap") // ref :10-16
    ev.set("[event][dataset]", "sap.cloud_connector")
    ev.copyField("[host][name]", "[log][source][hostname]") // dead
    Mutate.lowercase(ev, "message")
    Dissect(ev, "message", // ref :17-23
      "%{[event][created]} %{+[event][created]} %{?data},%{?data},%{?data},%{?data}," +
        "%{[event][action]},%{[rest_msg]}")
    val action = ev.getString("[event][action]").getOrElse("")
    if (action.contains("unspecified")) // ref :24-31
      Grok(ev, "rest_msg",
        Seq("^.*? file (?<[file][name]>.*?) .*? serial (?<[file][x509][serial_number]>.*?) .*?"),
        Seq("_grokfailure_1"))
    if (action.contains("service_stopped") || action.contains("service_started")) // ref :32-39
      Grok(ev, "rest_msg",
        Seq("(?<[process][name]>.*?) \\[(?<[destination][address]>.*?)\\] .*? " +
          "account://(?<[user][name]>.*?) .*?"),
        Seq("_grokfailure_2"))
    if (action.contains("op_access_allowed")) // ref :40-47
      Grok(ev, "rest_msg",
        Seq("^.*? user (?<[user][name]>.*?) to resource (?<[process][name]>.*?) on system " +
          "(?<[destination][address]>.*?):(?<[destination][port]>.*?) .*?"),
        Seq("_grokfailure_3"))
    Mutate.gsub(ev, "[event][created]", "^(.*?) (.*?\\.\\d\\d\\d).*?$", "$1T$2") // ref :48-50
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :51-57
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    for (f <- Seq("[agent][hostname]", "fields", "input", "type", "data")) ev.remove(f) // ref :58-60
    // rest_msg is NOT in the ref's remove list — kept (no flat column reads it)
  }
}
