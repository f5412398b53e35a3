package graft.rules

import graft.model.Event
import graft.parse.{Csv, Dates, Dissect, Kv, Mutate}

/** Web/proxy flat-file + rsyslog quartet:
  *   - apache (rsyslog JSON envelope, access+error) — syslog_audit_apache.conf
  *   - apache.audit (error_log flat file) — flat_file_audit_apache.error.conf
  *   - mwg.proxy.audit — flat_file_audit_mwg.proxy.conf
  *   - iis (flat-file W3C) — flat_file_audit_iis.conf
  */
object ApacheWebRules {

  // ----------------------------------------------------------- apache
  /** ref syslog_audit_apache.conf:8-77. Quirks mirrored:
    *  - the rsyslog JSON envelope is DISSECTED, not json-parsed (:8-12):
    *    actual_msg keeps the closing `"}` (+CR) of the envelope, which the
    *    per-branch gsubs then strip off the LAST capture only — the access
    *    branch's `("}\r)` needs the CR; without it the junk stays.
    *  - no [event][module] is ever stamped; [event][dataset] comes from the
    *    envelope's `type` field.
    *  - date locale => "ec" (:14-20) — a bogus language tag, harmless for
    *    ISO8601.
    *  - [event][ingested] captures a string date that enrichment 02 always
    *    removes + tags _dateparsefailure_ei.
    *  - the access branch replaces a LITERAL "::1" client nat ip (:29-33);
    *    the error branch gsubs the substring (::1 with a port survives as
    *    127.0.0.1:port). */
  def apache(ev: Event, ctx: ParseCtx): Unit = {
    Dissect(ev, "message", // ref :8-12
      "{\"type\":\"%{[[event][dataset]]}\",\"@timestamp\":\"%{[[event][created]]}\"," +
        "\"host\":\"%{[[host][name]]}\",\"severity\":\"%{[[log][syslog][priority]]}\"," +
        "\"facility\":\"%{[[log][syslog][facility][code]]}\",\"syslog-tag\":\"%{?syslog-tag}\"," +
        "\"source\":\"%{[[event][kind]]}\",\"message\":\"%{actual_msg}")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :14-20
      timezone = "GMT", locale = "ec", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    val kind = ev.getString("[event][kind]").getOrElse("")
    if (kind == "apache-access") { // ref :21-42
      Dissect(ev, "actual_msg",
        "[%{[[event][ingested]]}] [%{[[host][user][name]]}] [%{[[log][logger]]}] " +
          "[%{[[log][source][hostname]]}] [%{[[client][nat][ip]]}] [%{[[server][port]]}] " +
          "%{[[http][request][method]]} %{[[url][full]]} \"%{[[url][query]]}\" " +
          "%{[[network][protocol]]} %{[[http][response][status_code]]} " +
          "%{[[host][network][ingress][bytes]]} %{[[client][bytes]]} %{[[process][uptime]]} " +
          "\"%{[[dns][header_flags]]}\" \"%{[[user_agent][name]]}\" %{[[network][forwarded_ip]]}",
        Seq("access_dissect_failure"))
      Mutate.gsub(ev, "[network][forwarded_ip]", "(\"}\\r)", "")
      if (ev.getString("[client][nat][ip]").contains("::1"))
        ev.set("[client][nat][ip]", "127.0.0.1")
      if (ev.getString("[network][forwarded_ip]").contains("-"))
        ev.remove("[network][forwarded_ip]")
    } else if (kind == "apache-error") { // ref :43-70
      Dissect(ev, "actual_msg",
        "[%{[[event][ingested]]}] [%{[[host][user][name]]}] [%{[[log][level]]}] " +
          "[%{[[log][logger]]}] [%{[[log][source][hostname]]}] [%{[[process][pid]]}] " +
          "[%{[[log][origin][file][name]]}: %{[[http][response][status_code]]}] " +
          "[client %{[[client][nat][ip]]}] %{rest_msg}",
        Seq("error_dissect_failure"))
      if (ev.getString("[client][nat][ip]").exists(_.contains("::1")))
        Mutate.gsub(ev, "[client][nat][ip]", "(::1)", "127.0.0.1")
      Mutate.gsub(ev, "rest_msg", "(\"})", "")
      if (ev.getString("rest_msg").exists(_.contains("access")))
        Dissect(ev, "rest_msg",
          "%{[[event][id]]}: access to /%{[[file][name]]} denied " +
            "(filesystem path '%{[[file][path]]}') %{[[event][reason]]}",
          Seq("error_dissect_failure_rest"))
      ev.remove("rest_msg")
    }
    ev.remove("actual_msg") // ref :71-73
  }

  // ----------------------------------------------------- apache.audit
  /** ref flat_file_audit_apache.error.conf:9-79. Quirks mirrored:
    *  - quote gsubs run before strip (Logstash intra-mutate order).
    *  - [source][ip] is a sprintf COPY of [source][address] (:25-31) taken
    *    verbatim — whatever the bracket capture held.
    *  - RULE captures (http_verb/request_value/...) go to top-level
    *    non-ECS fields; only [error][type] and the rule tag are ECS-visible.
    *  - error_message is never removed.
    *  - no date filter: the log_time capture is discarded unparsed. */
  def apacheAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "apache") // ref :9-12
    ev.set("[event][dataset]", "apache.audit")
    Mutate.gsub(ev, "message", "[\"]", "") // ref :13-17 (gsub precedes strip)
    Mutate.gsub(ev, "message", "[\"\"]", "")
    Mutate.strip(ev, "message")
    Dissect(ev, "message", // ref :18-22
      "[%{log_time}] [%{[[log][level]]}] [client %{[[source][address]]}] %{error_message}")
    Mutate.addField(ev, "[source][ip]", "%{[[source][address]]}") // ref :24-31
    ev.set("[error][type]", "other error")
    ev.remove("log_time")
    val em = ev.getString("error_message").getOrElse("")
    if (em.startsWith("Invalid URI in request")) { // ref :33-43
      ev.set("[agent][parse_rule]", "RULE 1")
      Dissect(ev, "error_message", "Invalid URI in request %{http_verb} %{request_value}")
      Mutate.update(ev, "[error][type]", "invalid uri")
    } else if (em.startsWith("Invalid method in request")) { // ref :44-53
      ev.set("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "error_message", "Invalid method in request %{http_verb} %{http_version}")
      Mutate.update(ev, "[error][type]", "invalid method")
    } else if (em.startsWith("client sent invalid")) { // ref :54-63
      ev.set("[agent][parse_rule]", "RULE 3")
      Dissect(ev, "error_message", "client sent invalid %{http_version} request: %{http_verb} %{request_uri}")
      Mutate.update(ev, "[error][type]", "invalid request")
    } else if (em.startsWith("request failed: error reading the headers") ||
               em.startsWith("Client sent malformed Host header")) { // ref :64-69
      ev.set("[agent][parse_rule]", "RULE 4")
      Mutate.update(ev, "[error][type]", "invalid header")
    } else if (em.contains("without hostname")) { // ref :70-75
      ev.set("[agent][parse_rule]", "RULE 5")
      Mutate.update(ev, "[error][type]", "invalid request")
    }
  }

  // ------------------------------------------------- mwg.proxy.audit
  /** ref flat_file_audit_mwg.proxy.conf:9-77. Quirks mirrored:
    *  - the gsub ladder (:17-26) collapses the export's underscore rules
    *    and folds newlines to ", " BEFORE the comma/colon kv, so every key
    *    arrives with a leading space (trim_key) and Mixed Case
    *    (transform_key lowercase).
    *  - BOTH `source id` and `entry` rename onto [source][ip] (:37-48) —
    *    entry, when present, overwrites.
    *  - `description` lands on [event][original], the one field the
    *    lowercase enrichment exempts. */
  def mwgProxy(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "mwg") // ref :9-12
    ev.set("[event][dataset]", "mwg.proxy.audit")
    ev.copyField("message", "tmp_msg") // ref :13-16
    Mutate.gsub(ev, "tmp_msg", "[_]{2,}", "") // ref :17-26
    Mutate.gsub(ev, "tmp_msg", "[\\n]", ", ")
    Mutate.gsub(ev, "tmp_msg", "[\\r]", "")
    Mutate.gsub(ev, "tmp_msg", "\\s+", " ")
    Mutate.gsub(ev, "tmp_msg", "^\\s+", "")
    Kv(ev, "tmp_msg", ',', ':', target = "mwg", trimKey = " ", // ref :29-36
      transformKeyLowercase = true)
    ev.rename("[mwg][user]", "[source][user][name]") // ref :37-52
    ev.rename("[mwg][action]", "[event][action]")
    ev.rename("[mwg][type]", "[process][name]")
    ev.rename("[mwg][source type]", "[event][category]")
    ev.rename("[mwg][source id]", "[source][ip]")
    ev.rename("[mwg][timestamp]", "[event][created]")
    ev.rename("[mwg][role]", "[source][user][group][name]")
    ev.rename("[mwg][user-agent]", "[user_agent][original]")
    ev.rename("[mwg][source name]", "[source][address]")
    ev.rename("[mwg][source path]", "[file][path]")
    ev.rename("[mwg][entry]", "[source][ip]")
    ev.rename("[mwg][description]", "[event][original]")
    ev.rename("[mwg][appliance]", "[observer][hostname]")
    ev.copyField("[observer][hostname]", "[log][source][hostname]")
    ev.remove("mwg") // ref :56
    ev.remove("tmp_msg")
    if (Dates(ev, "[event][created]", // ref :59-66
      Seq("dd/MMM/yyyy:HH:mm:ss.SSS Z", "dd/MMM/yyyy:HH:mm:ss.SSS"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]") // ref :68-72
  }

  // --------------------------------------------------------------- iis
  /** ref flat_file_audit_iis.conf:9-92 (the flat-file sibling of the ported
    * microsoft.iis.w3c). Quirks mirrored:
    *  - the csv column list names [source][ip]/[source][port]/[client][ip]
    *    as BRACKET PATHS under target "iis" — an illegal nested field
    *    reference in Logstash; resolved here as root-level paths (the
    *    engine's csv semantic), which also keeps the conf's dotted-key
    *    renames (`[iis][source.ip]` etc., :48-51) dead exactly as written.
    *    Net effect: [source][ip], [source][port] and [client][ip] keep the
    *    raw column values, and [destination][ip]/[destination][port] are
    *    never populated.
    *  - with an X-Forwarded-For column the conf copies [source][ip] to
    *    [observer][ip] and then the XFF value over [source][ip] (:66-71).
    *  - [log][source][hostname] is a sprintf of the UNrenamed
    *    [iis][s-computername] (:34-36), so it must run before the renames. */
  def iisFlat(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "iis") // ref :9-12
    ev.set("[event][dataset]", "iis")
    Csv(ev, "message", Seq("date", "time", "s-sitename", "s-computername", // ref :13-41
      "[source][ip]", "cs-method", "cs-uri-stem", "cs-uri-query", "[source][port]",
      "cs-username", "[client][ip]", "cs-version", "cs(User-Agent)", "cs(Cookie)",
      "cs(Referer)", "cs-host", "sc-status", "sc-substatus", "sc-win32-status",
      "sc-bytes", "cs-bytes", "time-taken", "X-Forwarded-For"),
      separator = ' ', target = "iis")
    Mutate.addField(ev, "[log][source][hostname]", "%{[iis][s-computername]}") // ref :42-44
    ev.rename("[iis][date]", "date") // ref :45-67
    ev.rename("[iis][time]", "time")
    ev.rename("[iis][s-computername]", "[destination][address]")
    ev.rename("[iis][source.ip]", "[destination][ip]") // dead (see scaladoc)
    ev.rename("[iis][cs-method]", "[http][request][method]")
    ev.rename("[iis][cs-uri-stem]", "[url][path]")
    ev.rename("[iis][cs-uri-query]", "[url][query]")
    ev.rename("[iis][source.port]", "[destination][port]") // dead
    ev.rename("[iis][cs-username]", "[user][name]")
    ev.rename("[iis][client.ip]", "[source][ip]") // dead
    ev.rename("[iis][cs-version]", "[tls][next_protocol]")
    ev.rename("[iis][cs(User-Agent)]", "[user_agent][version]")
    ev.rename("[iis][cs(Referer)]", "[http][request][referrer]")
    ev.rename("[iis][sc-status]", "[http][response][status_code]")
    ev.rename("[iis][sc-bytes]", "[http][response][bytes]")
    ev.rename("[iis][cs-bytes]", "[http][request][bytes]")
    ev.rename("[iis][time-taken]", "[event][duration]")
    if (ev.has("[iis][X-Forwarded-For]")) { // ref :68-73
      ev.copyField("[source][ip]", "[observer][ip]")
      ev.copyField("[iis][X-Forwarded-For]", "[source][ip]")
    }
    Mutate.addField(ev, "[event][created]", "%{date} %{time}") // ref :74-77
    ev.remove("date")
    ev.remove("time")
    ev.remove("iis")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss"), // ref :79-84
      "[event][created_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][created]")
  }
}
