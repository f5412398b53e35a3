package graft.rules

import graft.model.Event
import graft.parse.{Csv, Dates, Dissect, Grok, Kv, Mutate, Net, SyslogPri}

/** The skyhigh family — three processors sharing the skyhigh module:
  *
  *  - sec_mgr (syslog_security_skyhigh.security.mgr.conf, 295 lines): the
  *    NSM syslog forwarders (ACL / Fault / AuditLog / Alert) with per-
  *    forwarder dissects and category stamping;
  *  - swg (syslog_security_skyhigh.swg.conf, 204 lines): the web-gateway
  *    access/virus/error lines — double-space kv, rule-id → description
  *    translate (40 entries), ts=[...] bracket date;
  *  - scp (api_security_skyhigh.scp.conf, 155 lines): the 49-column API
  *    CSV with the SECOND `tld` filter call site of the corpus
  *    (ref api_security_skyhigh.scp.conf:131-149 — SURVEY §2.4).
  *
  * Mirrored accidents: sec_mgr RULE 2's rule-name gsub re-appends the `)`
  * the dissect consumed (ref :50-53); swg's tmp_url grok would overwrite
  * the `ver=` next-protocol rename, but its optional capture matches ""
  * and keep_empty_captures=false drops it — the rename survives
  * (ref :103); scp removes [event][original] right after assembling it
  * (ref :41/:128), and its `split` leaves rule.category/event.code as
  * arrays (scalar flatten → NULL).
  */
object SkyhighRules {

  // ---------------- sec_mgr ----------------

  private def smCreated(ev: Event, ctx: ParseCtx): Unit =
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"), "[event][created_ms]",
      timezone = "GMT", locale = "en", defaultYear = ctx.tsYear))
      ev.remove("[event][created]")

  def secMgr(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "skyhigh") // ref :9-12
    ev.set("[event][dataset]", "skyhigh.sec_mgr")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :16-20
    SyslogPri(ev) // ref :21-24
    if (ev.getString("actual_msg").getOrElse("") == "") { // ref :25-30
      ev.set("[agent][parse_rule]", "RULE 1 (dropped)")
      return Dropped
    }
    Pending(Seq(ev), secMgrBody)
  }

  private def secMgrBody(ev: Event, ctx: ParseCtx): Unit = {
    if (ev.getString("message").exists(_.contains("{name="))) { // ref :31-40
      Grok(ev, "message", Seq("^.*?\\{name=(?<[[observer][hostname]]>.*?)}.*?"),
        Seq("_parsefailure_header"))
      Mutate.gsub(ev, "[observer][hostname]", "^(.*?)\\.(.*)$", "$1")
    }
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("SyslogACLLogForwarder")) { // ref :41-74
      ev.mergeInto("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} SyslogACLLogForwarder: %{[[source][address]]} %{[[rule][name]]}) %{[[source][ip]]} -> %{[[destination][ip]]}:%{[[destination][port]]} (result = %{[[event][action]]})")
      Mutate.gsub(ev, "[rule][name]", "/#1", "/#1)") // ref :50-53
      Mutate.gsub(ev, "[rule][name]", "/#2", "/#2)")
      val rn = ev.getString("[rule][name]").getOrElse("")
      if (rn.contains("Inbound ACL rule") || rn.contains("Outbound ACL rule")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 3")
        ev.mergeInto("[rule][category]", "Ops/Network Allow")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 4")
        ev.mergeInto("[rule][category]", "Ops/Information")
      }
    } else if (am.contains("SyslogFaultForwarder")) { // ref :75-145
      ev.mergeInto("[agent][parse_rule]", "RULE 5")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} SyslogFaultForwarder: %{[[log][forwarder]]} : %{rest_of_msg}")
      val r = ev.getString("rest_of_msg").getOrElse("")
      if (r.contains("UpdateSensorScheduler") || r.contains("Mailer") || r.contains("DATServerScheduler")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 6")
        Dissect(ev, "rest_of_msg",
          "%{[[manager][level]]}: %{[[manager][status]]}:%{[[scheduler][name]]}:%{[[scheduler][status]]}")
      } else if (r.contains("Channel")) {
        if (r.contains("Alert Channel") || r.contains("Packet Capture")) {
          ev.mergeInto("[agent][parse_rule]", "RULE 7")
          Dissect(ev, "rest_of_msg",
            "%{[[observer][hostname]]}: %{[[rule][ruleset]]}:%{[[rule][name]]}:%{[[rule][description]]}")
        }
      } else if (r.contains("ArchivingISMDb")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 8")
        Dissect(ev, "rest_of_msg",
          "%{[[manager][level]]}: %{[[manager][status]]}:%{[[archiving][name]]}:%{[[archiving][status]]}")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 9")
        Dissect(ev, "rest_of_msg", "%{manager_tmp}: %{[[manager][status]]}")
      }
      if (r.contains("downloaded by the Manager")) { // ref :126-144
        ev.mergeInto("[agent][parse_rule]", "RULE 10")
        ev.mergeInto("[event][category]", "Ops/Information")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 11")
        ev.mergeInto("[event][category]", "Ops/Error")
      }
    } else if (am.contains("SyslogAuditLogForwarder")) { // ref :146-195
      ev.mergeInto("[agent][parse_rule]", "RULE 12")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} SyslogAuditLogForwarder: %{syslog_forwarder}")
      val f = ev.getString("syslog_forwarder").getOrElse("")
      if (f.contains("Login succeeded")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 13")
        ev.mergeInto("[rule][category]", "Audit/Authentication Success")
      } else if (f.contains("Generation succeeded") || f.contains("Purge succeeded") || f.contains("Purge is ongoing")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 14")
        ev.mergeInto("[rule][category]", "Audit/Access Success")
      } else if (f.contains("actions received")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 15")
        ev.mergeInto("[rule][category]", "Ops/Error")
      } else if (f.contains("Scheduled check of")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 16")
        ev.mergeInto("[rule][category]", "Ops/Information")
      }
    } else if (am.contains("SyslogAlertForwarder")) { // ref :196-244
      ev.mergeInto("[agent][parse_rule]", "RULE 17")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} SyslogAlertForwarder: %{[[log][source][hostname]]} %{[[rule][name]]} %{+[[rule][name]]} %{+[[rule][name]]} %{rest_of_msg}")
      val r = ev.getString("rest_of_msg").getOrElse("")
      val protos = Seq("HTTP:", "TELNET:", "SOCKS:", "SSL:", "TCP:", "SCAN:", "BOT:",
        "SNMP:", "IM:", "NMAP:", "PKTSEARCH:", "Malware:", "MALWARE:", "RAT:",
        "MODBUS:", "ICMP:", "DHCP:", "ORACLE:", "NETBIOS-SS:", "RDP:", "Kerberos:",
        "P2P:", "NETIS:", "WORM:", "RPC:", "MSSQL:")
      if (protos.exists(r.contains)) { // ref :205-218
        ev.mergeInto("[agent][parse_rule]", "RULE 18")
        Dissect(ev, "rest_of_msg",
          "%{[network][protocol]}: %{rule_description}. %{[[source][ip]]}:%{[[source][port]]} -> %{[[destination][ip]]}:%{[[destination][port]]} (result = %{[[event][action]]})")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 19")
        Dissect(ev, "rest_of_msg",
          "%{rule_description}. %{[[source][ip]]}:%{[[source][port]]} -> %{[[destination][ip]]}:%{[[destination][port]]} (result = %{[[event][action]]})")
      }
      if (ev.getString("rule_description").exists(_.contains("severity"))) { // ref :229-238
        ev.mergeInto("[agent][parse_rule]", "RULE 19(a)")
        Dissect(ev, "rule_description", "%{?data} = %{[event][severity_name]})")
      }
      ev.mergeInto("[rule][category]", "Security/Attack")
    } else { // ref :245-259
      ev.mergeInto("[agent][parse_rule]", "RULE 20")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{rest_message}")
      ev.mergeInto("[rule][category]", "Audit/Other")
    }
    smCreated(ev, ctx) // ref :260-265
    if (ev.has("rule_description")) { // ref :266-278
      if (ev.getString("rule_description").exists(_.contains("severity ="))) {
        Dissect(ev, "rule_description", "%{[[rule][description]]} (severity%{?data}")
        ev.remove("rule_description")
      } else ev.rename("rule_description", "[rule][description]")
    }
    Seq("actual_msg", "rest_of_msg", "manager", "archiving", "scheduler", // ref :279-281
      "manager_tmp", "[host][hostname]").foreach(ev.remove)
    ev.getString("[destination][port]").foreach { p => // ref :282-291 (N/A ports)
      if (p.contains("N") || p.contains("A")) ev.remove("[destination][port]")
    }
    ev.getString("[source][port]").foreach { p =>
      if (p.contains("N") || p.contains("A")) ev.remove("[source][port]")
    }
  }

  // ---------------- swg ----------------

  private val swgHeaderGrok = // ref :20-23
    "^(.*?)(<(?<pri>\\d+)>)(\\s)?.*?mwg:(  )?(\\s)?(?<tmp_csv>.*?)$"

  private val swgErrorGrok = // ref :60-64
    "^.*?\" .*? (?<[error][id]>\\d+) \"(?<[error][code]>.*?)\" (\"(\")?(?<[error][message]>.*?)\"(\")?)?(.*?Severity: (?<[event][severity]>\\d+)\")?"

  private val swgRenames: Seq[(String, String)] = Seq( // ref :66-99
    "[tmp][usr]" -> "[user][name]", "[tmp][app]" -> "[process][name]",
    "[tmp][block]" -> "[rule][ruleset]", "[tmp][rbytes]" -> "[http][request][bytes]",
    "[tmp][sprt]" -> "[source][port]", "[tmp][rule]" -> "[rule][uuid]",
    "[tmp][stat]" -> "[http][response][status_code]",
    "[tmp][sbytes]" -> "[http][response][bytes]", "[tmp][blockid]" -> "[rule][id]",
    "[tmp][sip]" -> "[source][ip]", "[tmp][sev]" -> "[event][severity_name]",
    "[tmp][dip]" -> "[destination][ip]", "[tmp][cat]" -> "[rule][category]",
    "[tmp][ts]" -> "[event][created]", "[tmp][dprt]" -> "[destination][port]",
    "[tmp][media]" -> "[http][response][mime_type]",
    "[tmp][sslsigmethodserver]" -> "[tls][server][x509][signature_algorithm]",
    "[tmp][sslciphersrvrt]" -> "[tls][cipher]", "[tmp][sslversionsrvr]" -> "[tls][version]",
    "[tmp][sslsha2digestsrvr]" -> "[tls][server][hash][sha256]",
    "[tmp][sslsha1digestsrvr]" -> "[tls][server][hash][sha1]",
    "[tmp][sslcnsrvr]" -> "[tls][server][issuer]",
    "[tmp][sslcipherclient]" -> "[tls][client][supported_ciphers]",
    "[tmp][sslversionclient]" -> "[tls][client][x509][version_number]",
    "[tmp][sslcertserialclient]" -> "[tls][client][x509][serial_number]",
    "[tmp][mprob]" -> "[event][risk_score]", "[tmp][virus]" -> "[rule][name]",
    "[tmp][ver]" -> "[tls][next_protocol]", "[tmp][url]" -> "[observer][ip]", // ref :96 quirk
    "[tmp][agent]" -> "[user_agent][original]")

  private val swgBlockDict: Map[String, String] = Map( // ref :114-160
    "0" -> "Allowed", "1" -> "Internal error",
    "2" -> "Default message template being used for an action",
    "3" -> "Internal URL error", "10" -> "Blocked due to an entry in the URL database",
    "14" -> "Blocked according to URL ing by expression",
    "15" -> "Blocked by the Real-Time Classifier",
    "20" -> "Blocked due to lack of content type",
    "22" -> "Blocked due to the media type",
    "30" -> "Blocked due to a multi-part archive having been found",
    "35" -> "Blocked due to an archive not handled by the Archive Handler",
    "80" -> "Blocked due to a virus having been found",
    "81" -> "Blocked due to unauthorized access",
    "82" -> "Blocked due to a bad request",
    "85" -> "Blocked due to an internal anti-malware error",
    "92" -> "Blocked due to expiration of a certificate",
    "93" -> "Blocked due to a revoked certificate",
    "94" -> "Blocked due to a forbidden certificate authority (CA)",
    "95" -> "Blocked due to an unknown certificate authority (CA)",
    "97" -> "Blocked due to a self-signed certificate",
    "98" -> "Blocked due to a common name mismatch",
    "102" -> "Blocked due to an unspecified certificate incident",
    "103" -> "Blocked due to CONNECT not allowed",
    "104" -> "Blocked due to the reverse proxy destination not being allowed",
    "140" -> "Blocked due to an internal DLP  error",
    "150" -> "Blocked due to an internal Application Control  error",
    "151" -> "Blocked due to a request belonging to an application that is not allowed",
    "160" -> "Blocked due to missing policy for Web Hybrid",
    "161" -> "Blocked due to web access not being allowed by Web Hybrid",
    "162" -> "Blocked due to URL ing by Web Hybrid",
    "200" -> "Blocked due to the coaching session of a user having been exceeded",
    "201" -> "Blocked due to the time quota session of a user having been exceeded",
    "202" -> "Blocked due to the time quota for a user having been exceeded",
    "203" -> "Blocked due to the volume quota session of a user having been exceeded",
    "204" -> "Blocked due to the volume quota for a user having been exceeded",
    "205" -> "Blocked due to the authorized override session of a user having been exceeded",
    "206" -> "Blocked due to the blocking session of a user being active",
    "300" -> "Blocked due to a quota redirect",
    "301" -> "Blocked due to an authentication redirect",
    "400" -> "Blocked due to an authorized override redirect")

  def swg(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "skyhigh") // ref :11-19
    ev.set("[event][dataset]", "skyhigh.swg")
    ev.copyField("message", "[event][original]")
    Mutate.gsub(ev, "message", "connection type=(.*?), ssl", "connection type=$1,  ssl")
    ev.remove("host")
    Grok(ev, "message", Seq(swgHeaderGrok)) // ref :20-23
    SyslogPri(ev) // ref :24-28 (ecs v8 ≙ flat decode + the 04 ECS renames)
    val csvS = ev.getString("tmp_csv").getOrElse("")
    if (csvS.contains(",  ")) { // ref :29-43
      Grok(ev, "tmp_csv",
        Seq("^(?<tmp_csv_2>.*?)  method=(?<tmp_url>.*?)(,  ref=(?<tmp_referrer>.*?))?(\\s+)?$"))
      Kv.withPattern(ev, "tmp_csv_2", ",  ", '=', target = "tmp")
    } else if (csvS.contains("virus=")) { // ref :44-58
      Grok(ev, "tmp_csv",
        Seq("^(?<tmp_csv_2>.*)method=(?<tmp_url>.*)(,ref=(?<tmp_referrer>.*?))?(\\s+)?$"))
      Kv(ev, "tmp_csv_2", ',', '=', target = "tmp", trimKey = " ", trimValue = " ")
    } else { // ref :59-65
      Grok(ev, "tmp_csv", Seq(swgErrorGrok))
    }
    swgRenames.foreach { case (from, to) => ev.rename(from, to) } // ref :66-99
    if (ev.has("tmp_url")) { // ref :101-113
      Grok(ev, "tmp_url",
        Seq("^(?<[http][request][method]>.*?) (?<[url][full]>.*?)( |$)((?<[tls][next_protocol]>.*?).*$)?"),
        Seq("_grokparsefailure_uri"))
      if (!csvS.matches("(?s).*ref=.*")) ev.addTag("long_uri")
    }
    ev.getString("[rule][id]").foreach { id => // ref :114-160 (translate, override-false)
      if (!ev.has("[rule][description]"))
        ev.set("[rule][description]", swgBlockDict.getOrElse(id, "Others"))
    }
    ev.getString("[rule][description]").foreach { d => // ref :161-170
      if (d.contains("Allowed")) ev.mergeInto("[event][action]", "allowed")
      if (d.contains("Blocked")) ev.mergeInto("[event][action]", "denied")
    }
    Mutate.gsub(ev, "[event][created]", "[\\[\\]]", "") // ref :172-177
    if (ev.has("[event][created]")) { // ref :178-197
      if (Dates(ev, "[event][created]",
        Seq("ISO8601", "dd/MMM/yyyy:HH:mm:ss Z", "MMM dd HH:mm:ss", "dd/MMM/yyyy:HH:mm:ss ZZ"),
        "[event][created_ms]", timezone = "GMT", locale = "en",
        tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear))
        ev.remove("[event][created]")
    }
    Seq("tmp_csv_2", "tmp_url", "tmp_referrer", "tmp_csv", "tmp").foreach(ev.remove) // ref :198-200
  }

  // ---------------- scp ----------------

  private val scpColumns: Seq[String] = Seq( // ref :23
    "num", "usr", "[source][nat][ip]", "[http][request][method]",
    "[destination][bytes]", "[source][bytes]", "[url][domain]", "[url][path]",
    "[event][action]", "[rule][name]", "request_timestamp_epoch", "[event][time]",
    "[url][scheme]", "[rule][category]", "[http][request][body][content]",
    "[service][name]", "[event][severity_name]", "[rule][uuid]",
    "[http][response][status_code]", "[source][ip]", "[rule][description]",
    "[rule][ruleset]", "[user_agent][name]", "[user_agent][version]",
    "[user_agent][original]", "[process][name]", "[destination][ip]",
    "[destination][port]", "[observer][geo][country_iso_code]",
    "[http][request][referrer]", "[ssl_scanned]", "[av_scanned_up]",
    "[av_scanned_down]", "[rbi]", "[dlp]", "[source][address]", "[file][name]",
    "[observer][egress][ip]", "[observer][ingress][ip]", "[source][nat][port]",
    "[event][risk_score]", "discarded_host", "[tls][client][x509][version_number]",
    "[tls][version]", "[tmp][filed]", "[service][id]", "[tmp][duration_1]",
    "[tmp][duration_2]", "[tmp][duration_3]", "[tmp][duration_4]")

  def scp(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "skyhigh") // ref :11-16
    ev.set("[event][dataset]", "skyhigh.scp")
    ev.copyField("message", "[event][original]")
    Mutate.strip(ev, "message")
    val msg = ev.getString("message").getOrElse("")
    if (msg == "") return Dropped // ref :17-19
    Pending(Seq(ev), scpBody(msg))
  }

  private def scpBody(msg: String)(ev: Event, ctx: ParseCtx): Unit = {
    if (!msg.matches("^test message for.*?$")) { // ref :20-116
      Csv(ev, "message", scpColumns, skipEmptyColumns = true)
      Mutate.convert(ev, "[destination][bytes]", "integer")
      Mutate.convert(ev, "[source][bytes]", "integer")
      Mutate.splitField(ev, "[rule][category]", ", ") // ref :36-38
      Mutate.addField(ev, "[event][original]", // ref :40-42 — array-promoted, removed below
        "request_timestamp_epoch: %{[event][time]}, num: %{num}, usr: %{usr}, source.nat.ip: %{[source][ip]}, http.request.method: %{[http][request][method]}, destination.bytes: %{[destination][bytes]}, source.bytes: %{[source][bytes]}, url.domain: %{[url][domain]}, url.path: %{[url][path]}, event.action: %{[event][action]}, rule.name: %{[rule][name]}, request_timestamp_epoch: %{request_timestamp_epoch}, url.scheme: %{[url][scheme]}, rule.category: %{[rule][category]}, http.request.body.content: %{[http][request][body][content]}, service.name: %{[network][application]}, event.severity_name: %{[event][severity_name]}, last_rule: %{[rule][uuid]}, http_status_code: %{[http][response][status_code]}, client_ip: %{[source][nat][ip]}, location: %{[rule][description]}, block_reason: %{[rule][ruleset]}, user_agent_comment: %{[user_agent][version]}, user_agent_product: %{[user_agent][name]}, user_agent_version: %{[user_agent][original]}, process_name: %{[process][name]}, destination_ip: %{[destination][ip]}, destination_port: %{[destination][port]}, event.risk_score: %{[event][risk_score]}, discarded_host: %{discarded_host}, tls.client.x509.version_number: %{[tls][client][x509][version_number]}, tls.version: %{[tls][version]}")
      Mutate.gsub(ev, "[event][original]", "%\\{.*?}(,)? ", "")
      Mutate.gsub(ev, "[event][original]", "%\\{.*?}", "")
      if (ev.getString("usr").exists(_.contains("\\"))) { // ref :48-57
        Grok(ev, "usr", Seq("(?<[user][domain]>.*?)\\\\(?<[user][name]>.*?)$"))
      } else ev.rename("usr", "[user][name]")
      if (ev.getString("[source][ip]").exists(_.contains("source_ip"))) // ref :58-62
        ev.remove("[source][ip]")
      Mutate.addField(ev, "[url][full]", "%{[[url][scheme]]}://%{[[url][domain]]}%{[[url][path]]}") // ref :63-66
      Dates(ev, "request_timestamp_epoch", Seq("UNIX"), "[event][created_ms]",
        timezone = "GMT", locale = "en") // ref :67-72
      ev.set("[cloud][provider]", "mcafee") // ref :73-78
      ev.set("[log][source][hostname]", "api_mcp")
      Mutate.lowercase(ev, "[event][action]") // ref :79-91
      if (ev.getString("[event][action]").exists(_.contains("observed")))
        Mutate.replace(ev, "[event][action]", "allowed")
      if (ev.getString("[event][action]").exists(_.contains("denied")))
        Mutate.replace(ev, "[event][action]", "denied")
      Mutate.addField(ev, "[service][state]", "ssl_scanned: %{ssl_scanned}") // ref :92-114
      if (ev.has("av_scanned_up"))
        Mutate.addField(ev, "[service][state]", "av_scanned_up: %{av_scanned_up}")
      if (ev.has("av_scanned_down"))
        Mutate.addField(ev, "[service][state]", "av_scanned_down: %{av_scanned_down}")
      if (ev.has("rbi")) Mutate.addField(ev, "[service][state]", "rbi: %{rbi}")
      if (ev.has("dlp")) Mutate.addField(ev, "[service][state]", "dlp: %{dlp}")
    }
    Mutate.addField(ev, "[event][code]", // ref :117-119 (unresolved → literal on test rows)
      "%{[tmp][duration_1]}, %{[tmp][duration_2]}, %{[tmp][duration_3]}, %{[tmp][duration_4]}")
    graft.parse.JsonOps.parse(ev, "tmp_j", "") // ref :120-125 (source always absent)
    ev.remove("tmp_j")
    Seq("tmp", "request_timestamp_epoch", "usr", "num", "[event][time]", "path", // ref :126-130
      "ssl_scanned", "av_scanned_up", "av_scanned_down", "rbi", "dlp",
      "discarded_host", "[event][original]").foreach(ev.remove)
    Mutate.splitField(ev, "[event][code]", ",")
    // ref :131-152 — the tld filter (second call site of the corpus)
    ev.getString("[url][domain]").foreach { d =>
      Net.splitDomain(d).foreach { case (tld, registered, sub) =>
        if (!ev.getString("[url][registered_domain]").exists(_.nonEmpty))
          ev.set("[url][registered_domain]", registered)
        if (sub.nonEmpty && !ev.getString("[url][subdomain]").exists(_.nonEmpty))
          ev.set("[url][subdomain]", sub)
        if (!ev.getString("[url][top_level_domain]").exists(_.nonEmpty))
          ev.set("[url][top_level_domain]", tld)
      }
    }
    ev.remove("tmp")
  }
}
