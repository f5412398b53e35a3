package graft.rules

import graft.model.Event
import graft.parse._

/** aws.cloudfront + cisco.netflow + a10.proxy — semantic ports of
  * config/processors/s3_log_aws.cloudfront.conf,
  * flow_audit_cisco_netflow.conf and syslog_audit_a10.proxy.conf. */
object EdgeRules {

  // --------------------------------------------------------- aws.cloudfront
  /** The 33-field tab-separated access-log grok (ref :20-24), with the
    * per-field `(-|...)` placeholder alternations. One ref quirk kept:
    * x_edge_response_result_type renames to the FLAT key
    * "http.response.status_code" (:46 — no brackets), which creates a
    * dotted top-level field rather than the nested ECS path. */
  private val cfFields = Vector(
    "date", "time", "x_edge_location", "sc_bytes", "c_ip", "cs_method",
    "cs_host", "cs_uri_stem", "sc_status", "cs_referer", "cs_user_agent",
    "cs_uri_query", "cs_cookie", "x_edge_result_type", "x_edge_request_id",
    "x_host_header", "cs_protocol", "cs_bytes", "time_taken",
    "x_forwarded_for", "ssl_protocol", "ssl_cipher",
    "x_edge_response_result_type", "cs_protocol_version", "fle_status",
    "fle_encrypted_fields", "c_port", "time_to_first_byte",
    "x_edge_detailed_result_type", "sc_content_type", "sc_content_len",
    "sc_range_start", "sc_range_end")
  private val cfGrok: String =
    cfFields.map(f => s"(-|(?<[tmp][$f]>.*?))").mkString("\t")

  def awsCloudfront(ev: Event, ctx: ParseCtx): ParseOutcome = {
    val msg = ev.stringOrNull("message")
    if (msg == null || msg.isEmpty || msg.startsWith("#")) return Dropped // ref :9-11
    Pending(Seq(ev), awsCloudfrontBody)
  }

  private def awsCloudfrontBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "aws") // ref :12-19
    ev.set("[event][dataset]", "aws.cloudfront")
    ev.set("[cloud][provider]", "aws")
    ev.set("[log][source][hostname]", "aws_cloudfront")
    if (!Grok(ev, "message", Seq(cfGrok), Seq("_grokparsefailure"))) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.addField(ev, "[event][created]", "%{[tmp][date]} %{[tmp][time]}") // ref :33-36
    ev.rename("[tmp][sc_bytes]", "[http][response][bytes]") // ref :37-62
    ev.rename("[tmp][c_ip]", "[source][ip]")
    ev.rename("[tmp][cs_method]", "[http][request][method]")
    ev.rename("[tmp][cs_host]", "[cloud][instance][id]")
    ev.rename("[tmp][cs_uri_stem]", "[url][path]")
    ev.rename("[tmp][sc_status]", "[http][response][status_code]")
    ev.rename("[tmp][cs_referer]", "[http][request][referrer]")
    ev.rename("[tmp][sc_content_type]", "[http][request][mime_type]")
    ev.rename("[tmp][x_edge_response_result_type]", "http.response.status_code") // flat key, ref quirk
    ev.rename("[tmp][x_edge_result_type]", "[event][outcome]")
    ev.rename("[tmp][x_edge_detailed_result_type]", "[event][reason]")
    ev.rename("[tmp][cs_user_agent]", "[user_agent][original]")
    ev.rename("[tmp][cs_uri_query]", "[url][query]")
    ev.rename("[tmp][cs_cookie]", "[http][cookie][name]")
    ev.rename("[tmp][x_edge_request_id]", "[event][id]")
    ev.rename("[tmp][x_host_header]", "[url][domain]")
    ev.rename("[tmp][cs_protocol]", "[url][scheme]")
    ev.rename("[tmp][cs_bytes]", "[http][request][bytes]")
    ev.rename("[tmp][time_taken]", "[event][duration]")
    ev.rename("[tmp][x_forwarded_for]", "[network][forwarded_ip]")
    ev.rename("[tmp][ssl_protocol]", "[tls][version_protocol]")
    ev.rename("[tmp][ssl_cipher]", "[tls][cipher]")
    ev.rename("[tmp][cs_protocol_version]", "[tls][next_protocol]")
    ev.rename("[tmp][c_port]", "[source][port]")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss"), // ref :64-70
      "[event][created_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    ev.remove("tmp") // ref :71-73 — the flat dotted field is NOT removed
  }

  // ---------------------------------------------------------- cisco.netflow
  /** Netflow records arrive pre-decoded by the input codec as a [netflow]
    * map; a ruby one-liner replaces message with its string form (ref :9-11),
    * then positional renames map onto ECS. Quirks kept: the
    * "[netflow.ipv4_dst_addr]" rename (:30) addresses a flat dotted key that
    * never exists, so an IPv4-only destination is dropped with the netflow
    * map and destination.ip stays empty; BOTH date filters target
    * [event][created] (:42-55), so when first_switched is present it
    * overwrites last_switched's parse and event.start never materializes. */
  def ciscoNetflow(ev: Event, ctx: ParseCtx): Unit = {
    // input-codec stand-in: the message is the JSON datagram; parse into root
    if (!JsonOps.parse(ev, "message", "")) {
      ev.set("[event][module]", "cisco")
      ev.set("[event][dataset]", "cisco.netflow")
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    // ruby: message = netflow map rendered to a string (ref :9-11)
    JsonOps.encode(ev, "netflow", "message")
    ev.set("[event][module]", "cisco") // ref :12-16
    ev.set("[event][dataset]", "cisco.netflow")
    ev.rename("[netflow][first_switched]", "[event][start]") // ref :17-39
    ev.rename("[netflow][last_switched]", "[event][created]")
    ev.rename("[netflow][flow_seq_num]", "[event][sequence]")
    ev.rename("[netflow][flowset_id]", "[event][id]")
    ev.rename("[netflow][protocol]", "[network][transport]")
    ev.rename("[netflow][in_bytes]", "[network][bytes]")
    ev.rename("[netflow][in_pkts]", "[network][packets]")
    ev.rename("[netflow][version]", "[service][version]")
    ev.rename("[netflow][dst_as]", "[destination][as][number]")
    ev.rename("[netflow.ipv4_dst_addr]", "[destination][ip]") // flat key, ref quirk: never present
    ev.rename("[netflow][ipv6_dst_addr]", "[destination][ip]")
    ev.rename("[netflow][l4_dst_port]", "[destination][port]")
    ev.rename("[netflow][output_snmp]", "[observer][egress][interface][id]")
    ev.rename("[netflow][ipv4_src_addr]", "[source][ip]")
    ev.rename("[netflow][ipv6_src_addr]", "[source][ip]")
    ev.rename("[netflow][l4_src_port]", "[source][port]")
    ev.rename("[netflow][src_as]", "[source][as][number]")
    ev.rename("[netflow][input_snmp]", "[observer][ingress][interface][id]")
    ev.remove("netflow") // ref :40
    // ref :42-55 — BOTH dates target event.created; start wins when present
    Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec"))
    if (ev.has("[event][created_ms]")) ev.remove("[event][created]")
    Dates(ev, "[event][start]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es"))
  }

  // -------------------------------------------------------------- a10.proxy
  /** Semantic port of config/processors/syslog_audit_a10.proxy.conf — the
    * ONE technology whose kafka input ships `codec => json`
    * (ref: build_scripts/settings.json), so the generic host→agent.name
    * input normalization (1_kafka_input_template.conf:37-43) is observable
    * end-to-end here: the shipper envelope {"message", "host"} decodes at
    * the input, the scalar `host` lands in [agent][name], and the per-tech
    * rules below parse the inner syslog line.
    *
    * RULE 1 (persist-xff, ref :25-38), RULE 2 (^cef: waf, ref :39-50),
    * RULE 3 (bracket-prefixed proxy flow, ref :52-61), RULE 4 (axapi
    * session audit, ref :61-68), the a10/A10 `drop {}` (ref :22-24) and the
    * "does not match rule" else-branch (ref :71-75 — note: NO failure tag,
    * so parse_ok stays true; mirrored verbatim). */
  private val a10Rule2Grok: String = // ref :43-45
    ".*?\\|waf.*?\\|(?<[event][dataset]>.*?)\\|.*?rt=(?<[event][created]>.*?) " +
      "src=(?<[source][ip]>.*?) spt=(?<[source][port]>\\d+) dst=(?<[destination][ip]>.*?) " +
      "dpt=(?<[destination][port]>\\d+) dhost=(?<[url][domain]>.*?) cs1=(?<[rule][name]>.*?) " +
      "cs2=(?<[event][id]>.*?) act=(?<[event][action]>.*?) cs3=(?<[rule][ruleset]>.*?) " +
      "app=(?<[network][protocol]>.*?) requestMethod=(?<[http][request][method]>.*?) " +
      "cn1=.*? request=(?<[http][request][body][content]>.*?) msg=(?<[event][reason]>.*?)$"
  private val a10Rule4Grok: String = // ref :64-66
    "(?<[event][created]>\\w+\\s+\\d+ \\d+:\\d+:\\d+) .*?\\> (?<[event][action]>.*?) " +
      "\"(?<[user][name]>.*?)\" from (?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+) " +
      ".*? is (?<[service][id]>\\d+)\\."
  private val a10Rule1Grok: String =
    "^((?<[month]>.*?)(\\s)? (?<[date]>.*?) (?<[time]>.*?) (?<[host][hostname]>.*?) " +
      "(?<[process][name]>.*?)\\: \\[(?<[event][provider]>.*?)\\]\\<(?<[log][syslog][severity][code]>.*?)\\>)?" +
      "(?<[event][type]>.*?):(?<[user_agent][original]>.*?)" +
      "(\\, (?<[url][path]>\\S*)(\\] (?<[source][ip]>.*?)))?$"
  private val a10Rule3Grok: String =
    "^\\[\\w+.*?\\] (?<[network][protocol]>.*?) (?<[source][ip]>.*?) \\> " +
      "(?<[destination][ip]>.*?):(?<[destination][port]>\\d+) (?<[event][action]>.*?) \\(\\w+\\)"
  private val a10DateFormats = Seq(
    "MMM dd yyyy HH:mm:ss", "MMM dd yyyy HH:mm:ss.SSS", "yyyy-mm-dd HH:mm:ss",
    "yyyy-mm-dd HH:mm:ss.SSS", "MMM dd HH:mm:ss", "MMM dd HH:mm:ss.SSS",
    "yyyy/MM/dd 'at' HH:mm:ss", "MMM d HH:mm:ss") // ref :80 (lowercase mm kept verbatim)

  def a10Proxy(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "a10") // ref :9-12
    ev.set("[event][dataset]", "a10.proxy")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    val msg = ev.getString("actual_msg").getOrElse("")
    if (msg == "a10" || msg == "A10") return Dropped // ref :22-24
    Pending(Seq(ev), a10ProxyBody(msg))
  }

  private def a10ProxyBody(msg: String)(ev: Event, ctx: ParseCtx): Unit = {
    if (msg.contains("persist-xff:")) { // ref :25-38
      ev.set("[agent][parse_rule]", "RULE 1")
      Grok(ev, "actual_msg", Seq(a10Rule1Grok), Seq("_parsefailure_body2"))
      if (ev.has("month") && ev.has("date") && ev.has("time"))
        Mutate.addField(ev, "[event][created]", "%{month} %{date} %{time}")
    } else if (msg.startsWith("cef:")) { // ref :39 (`^cef:` — case-sensitive, as in the ref)
      ev.set("[agent][parse_rule]", "RULE 2")
      Grok(ev, "actual_msg", Seq(a10Rule2Grok), Seq("_parsefailure_body1"))
      Mutate.addField(ev, "[url][full]",
        "%{[network][protocol]}://%{[[url][domain]]}:%{[[destination][port]]}%{[[http][request][body][content]]}")
    } else if (msg.startsWith("[") && msg.matches("^\\[\\w+.*?\\].*")) { // ref :52-61
      ev.set("[agent][parse_rule]", "RULE 3")
      Grok(ev, "actual_msg", Seq(a10Rule3Grok), Seq("_parsefailure_body2"))
    } else if (msg.contains("a axapi session for")) { // ref :61-68
      ev.set("[agent][parse_rule]", "RULE 4")
      Grok(ev, "actual_msg", Seq(a10Rule4Grok), Seq("_parsefailure_body3"))
    } else {
      ev.set("[agent][parse_rule]", "does not match rule") // ref :71-75
    }
    Mutate.gsub(ev, "[event][created]", "  ", " ") // ref :76-79
    if (Dates(ev, "[event][created]", a10DateFormats, "[event][created_ms]",
      timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear)) {
      ev.remove("[event][created]")
    } else if (ev.hasTag("_dateparsefailure_ec")) {
      ev.remove("[event][created]") // ref :86-90
    }
    ev.remove("actual_msg"); ev.remove("month"); ev.remove("date"); ev.remove("time") // ref :91-93
  }
}
