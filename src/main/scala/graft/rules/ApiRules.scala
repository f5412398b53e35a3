package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** Round-3 technology programs: azure.atp, proofpoint.siem_messages,
  * aws.elb, snowflake.signin, snowflake.failed_login, azure.officeactivity —
  * semantic ports of config/processors/api_security_azure.atp.conf,
  * api_security_proofpoint.siem_api_message.conf,
  * log_application_aws.elb.conf, snowflake_acc_login_history.conf,
  * snowflake_acc_failed_logins.conf and
  * event_hub_audit_azure.event_hub_officeactivity.conf. */
object ApiRules {

  // ------------------------------------------------------------- azure.atp
  /** azure.atp (ref: api_security_azure.atp.conf:8-105): constant stamps,
    * JSON → az, ECS renames, conditional mitreTechniques array rename, and
    * FOUR ISO8601 dates — faithfully including the reference's copy-paste
    * quirk at :90/:101 where the end/modified failure branches test
    * `_dateparsefailure_es` (the START tag) instead of their own. */
  def azureAtp(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "azure") // ref :9-13
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.atp")
    if (!JsonOps.parse(ev, "message", "az")) { // ref :14-17
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.addField(ev, "[log][source][hostname]", "%{[az][aadTenantId]}") // ref :18-20
    ev.rename("[az][category]", "[rule][category]") // ref :22-50
    ev.rename("[az][id]", "[event][id]")
    ev.rename("[az][investigationId]", "[group][id]")
    ev.rename("[az][severity]", "[event][severity_name]")
    ev.rename("[az][status]", "[event][outcome]")
    ev.rename("[az][determination]", "[event][type]")
    ev.rename("[az][detectionSource]", "[observer][product]")
    ev.rename("[az][title]", "[event][kind]")
    ev.rename("[az][description]", "[rule][description]")
    ev.rename("[az][alertCreationTime]", "[event][created]")
    ev.rename("[az][firstEventTime]", "[event][start]")
    ev.rename("[az][lastEventTime]", "[event][end]")
    ev.rename("[az][lastUpdateTime]", "[event][modified]")
    ev.rename("[az][machineId]", "[host][id]")
    ev.rename("[az][computerDnsName]", "[host][hostname]")
    ev.rename("[az][relatedUser]", "[user][name]")
    if (ev.has("[az][mitreTechniques][0]")) // ref :51-55
      ev.rename("[az][mitreTechniques]", "[threat][technique][id]")
    ev.remove("az") // ref :57-59
    // dates (ref :60-105). Each parses into its *_ms slot; the original
    // string field is removed on that date's failure branch — except that
    // the reference's end/modified branches check the START tag (:90/:101),
    // which we mirror verbatim.
    if (!Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec")))
      { if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]") }
    else ev.remove("[event][created]")
    if (!Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es")))
      { if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]") }
    else ev.remove("[event][start]")
    Dates(ev, "[event][end]", Seq("ISO8601"), "[event][end_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ee"))
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][end]") // ref :90 quirk
    else if (ev.has("[event][end_ms]")) ev.remove("[event][end]")
    Dates(ev, "[event][modified]", Seq("ISO8601"), "[event][modified_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_em"))
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][modified]") // ref :101 quirk
    else if (ev.has("[event][modified_ms]")) ev.remove("[event][modified]")
  }

  // --------------------------------------------- proofpoint.siem_messages
  /** proofpoint SIEM messages (ref: api_security_proofpoint.siem_api_message
    * .conf:8-88): JSON → pp, ECS renames (threat_statuses then
    * quarantineFolder BOTH target [rule][category] — last rename wins, as in
    * the reference's in-order mutate), completelyRewritten truthiness branch
    * (false is falsy), ISO8601.SSS date with remove-on-failure. */
  def proofpointMessages(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "proofpoint") // ref :9-14
    ev.set("[event][module]", "proofpoint")
    ev.set("[event][dataset]", "proofpoint.siem_messages")
    ev.set("[log][source][hostname]", "api_proofpoint_siem_messages")
    if (!JsonOps.parse(ev, "message", "pp")) { // ref :15-18
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[pp][url]", "[url][full]") // ref :19-56
    ev.rename("[pp][classifications]", "[event][type]")
    ev.rename("[pp][file_hashes]", "[related][hash]")
    ev.rename("[pp][threat_urls]", "[rule][reference]")
    ev.rename("[pp][threat_ids]", "[rule][id]")
    ev.rename("[pp][threat_statuses]", "[rule][category]")
    ev.rename("[pp][file_names]", "[file][attributes]")
    ev.rename("[pp][event.dataset]", "[event][kind]")
    ev.rename("[pp][messageTime]", "[event][created]")
    ev.rename("[pp][messageSize]", "[file][size]")
    ev.rename("[pp][modulesRun]", "[rule][author]")
    ev.rename("[pp][quarantineFolder]", "[rule][category]") // overwrites threat_statuses
    ev.rename("[pp][quarantineRule]", "[rule][name]")
    ev.rename("[pp][policyRoutes]", "[event][category]")
    ev.rename("[pp][senderIP]", "[source][ip]")
    ev.rename("[pp][QID]", "[transaction][id]")
    ev.rename("[pp][GUID]", "[trace][id]")
    ev.rename("[pp][messageID]", "[event][id]")
    ev.rename("[pp][sender]", "[source][user][email]")
    ev.rename("[pp][recipient]", "[destination][user][email]")
    ev.rename("[pp][xmailer]", "[user_agent][original]")
    ev.rename("[pp][spamScore]", "[event][risk_score]")
    ev.rename("[pp][malwareScore]", "[vulnerability][score][base]")
    ev.rename("[pp][phishScore]", "[event][risk_score_norm]")
    ev.rename("[pp][impostorScore]", "[event][severity]")
    ev.rename("[pp][subject]", "[email][subject]")
    ev.rename("[pp][headerFrom]", "[email][header_from]")
    ev.rename("[pp][headerReplyTo]", "[email][header_replyto]")
    // ref :58-66 — Logstash truthiness: absent/false are falsy
    if (ev.has("[pp][completelyRewritten]"))
      ev.set("[event][outcome]", "completelyRewritten")
    else
      ev.set("[event][outcome]", "notRewritten")
    ev.remove("pp") // ref :68-71
    if (!Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
      "[event][created_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ec"))) { // ref :75-87
      if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    } else ev.remove("[event][created]")
  }

  // ---------------------------------------------------------------- aws.elb
  /** The ELB access-log grok (ref: log_application_aws.elb.conf:19-23),
    * transliterated to this engine's `(?<[a][b]>...)` dialect, including the
    * reference's own `\.*?` quirk on request_processing_time (a literal
    * lazy dot-run — matches empty, so the capture is always ""). */
  private val elbGrok =
    "^((?<[tmp][type]>.*?) )?(?<[tmp][ingested]>.*?) (?<[tmp][instance_id]>.*?) " +
      "(?<[tmp][client_ip]>.*?):(?<[tmp][client_port]>\\d+) " +
      "(-|((?<[tmp][dst_ip]>.*?):(?<[tmp][dst_port]>\\d+))) " +
      "(-|(?<[tmp][request_processing_time]>\\.*?))(-|(?<[tmp][target_processing_time]>.*?)) " +
      "(-|(?<[tmp][response_processing_time]>.*?)) (-|(?<[tmp][elb_status_code]>.*?)) " +
      "(-|(?<[tmp][target_status_code]>.*?)) (-|(?<[tmp][received_bytes]>.*?)) " +
      "(-|(?<[tmp][sent_bytes]>.*?)) \"(-|(?<[tmp][method]>.*?)) (?<[tmp][url_full]>.*?) " +
      "(?<[tmp][next_protocol]>.*?)\" \"(-|(?<[tmp][user_agent]>.*?))\" " +
      "(-|(?<[tmp][ssl_cipher]>.*?)) (-|(?<[tmp][ssl_protocol]>.*?))" +
      "( (-|(?<[tmp][target_group_arn]>.*?)) \"(-|(?<[tmp][trace_id]>.*?))\" " +
      "\"(-|(?<[tmp][domain_name]>.*?))\" \"(-|(?<[tmp][chosen_cert_arn]>.*?))\" " +
      "(-|(?<[tmp][matched_rule_priority]>.*?)) (-|(?<[tmp][request_creation_time]>.*?)) " +
      "\"(-|(?<[tmp][actions_executed]>.*?))\" \"(-|(?<[tmp][redirect_url]>.*?))\" " +
      "\"(-|(?<[tmp][error_reason]>.*?))\" \"(-|(?<[tmp][target_port_list]>.*?))\" " +
      "\"(-|(?<[tmp][target_status_code_list]>.*?))\" \"(-|(?<[tmp][classification]>.*?))\" " +
      "\"(-|(?<[tmp][classification_reason]>.*?))\")?$"

  private val elbPortGrok = // ref :68-71
    "(?<[destination][ip]>.*?):(?<[destination][port]>.*?)$"

  def awsElb(ev: Event, ctx: ParseCtx): ParseOutcome = {
    val msg = ev.stringOrNull("message")
    if (msg == null || msg.isEmpty) return Dropped // ref :9-11
    Pending(Seq(ev), awsElbBody)
  }

  private def awsElbBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "aws") // ref :12-18
    ev.set("[event][dataset]", "aws.elb")
    ev.set("[cloud][provider]", "aws")
    if (!Grok(ev, "message", Seq(elbGrok), Seq("_grokparsefailure"))) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.addField(ev, "[log][source][hostname]", "%{[tmp][instance_id]}") // ref :24-28
    ev.rename("[tmp][request_creation_time]", "[event][created]") // ref :33-63
    ev.rename("[tmp][ingested]", "[event][ingested]")
    ev.rename("[tmp][request_processing_time]", "[event][duration]")
    ev.rename("[tmp][matched_rule_priority]", "[event][severity]")
    ev.rename("[tmp][classification]", "[event][category]")
    ev.rename("[tmp][error_reason]", "[event][reason]")
    ev.rename("[tmp][instance_id]", "[cloud][instance][name]")
    ev.rename("[tmp][type]", "[url][scheme]")
    ev.rename("[tmp][url_full]", "[url][full]")
    ev.rename("[tmp][domain_name]", "[url][domain]")
    ev.rename("[tmp][elb_status_code]", "[http][response][status_code]")
    ev.rename("[tmp][received_bytes]", "[http][request][bytes]")
    ev.rename("[tmp][sent_bytes]", "[http][response][bytes]")
    ev.rename("[tmp][method]", "[http][request][method]")
    ev.rename("[tmp][redirect_url]", "[http][request][referrer]")
    ev.rename("[tmp][user_agent]", "[user_agent][name]")
    ev.rename("[tmp][ssl_cipher]", "[tls][cipher]")
    ev.rename("[tmp][ssl_protocol]", "[tls][version_protocol]")
    ev.rename("[tmp][chosen_cert_arn]", "[tls][client][server_name]")
    ev.rename("[tmp][trace_id]", "[trace][id]")
    ev.rename("[tmp][actions_executed]", "[rule][name]")
    ev.rename("[tmp][classification_reason]", "[rule][description]")
    ev.rename("[tmp][client_port]", "[source][port]")
    ev.rename("[tmp][client_ip]", "[source][ip]")
    ev.rename("[tmp][dst_ip]", "[destination][ip]")
    ev.rename("[tmp][dst_port]", "[destination][port]")
    ev.rename("[tmp][next_protocol]", "[tls][next_protocol]")
    // target_port_list (ref :64-72): split on space, then ip:port grok on
    // the first element (the synthesized feed carries the primary target,
    // mirroring the ref's single-target case). Grok-over-array in Logstash
    // appends into [destination][ip]/[destination][port] without overwrite;
    // the corpus carries the same ip:port so both semantics agree.
    val tpl = ev.stringOrNull("[tmp][target_port_list]")
    if (tpl != null && tpl != "-") {
      Mutate.splitField(ev, "[tmp][target_port_list]", " ")
      val first = ev.stringOrNull("[tmp][target_port_list][0]")
      if (first != null) {
        val sub = new Event
        sub.set("m", first)
        if (Grok(sub, "m", Seq(elbPortGrok), Seq("_parsefailure_grok_ip_port"))) {
          ev.set("[destination][ip]", sub.stringOrNull("[destination][ip]"))
          ev.set("[destination][port]", sub.stringOrNull("[destination][port]"))
        } else ev.addTag("_parsefailure_grok_ip_port")
      }
    }
    val tsc = ev.stringOrNull("[tmp][target_status_code]")
    if (tsc != null && tsc != "-") // ref :73-77
      Mutate.splitField(ev, "[tmp][target_status_code]", " ")
    // dates (ref :79-90) — microsecond ISO form
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
      "[event][created_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (Dates(ev, "[event][ingested]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
      "[event][ingested_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ei"))) ev.remove("[event][ingested]")
    ev.remove("tmp") // ref :91-93
  }

  // ------------------------------------------------------ snowflake.signin
  /** snowflake LOGIN_HISTORY (ref: snowflake_acc_login_history.conf:8-52):
    * JSON → tmp with UPPER_SNAKE columns, renames, IS_SUCCESS YES/NO branch,
    * multi-format date. */
  def snowflakeSignin(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "tmp")) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "snowflake") // ref :13-18
    ev.set("[event][dataset]", "snowflake.signin")
    ev.set("[log][source][hostname]", "sql_snowflake_signin")
    ev.rename("[tmp][EVENT_TYPE]", "[event][type]") // ref :19-27
    ev.rename("[tmp][CLIENT_IP]", "[client][ip]")
    ev.rename("[tmp][EVENT_ID]", "[event][id]")
    ev.rename("[tmp][EVENT_TIMESTAMP]", "[event][created]")
    ev.rename("[tmp][USER_NAME]", "[user][name]")
    ev.rename("[tmp][ERROR_CODE]", "[error][code]")
    ev.rename("[tmp][ERROR_MESSAGE]", "[error][message]")
    ev.getString("[tmp][IS_SUCCESS]") match { // ref :29-42
      case Some("YES") => ev.set("[event][outcome]", "success")
      case Some("NO") => ev.set("[event][outcome]", "failure")
      case _ => ()
    }
    ev.remove("tmp") // ref :43-45
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSZ", "ISO8601"),
      "[event][created_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
  }

  // ------------------------------------------------ snowflake.failed_login
  /** snowflake failed logins (ref: snowflake_acc_failed_logins.conf:8-38). */
  def snowflakeFailedLogin(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "snowflake") // ref :9-15
    ev.set("[event][dataset]", "snowflake.failed_login")
    ev.set("[log][source][hostname]", "sql_snowflake_failed_login")
    if (!JsonOps.parse(ev, "message", "tmp")) { // ref :16-19
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[tmp][EVENT_TIMESTAMP]", "[event][start]") // ref :20-28
    ev.rename("[tmp][ROLE_NAME]", "[user][roles]")
    ev.rename("[tmp][USER_NAME]", "[database][user][name]")
    ev.rename("[tmp][FIRST_AUTHENTICATION_FACTOR]", "[event][category]")
    ev.rename("[tmp][NAME]", "[database][user][name]") // overwrites USER_NAME when present
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]") // ref :29-35
    ev.remove("tmp") // ref :36-38
  }

  // ----------------------------------------------- azure.officeactivity
  /** azure OfficeActivity (ref: event_hub_audit_azure.event_hub_officeactivity
    * .conf:8-78): the whole message is LOWERCASED first (:9-11), then either
    * a records[] envelope (split → one event per record, message replaced by
    * the re-encoded record) or a bare object. All JSON keys arrive lowercased
    * by the message-level lowercase, which the rename list relies on — and
    * which also lowercases the ISO timestamps' T/Z markers, so the :60-64
    * gsub (which expects a capital T) never fires; the dates still parse
    * because the ISO8601 parser (like Logstash's) accepts the lowercased
    * t/z form. */
  def azureOfficeactivity(ev: Event, ctx: ParseCtx): ParseOutcome = {
    Mutate.lowercase(ev, "message") // ref :9-11
    val msg = ev.stringOrNull("message")
    val isEnvelope = msg != null && msg.startsWith("{\"records\": [") // ref :12
    val parsedOk =
      if (isEnvelope) JsonOps.parse(ev, "message", "tmp")
      else JsonOps.parse(ev, "message", "az")
    if (!parsedOk) { // skip_on_invalid_json → nothing extracted
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return Parsed(Seq(ev))
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    val records: Vector[Any] =
      if (isEnvelope) ev.get("[tmp][records]") match { // ref :18-24 split
        case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => a.toVector
        case _ => Vector(new Event.FMap())
      }
      else Vector(ev.get("az").getOrElse(new Event.FMap()))
    val out = records.map { rec =>
      val sub = new Event
      ev.root.forEach((k, v) =>
        if (k != "az" && k != "tmp") sub.root.put(k, Event.deepCopy(v)))
      ev.tags.foreach(sub.addTag)
      sub.set("az", Event.deepCopy(rec))
      if (isEnvelope) JsonOps.encode(sub, "az", "message") // ref :22-24 replace
      sub
    }
    Pending(out, (sub, _) => officeRecord(sub))
  }

  private def officeRecord(ev: Event): Unit = {
    ev.set("[event][module]", "azure") // ref :32-36
    ev.set("[event][dataset]", "azure.officeactivity")
    Mutate.addField(ev, "[log][source][hostname]", "%{[az][tenantid]}")
    ev.rename("[az][timegenerated]", "[event][ingested]") // ref :37-55
    ev.rename("[az][site_]", "[server][user][group][id]")
    ev.rename("[az][organizationid]", "[organization][id]")
    ev.rename("[az][site_url]", "[event][url]")
    ev.rename("[az][type]", "[event][type]")
    ev.rename("[az][userid]", "[user][id]")
    ev.rename("[az][clientip]", "[client][ip]")
    ev.rename("[az][sourcefileextension]", "[file][extension]")
    ev.rename("[az][tenantid]", "[cloud][account][id]")
    ev.rename("[az][eventsource]", "[source][name]")
    ev.rename("[az][sourcefilename]", "[file][name]")
    ev.rename("[az][start_time]", "[event][start]")
    ev.rename("[az][useragent]", "[user_agent][original]")
    ev.rename("[az][itemtype]", "[file][type]")
    ev.rename("[az][officeobjectid]", "[url][full]")
    ev.rename("[az][sourcerelativeurl]", "[url][path]")
    ev.rename("[az][displayname]", "[host][hostname]")
    ev.remove("az"); ev.remove("tmp") // ref :56-58
    // ref :59-64 — the T-expecting gsub is a no-op on lowercased input
    Mutate.gsub(ev, "[event][start]", "^(.*?)T(.*?\\.\\d\\d\\d).*?$", "$1 $2")
    Mutate.gsub(ev, "[event][ingested]", "^(.*?)T(.*?\\.\\d\\d\\d).*?$", "$1 $2")
    // ref :65-78 — ISO8601 accepts the lowercased t/z timestamp form
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    if (Dates(ev, "[event][ingested]", Seq("ISO8601"), "[event][ingested_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ei")))
      ev.remove("[event][ingested]")
  }
}
