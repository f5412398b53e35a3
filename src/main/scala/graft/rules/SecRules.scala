package graft.rules

import graft.model.Event
import graft.parse._

/** aws.guardduty + azure.securityalert — semantic ports of
  * config/processors/api_security_aws.guardduty.conf and
  * event_hub_audit_azure.event_hub_securityalert.conf. */
object SecRules {

  // ----------------------------------------------------------- aws.guardduty
  /** GuardDuty findings: JSON → recursive key-downcase (the :19-56 ruby
    * normalizer), deep nested renames, explicit [0][N] security-group
    * conditionals merging into cloud.project.name, four remove-on-failure
    * dates. Quirks kept: :102's `if "[...]"` tests a string LITERAL (always
    * true — the rename itself no-ops when the field is absent), and
    * :127's `![source][ip] and [source][ip] == ""` can never both hold, so
    * the ipv6 fallback is dead. Renames through the networkinterfaces ARRAY
    * without an index (:75-77,:89) address nothing, as in Logstash. */
  def awsGuardduty(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "guard")) { // ref :9-12
      ev.set("[event][module]", "aws")
      ev.set("[event][dataset]", "aws.guardduty")
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[cloud][provider]", "aws") // ref :13-18
    ev.set("[event][module]", "aws")
    ev.set("[event][dataset]", "aws.guardduty")
    Mutate.deepDowncaseKeys(ev, // ref :19-56
      ignore = Set("path", "@timestamp", "@metadata", "host", "@version",
        "message", "tags")) // message/tags are engine-internal carriers
    ev.rename("[guard][severity]", "[event][severity]") // ref :57-91
    ev.rename("[guard][createdat]", "[event][created]")
    ev.rename("[guard][updatedat]", "[event][modified]")
    ev.rename("[guard][title]", "[event][reason]")
    ev.rename("[guard][description]", "[rule][description]")
    ev.rename("[guard][schemaversion]", "[service][version]")
    ev.rename("[guard][accountid]", "[cloud][account][id]")
    ev.rename("[guard][region]", "[cloud][region]")
    ev.rename("[guard][partition]", "[cloud][provider]")
    ev.rename("[guard][id]", "[event][id]")
    ev.rename("[guard][type]", "[rule][name]")
    ev.rename("[guard][resource][instancedetails][availabilityzone]", "[cloud][availability_zone]")
    ev.rename("[guard][resource][instancedetails][imagedescription]", "[container][image][name]")
    ev.rename("[guard][resource][instancedetails][instanceid]", "[cloud][instance][id]")
    ev.rename("[guard][resource][instancedetails][instancestate]", "[service][state]")
    ev.rename("[guard][resource][instancedetails][instancetype]", "[cloud][machine][type]")
    // networkinterfaces is an array — index-less renames address nothing
    ev.rename("[guard][resource][instancedetails][networkinterfaces][subnetid]", "[network][name]")
    ev.rename("[guard][resource][instancedetails][networkinterfaces][securitygroups][groupname]", "[user][group][name]")
    ev.rename("[guard][resource][instancedetails][networkinterfaces][securitygroups][groupid]", "[user][group][id]")
    ev.rename("[guard][resource][accesskeydetails][username]", "[user][name]")
    ev.rename("[guard][service][action][awsapicallaction][remoteipdetails][organization][asn]", "[source][as][number]")
    ev.rename("[guard][service][action][awsapicallaction][remoteipdetails][organization][asnorg]", "[source][as][organization][name]")
    ev.rename("[guard][service][action][awsapicallaction][servicename]", "[service][name]")
    ev.rename("[guard][service][action][networkconnectionaction][remoteipdetails][ipaddressv4]", "[source][ip]")
    ev.rename("[guard][service][action][networkconnectionaction][localipdetails][ipaddressv4]", "[destination][ip]")
    ev.rename("[guard][service][action][actiontype]", "[rule][category]")
    ev.rename("[guard][service][action][portprobeaction][portprobedetails][localportdetails][port]", "[destination][port]")
    ev.rename("[guard][service][detectorid]", "[rule][id]")
    ev.rename("[guard][service][eventfirstseen]", "[event][start]")
    ev.rename("[guard][service][eventlastseen]", "[event][end]")
    ev.rename("[guard][resource][instancedetails][networkinterfaces][privateipaddresses][privateipaddress]", "[source][ip]")
    ev.rename("[guard][resource][instancedetails][tags][value]", "[source][tmp]")
    Mutate.addField(ev, "[log][source][hostname]", "%{[cloud][account][id]}") // ref :92-94
    if (ev.has("[guard][service][additionalinfo][sample]")) // ref :95-99
      ev.set("[log][syslog][priority]", "0")
    // ref :102-126 — [0][N] security-group chain into cloud.project.name
    ev.rename("[guard][resource][instancedetails][networkinterfaces][0][securitygroups][0][groupname]",
      "[cloud][project][name]")
    (1 to 4).foreach { i =>
      val p = s"[guard][resource][instancedetails][networkinterfaces][0][securitygroups][$i][groupname]"
      if (ev.has(p)) ev.get(p).foreach(v => ev.mergeInto("[cloud][project][name]", v))
    }
    // ref :127-131 — contradictory condition: dead ipv6 fallback
    def dateRm(f: String, target: String, fmts: Seq[String], tag: String): Unit = {
      if (Dates(ev, f, fmts, target, timezone = "GMT", tagOnFailure = Seq(tag)))
        ev.remove(f)
      else if (ev.hasTag(tag)) ev.remove(f)
    }
    dateRm("[event][created]", "[event][created_ms]",
      Seq("yyyy-MM-dd HH:mm:ss.SSS", "ISO8601"), "_dateparsefailure_ec")
    dateRm("[event][modified]", "[event][modified_ms]",
      Seq("yyyy-MM-dd HH:mm:ss.SSS", "ISO8601"), "_dateparsefailure_em")
    dateRm("[event][start]", "[event][start_ms]",
      Seq("ISO8601", "yyyy-MM-dd HH:mm:ss.Z"), "_dateparsefailure_es")
    dateRm("[event][end]", "[event][end_ms]",
      Seq("ISO8601", "yyyy-MM-dd HH:mm:ss.Z"), "_dateparsefailure_ee")
    ev.remove("guard") // ref :180-182
  }

  // ----------------------------------------------------------- checkpoint.fw
  /** CheckPoint firewall syslog (ref: syslog_audit_checkpoint.fw.conf):
    * Debug lines drop; Type-1 lines dissect off the bracket envelope, strip
    * the LAST ']' with a lookahead gsub, normalize '='→':' and ','→';' and
    * kv-split on ;/:, then RE-kv two composite values (__policy_id_tag,
    * origin_sic_name) into their own namespaces before the ECS renames.
    * Quirk kept: :141 add_field on the existing event.module promotes it to
    * an ARRAY [checkpoint, checkpoint.fw] — a non-scalar that flattens to
    * null, exactly what an opensearch mapping would reject. The :140 copy
    * of observer.name overwrites the sic-derived log.source.hostname. */
  def checkpointFw(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "checkpoint") // ref :9-13
    ev.set("[event][dataset]", "checkpoint.fw")
    ev.set("[log][source][hostname]", "checkpoint_fw")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :14-18
    SyslogPri(ev) // ref :19-22
    val msg = ev.getString("actual_msg").getOrElse("")
    if (msg.contains("syslog_severity=Debug")) return Dropped // ref :23-25
    Pending(Seq(ev), checkpointFwBody(msg))
  }

  private def checkpointFwBody(msg: String)(ev: Event, ctx: ParseCtx): Unit = {
    if (msg.contains("=") && msg.contains(";")) { // ref :26-51 Type 1
      Mutate.addField(ev, "[agent][parse_rule]", "Type 1")
      if (Dissect(ev, "actual_msg",
        "%{?data} %{?data} %{[[observer][name]]} %{?data} %{?data} - [%{msg}",
        Seq("_dissectfailure"))) {
        Mutate.gsub(ev, "msg", "[\\]](?=[^\\]]*$)", "") // strip the LAST ]
        Mutate.gsub(ev, "msg", "=", ":")
        Mutate.gsub(ev, "msg", ",", ";")
        Kv(ev, "msg", ';', ':', target = "fw", trimKey = " ")
      }
    } else if (!msg.contains(";")) { // ref :52-61 Type 2
      Mutate.addField(ev, "[agent][parse_rule]", "Type 2")
      Dissect(ev, "actual_msg", "%{tmp_data}: %{[[error][message]]}",
        Seq("_dissectfailure"))
    } else { // ref :62-66
      Mutate.addField(ev, "[agent][parse_rule]", "Other")
    }
    Kv(ev, "[fw][__policy_id_tag]", ';', ':', target = "pn") // ref :67-73
    Kv(ev, "[fw][origin_sic_name]", ';', ':', target = "sic") // ref :74-80
    Kv(ev, "[fw][originsicname]", ';', ':', target = "sic") // ref :81-87
    Mutate.gsub(ev, "[pn][policy_name]", "\\\\]", "") // ref :89-92
    ev.rename("[fw][facility]", "[log][syslog][facility][name]") // ref :94-132
    ev.rename("[fw][default_device_message]", "[rule][description]")
    ev.rename("[fw][action]", "[event][action]")
    ev.rename("[fw][product]", "[observer][product]")
    ev.rename("[fw][severity]", "[event][severity]")
    ev.rename("[fw][dst]", "[destination][ip]")
    ev.rename("[fw][service]", "[destination][port]")
    ev.rename("[fw][s_port]", "[source][port]")
    ev.rename("[fw][src]", "[source][ip]")
    ev.rename("[fw][origin]", "[host][ip]")
    ev.rename("[fw][host]", "[observer][ip]")
    ev.rename("[fw][proto]", "[network][iana_number]")
    ev.rename("[fw][ifdir]", "[network][direction]")
    ev.rename("[fw][inzone]", "[network][inner][vlan][name]")
    ev.rename("[fw][outzone]", "[network][vlan][name]")
    ev.rename("[fw][service_id]", "[network][protocol]")
    ev.rename("[sic][cn]", "[log][source][hostname]")
    ev.rename("[pn][mgmt]", "[host][type]")
    ev.rename("[fw][message_info]", "[rule][category]")
    ev.rename("[fw][match_id]", "[rule][id]")
    ev.rename("[fw][rule]", "[rule][id]")
    ev.rename("[fw][layer_name]", "[rule][description]")
    ev.rename("[fw][rule_name]", "[rule][name]")
    ev.rename("[pn][policy_name]", "[rule][ruleset]")
    ev.rename("[sic][o]", "[log][logger]")
    ev.rename("[fw][attack]", "[rule][name]")
    ev.rename("[fw][attack_info]", "[rule][category]")
    ev.rename("[fw][protection_id]", "[rule][id]")
    Dates(ev, "[fw][date]", Seq("UNIX"), "[event][created_ms]", timezone = "GMT") // ref :133-138
    if (ev.has("[observer][name]")) // ref :139-144
      ev.copyField("[observer][name]", "[log][source][hostname]")
    Mutate.addField(ev, "[event][module]", "checkpoint.fw") // → array, ref quirk
    Seq("[log][date_time]", "msg", "actual_msg", "fw", "sic", "pn")
      .foreach(ev.remove) // ref :142 — tmp_data is NOT removed (stray field)
    ev.set("[event][kind]", "checkpoint.fw")
  }

  // ----------------------------------------------------------- aws.securityhub
  /** SecurityHub findings (ref: api_aws_securityhub.conf:8-89): message
    * lowercased BEFORE the json parse (keys and values), then the :22-33
    * ruby loop sets [data] to each finding in turn — so a multi-finding
    * event silently keeps only the LAST finding. The resources ruby
    * collects non-empty ids/regions into ARRAYS (cloud.instance.id /
    * cloud.region scalar columns therefore flatten null). */
  def awsSecurityhub(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "aws") // ref :9-14
    ev.set("[event][dataset]", "aws.securityhub")
    Mutate.lowercase(ev, "message") // ref :15-17
    if (!JsonOps.parse(ev, "message", "tmp")) { // ref :18-21
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    import scala.collection.mutable
    ev.get("[tmp][detail][findings]").foreach { // ref :22-33 — last finding wins
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        a.foreach(item => ev.set("data", item))
      case _ => ()
    }
    Mutate.addField(ev, "[log][source][hostname]", "%{[data][awsaccountid]}") // ref :34-36
    ev.rename("[data][awsaccountid]", "[cloud][account][id]") // ref :37-49
    ev.rename("[data][createdat]", "[event][created]")
    ev.rename("[data][description]", "[rule][description]")
    ev.rename("[data][generatorid]", "[rule][id]")
    ev.rename("[data][id]", "[event][id]")
    ev.rename("[data][productarn]", "[service][id]")
    ev.rename("[data][schemaversion]", "[service][version]")
    ev.rename("[data][severity][label]", "[event][severity_name]")
    ev.rename("[data][title]", "[event][kind]")
    ev.rename("[data][types]", "[event][type]")
    ev.rename("[data][updatedat]", "[event][modified]")
    ev.get("[data][resources]").foreach { // ref :50-74
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        val ids = mutable.ArrayBuffer.empty[Any]
        val regions = mutable.ArrayBuffer.empty[Any]
        a.foreach {
          case m: Event.FMap =>
            m.get("id") match { case s: String if s != "" => ids += s; case _ => () }
            m.get("region") match { case s: String if s != "" => regions += s; case _ => () }
          case _ => ()
        }
        if (ids.nonEmpty) ev.set("[cloud][instance][id]", ids)
        if (regions.nonEmpty) ev.set("[cloud][region]", regions)
      case _ => ()
    }
    def dateRm(f: String, target: String, tag: String): Unit = {
      Dates(ev, f, Seq("ISO8601"), target, timezone = "GMT", tagOnFailure = Seq(tag))
      if (ev.has(target)) ev.remove(f)
    }
    dateRm("[event][created]", "[event][created_ms]", "_dateparsefailure_ec") // ref :75-86
    dateRm("[event][modified]", "[event][modified_ms]", "_dateparsefailure_em")
    ev.remove("tmp"); ev.remove("data") // ref :87-89
  }

  // ---------------------------------------------------------- cisco.meraki.fw
  /** Meraki MX syslog (ref: syslog_security_cisco.meraki.fw.conf): strip
    * quotes, skip the two header tokens, a content ladder (RULE 1
    * content_ing_block — note the literal misses real
    * content_filtering_block lines, RULE 2 '_mfw flows', RULE 4 'pattern:',
    * RULE 3 fallback), space/= kv, conditional ip:port dissects (RULE 5/6,
    * stacking parse_rule). Quirk kept: the rename block runs AFTER those
    * dissects and overwrites source/destination.ip with the full ip:port kv
    * value — which the 02 validity pass then migrates into the address
    * fields. The closing severity translate keys on lowercase-shorthand
    * labels ('info' never matches the real 'informational'), overwriting
    * any category0/1 value. */
  def merakiFw(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco.meraki") // ref :9-12
    ev.set("[event][dataset]", "cisco.meraki.fw_traffic")
    Mutate.strip(ev, "message") // ref :13-17
    Mutate.gsub(ev, "message", "[\\\"]", "")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :18-22
    SyslogPri(ev) // ref :23-26
    if (!Dissect(ev, "actual_msg", "%{?data} %{?data} %{rest_msg}",
      Seq("_dissectfailure"))) { // ref :27-31
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    val rest = ev.getString("rest_msg").getOrElse("")
    if (rest.contains("content_ing_block")) { // ref :32-41 RULE 1
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 1")
      Dissect(ev, "rest_msg", "%{?data} %{?data} %{[[event][action]]} %{rest_msg1}",
        Seq("_dissectfailure"))
    } else if (rest.contains("_mfw flows ")) { // ref :42-51 RULE 2
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 2")
      Dissect(ev, "rest_msg", "%{?data} %{?data} %{rest_msg1}", Seq("_dissectfailure"))
    } else if (rest.contains("pattern:")) { // ref :52-61 RULE 4
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 4")
      Dissect(ev, "rest_msg", "%{?data}pattern: %{[[event][action]]}", Seq("_dissectfailure"))
    } else { // ref :62-70 RULE 3
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 3")
      Dissect(ev, "rest_msg", "%{?data} %{rest_msg1}", Seq("_dissectfailure"))
    }
    Kv(ev, "rest_msg1", ' ', '=', target = "meraki") // ref :71-76
    def ipPort(kvField: String, rule: String, ipF: String, portF: String): Unit =
      if (ev.getString(kvField).exists(_.contains(":"))) { // ref :77-116
        Mutate.addField(ev, "[agent][parse_rule]", rule)
        Dissect(ev, kvField, s"%{[$ipF]}:%{[$portF]}", Seq("_dissectfailure"))
      }
    ipPort("[meraki][src]", "RULE 5", "[source][ip]", "[source][port]")
    ipPort("[meraki][dst]", "RULE 6", "[destination][ip]", "[destination][port]")
    ipPort("[meraki][client_ip]", "RULE 5 (a)", "[source][ip]", "[source][port]")
    ipPort("[meraki][server]", "RULE 6 (a)", "[destination][ip]", "[destination][port]")
    ev.rename("[meraki][mac]", "[destination][mac]") // ref :117-132
    ev.rename("[meraki][sport]", "[source][port]")
    ev.rename("[meraki][dport]", "[destination][port]")
    ev.rename("[meraki][dst]", "[destination][ip]") // overwrites with ip:port
    ev.rename("[meraki][src]", "[source][ip]")
    ev.rename("[meraki][protocol]", "[network][protocol]")
    ev.rename("[meraki][translated_port]", "[source][nat][port]")
    ev.rename("[meraki][translated_src_ip]", "[source][nat][ip]")
    ev.rename("[meraki][translated_dst_ip]", "[destination][nat][ip]")
    ev.rename("[meraki][server]", "[destination][ip]")
    ev.rename("[meraki][client_ip]", "[source][ip]")
    ev.rename("[meraki][category0]", "[rule][category]")
    ev.rename("[meraki][category1]", "[rule][category]")
    ev.rename("[meraki][url]", "[url][full]")
    Seq("rest_msg", "rest_msg1", "meraki", "actual_msg").foreach(ev.remove) // ref :136-138
    // ref :139-149 — translate on the syslog_pri label; 'info' never matches
    // the real 'informational', so those fall through to Others
    ev.getString("syslog_severity").foreach { sev =>
      ev.set("[rule][category]", Map(
        "Error" -> "Security/Vulnerability",
        "Notice" -> "Security/Activity",
        "Warning" -> "Security/Warning")
        .getOrElse(sev, "Others"))
    }
  }

  // ------------------------------------------------------ azure.securityalert
  /** Sentinel SecurityAlert rows through the shared event-hub envelope
    * (message-level lowercase, records[] split or bare object — same
    * machinery as officeactivity), then the alert rename block and three
    * ISO dates (ref: event_hub_audit_azure.event_hub_securityalert.conf). */
  def azureSecurityalert(ev: Event, ctx: ParseCtx): ParseOutcome = {
    Mutate.lowercase(ev, "message") // ref :9-11
    val msg = ev.stringOrNull("message")
    val isEnvelope = msg != null && msg.startsWith("{\"records\": [")
    val parsedOk =
      if (isEnvelope) JsonOps.parse(ev, "message", "tmp")
      else JsonOps.parse(ev, "message", "az")
    if (!parsedOk) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return Parsed(Seq(ev))
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    val records: Vector[Any] =
      if (isEnvelope) ev.get("[tmp][records]") match {
        case Some(a: scala.collection.mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => a.toVector
        case _ => Vector(new Event.FMap())
      }
      else Vector(ev.get("az").getOrElse(new Event.FMap()))
    val out = records.map { rec =>
      val sub = new Event
      ev.root.forEach((k, v) =>
        if (k != "az" && k != "tmp") sub.root.put(k, Event.deepCopy(v)))
      ev.tags.foreach(sub.addTag)
      sub.set("az", Event.deepCopy(rec))
      if (isEnvelope) JsonOps.encode(sub, "az", "message")
      sub
    }
    Pending(out, (sub, _) => alertRecord(sub))
  }

  private def alertRecord(ev: Event): Unit = {
    ev.set("[event][module]", "azure") // ref :32-36
    ev.set("[event][dataset]", "azure.securityalert")
    Mutate.addField(ev, "[log][source][hostname]", "%{[az][tenantid]}")
    ev.rename("[az][alertname]", "[rule][name]") // ref :37-54
    ev.rename("[az][alertseverity]", "[event][severity_name]")
    ev.rename("[az][alerttype]", "[rule][category]")
    ev.rename("[az][description]", "[rule][description]")
    ev.rename("[az][displayname]", "[user][name]")
    ev.rename("[az][endtime]", "[event][end]")
    ev.rename("[az][providername]", "[event][provider]")
    ev.rename("[az][starttime]", "[event][start]")
    ev.rename("[az][status]", "[event][outcome]")
    ev.rename("[az][systemalertid]", "[event][id]")
    ev.rename("[az][tactics]", "[threat][tactic][name]")
    ev.rename("[az][techniques]", "[threat][technique][name]")
    ev.rename("[az][tenantid]", "[rule][id]")
    ev.rename("[az][timegenerated]", "[event][ingested]")
    ev.rename("[az][vendorname]", "[observer][vendor]")
    ev.rename("[az][type]", "[event][type]")
    ev.remove("az"); ev.remove("tmp") // ref :55-57
    if (Dates(ev, "[event][ingested]", Seq("ISO8601"), "[event][ingested_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ei")))
      ev.remove("[event][ingested]")
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    if (Dates(ev, "[event][end]", Seq("ISO8601"), "[event][end_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ee")))
      ev.remove("[event][end]")
  }
}
