package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** Round-2 technology programs: cisco.switch, okta.audit, aws.cloudtrail —
  * semantic ports of config/processors/syslog_audit_cisco.switch.conf,
  * api_audit_okta.conf and api_audit_aws.cloudtrail.conf. */
object CloudRules {

  // ---------------------------------------------------------------- cisco
  /** Main cisco line grok (ref: syslog_audit_cisco.switch.conf:54-59):
    * seq: [host:] timestamp: %FACILITY-SEV-MNEMONIC: description. */
  private val ciscoMainGrok =
    "^(?<[event][id]>.*?): (((?<[host][name]>.*?): )?(?<[tmp][device_timestamp]>.*): " +
      "%(?<[tmp][facility]>.*?)-(?<[tmp][severity]>.*?)-(?<[tmp][mnemonic]>.*?): )?(?<[tmp][msg]>.*?)$"
  private val ciscoLinkGrok = // ref :167-173 (msg already lowercased, ref :82)
    "^%{GREEDYDATA}interface %{GREEDYDATA:[tmp][ifname]}\\, changed state to %{WORD:[tmp][interface][state]}"
  private val ciscoBgpDissect = // ref :142-146
    "neighbor %{[[tmp][related][ip]]} %{[[tmp][bgp][state]]} %{[[tmp][bgp][reason]]}"
  /** up/down → outcome (ref :154-163 inline dictionary). */
  private val upDown = Map("down" -> "failure", "up" -> "success")
  /** syslog severity label → rule.category (ref :495-505; keys adapted to
    * this engine's Capitalized severity labels, 'Informational' standing in
    * for the reference's 'info' shorthand). */
  private val sevCategory = Map(
    "Error" -> "security/failed activity",
    "Informational" -> "security/activity",
    "Notice" -> "security/activity",
    "Warning" -> "security/warning")

  def ciscoSwitch(ev: Event, ctx: ParseCtx): Unit = {
    val dicts = RuleDicts.get
    ev.set("[event][module]", "cisco") // ref :10-11
    ev.set("[event][dataset]", "cisco.switch")
    // input-side metadata stamp (the conf's input block provides this via
    // the relay's add_field; constant per listener)
    ev.set("[log][source][hostname]", "cisco-relay01.corp.example")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :19-23
    SyslogPri(ev) // ref :24-27
    // 1. hostname: input-side stamp split on '.' → host.hostname (ref :33-41)
    ev.getString("[log][source][hostname]").foreach { h =>
      val dot = h.indexOf('.')
      ev.set("[host][hostname]", if (dot < 0) h else h.substring(0, dot))
    }
    // 3. main line grok (ref :54-59)
    if (!Grok(ev, "actual_msg", Seq(ciscoMainGrok), Seq("_grokparsefailure"))) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    // 5. event.action = facility.mnemonic, lowercased with the msg (ref :76-84)
    if (ev.has("[tmp][facility]") && ev.has("[tmp][mnemonic]")) {
      Mutate.addField(ev, "[event][action]", "%{[tmp][facility]}.%{[tmp][mnemonic]}")
      Mutate.lowercase(ev, "[event][action]")
      Mutate.lowercase(ev, "[tmp][msg]")
    }
    // 6a. facility translate from the REAL 1,296-entry reference CSV
    // (ref :90-97). The reference leaves the translation in [tmp] (dropped at
    // :260-263); surfaced here as event.provider so the dictionary is
    // oracle-checkable — documented deviation.
    ev.getString("[tmp][facility]").foreach { f =>
      ev.set("[event][provider]",
        dicts.facilityCategories.getOrElse(f, "not_found_facility")) // fallback ref :96
    }
    // 6b/6c. mnemonic translate → JSON payload → event.reason/recommendation
    // (ref :100-134; the reference's cisco_ios.json is not in its repo —
    // synthetic payloads with the documented shape)
    ev.getString("[tmp][mnemonic]").foreach { m =>
      dicts.ciscoMnemonicInfo.get(m) match {
        case null => // fallback-unfolding branch, ref :110-124
          ev.set("[event][reason]", "not_found_msg_explanation")
          ev.set("[event][recommendation]", "not_found_msg_recommendation")
        case js =>
          ev.set("[tmp][mnemonic_translation]", js)
          JsonOps.parse(ev, "[tmp][mnemonic_translation]", "[tmp][mnemonic_translation]")
          ev.getString("[tmp][mnemonic_translation][msg_explanation]")
            .foreach(v => ev.set("[event][reason]", v))
          ev.getString("[tmp][mnemonic_translation][msg_recommendation]")
            .foreach(v => ev.set("[event][recommendation]", v))
      }
    }
    ev.getString("[tmp][msg]").foreach(v => ev.set("[error][message]", v)) // ref :135-137
    // 7. event-action-specific parsing
    ev.getString("[event][action]").getOrElse("") match {
      case "bgp.adjchange" => // ref :141-164
        if (Dissect(ev, "[tmp][msg]", ciscoBgpDissect, Seq("_dissectfailure_bgp"))) {
          ev.set("[event][type]", "connection")
          ev.set("[event][category]", "network")
          ev.set("[event][kind]", "state")
          ev.getString("[tmp][bgp][state]").foreach(s =>
            ev.set("[event][outcome]", upDown.getOrElse(s, "unknown")))
          // 8. related-ip cleanup + add-twice idiom (ref :246-258); the
          // dedup of 12/14_related dedups the doubled value downstream
          Mutate.gsub(ev, "[tmp][related][ip]", "\\*", "")
          ev.getString("[tmp][related][ip]").foreach { ip =>
            ev.mergeInto("[related][ip]", ip)
            ev.mergeInto("[related][ip]", ip)
          }
        }
      case "link.updown" => // ref :166-194
        if (Grok(ev, "[tmp][msg]", Seq(ciscoLinkGrok), Seq("_grokparsefailure_link"))) {
          ev.set("[event][type]", "connection")
          ev.set("[event][category]", "network")
          ev.set("[event][kind]", "state")
          ev.getString("[tmp][ifname]").foreach(v =>
            ev.set("[observer][ingress][interface][name]", v))
          ev.getString("[tmp][interface][state]").foreach(s =>
            ev.set("[event][outcome]", upDown.getOrElse(s, "unknown")))
        }
      case _ => ()
    }
    // 10. device timestamp → event.start (ref :485-491, year-less formats)
    if (ev.has("[tmp][device_timestamp]"))
      Dates(ev, "[tmp][device_timestamp]",
        Seq("MMM dd HH:mm:ss.SSS", "MMM d HH:mm:ss.SSS", "MMM dd yyyy HH:mm:ss", "ISO8601"),
        "[event][start_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_es"), defaultYear = ctx.tsYear)
    // severity label → rule.category translate (ref :495-505)
    ev.getString("syslog_severity").foreach(s =>
      ev.set("[rule][category]", sevCategory.getOrElse(s, "others")))
    ev.remove("tmp") // 9. (ref :260-263)
  }

  // ----------------------------------------------------------------- okta
  def oktaAudit(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[cloud][provider]", "okta") // ref api_audit_okta.conf:15-22
    ev.set("[log][source][hostname]", "api_okta_audit")
    ev.set("[event][module]", "okta")
    ev.set("[event][dataset]", "okta.audit")
    if (!JsonOps.parse(ev, "message", "okta")) { // ref :11-14
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return Parsed(Seq(ev))
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    // if [okta][0] → split (ref :24-28): the message is a batched ARRAY of
    // events — the second cardinality-increasing path after azure records[]
    val records = ev.get("okta") match {
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => a.toVector
      case Some(other) => Vector(other)
      case None => Vector.empty
    }
    val out = records.map { rec =>
      val sub = new Event
      ev.root.forEach((k, v) => if (k != "okta") sub.root.put(k, Event.deepCopy(v)))
      ev.tags.foreach(sub.addTag)
      sub.set("okta", Event.deepCopy(rec))
      sub
    }
    Pending(out, oktaRecord)
  }

  private def oktaRecord(ev: Event, ctx: ParseCtx): Unit = {
    // ref :29-66 rename block (fields the synthesized feed carries)
    ev.rename("[okta][outcome][result]", "[event][outcome]")
    ev.rename("[okta][request][ipChain][0][ip]", "[source][ip]") // array-index path
    ev.rename("[okta][eventType]", "[event][type]")
    ev.rename("[okta][displayMessage]", "[event][category]")
    ev.rename("[okta][severity]", "[log][level]")
    ev.rename("[okta][client][userAgent][os]", "[user_agent][os][name]")
    ev.rename("[okta][client][userAgent][rawUserAgent]", "[user_agent][original]")
    ev.rename("[okta][client][userAgent][browser]", "[user_agent][name]")
    ev.rename("[okta][securityContext][domain]", "[source][domain]")
    ev.rename("[okta][transaction][type]", "[user][type]")
    ev.rename("[okta][actor][alternateId]", "[source][user][email]")
    ev.rename("[okta][target][0][id]", "[destination][user][id]")
    ev.rename("[okta][target][0][alternateId]", "[destination][user][email]")
    ev.rename("[okta][target][0][displayName]", "[destination][user][full_name]")
    ev.rename("[okta][actor][id]", "[user][effective][id]")
    ev.rename("[okta][actor][displayName]", "[user][full_name]")
    ev.rename("[okta][client][ipAddress]", "[host][ip]")
    ev.rename("[okta][client][geographicalContext][city]", "[host][geo][city_name]")
    ev.rename("[okta][client][geographicalContext][country]", "[host][geo][country_name]")
    ev.rename("[okta][authenticationContext][externalSessionId]", "[transaction][id]")
    ev.rename("[okta][outcome][reason]", "[event][reason]")
    ev.rename("[okta][published]", "[event][created]")
    ev.rename("[okta][debugContext][debugData][url]", "[url][path]")
    // date (ref :75-86): parse-or-remove
    if (ev.has("[event][created]")) {
      if (!Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
        "[event][created_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_ec"))) ()
      ev.remove("[event][created]")
    }
    ev.remove("okta") // ref :87-89
  }

  // ----------------------------------------------------------- proofpoint
  /** proofpoint SIEM clicks — semantic port of
    * config/processors/api_security_proofpoint.siem_api_clicks.conf:
    * JSON → ECS renames → two ISO8601 millisecond dates. */
  def proofpointClicks(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "proofpoint") // ref :9-14
    ev.set("[event][module]", "proofpoint")
    ev.set("[event][dataset]", "proofpoint.siem_clicks")
    ev.set("[log][source][hostname]", "api_proofpoint_siem_clicks")
    if (!JsonOps.parse(ev, "message", "pp")) { // ref :15-18
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[pp][url]", "[url][full]") // ref :20-38
    ev.rename("[pp][classification]", "[rule][category]")
    ev.rename("[pp][clickTime]", "[event][created]")
    ev.rename("[pp][threatTime]", "[threat][list][created]")
    ev.rename("[pp][userAgent]", "[user_agent][name]")
    ev.rename("[pp][campaignId]", "[rule][ruleset]")
    ev.rename("[pp][clickIP]", "[client][ip]")
    ev.rename("[pp][sender]", "[source][user][email]")
    ev.rename("[pp][recipient]", "[destination][user][email]")
    ev.rename("[pp][senderIP]", "[source][ip]")
    ev.rename("[pp][GUID]", "[rule][uuid]")
    ev.rename("[pp][threatID]", "[rule][id]")
    ev.rename("[pp][threatURL]", "[rule][reference]")
    ev.rename("[pp][threatStatus]", "[event][status]")
    ev.rename("[pp][messageID]", "[event][id]")
    ev.rename("[pp][event.dataset]", "[event][kind]") // dotted JSON key
    ev.remove("pp") // ref :40-43
    if (ev.has("[threat][list][created]")) { // ref :47-59
      Dates(ev, "[threat][list][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
        "[threat][list][created_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_tlc"))
      // the conf checks _dateparsefailure_ec here (its own quirk, kept):
      if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[threat][list][created]")
      else ev.remove("[threat][list][created]") // parsed into created_ms either way
    }
    if (ev.has("[event][created]")) { // ref :60-74
      Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
        "[event][created_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_ec"))
      ev.remove("[event][created]")
    }
  }

  // ----------------------------------------------------------- cloudtrail
  private val ctArnGrok = // ref api_audit_aws.cloudtrail.conf:56-62
    "^(?<[user][roles]>.*\\/(?<[user][name]>.*?))$"
  private val ctPrincipalGrok = // ref :64-72
    "^.*:(?<[user][id]>.*?)$"
  private val ctOrigin = Map( // ref :81-90
    "management" -> "configuration", "Data" -> "database", "Insight" -> "intrusion_detection")

  def awsCloudtrail(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "aws")) { // ref :9-12
      ev.set("[event][module]", "aws")
      ev.set("[event][dataset]", "aws.cloudtrail")
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.addField(ev, "[log][source][hostname]", "%{[aws][recipientAccountId]}") // ref :14-16
    ev.set("[cloud][provider]", "aws") // ref :18-20
    ev.set("[event][module]", "aws")
    ev.set("[event][dataset]", "aws.cloudtrail")
    ev.rename("[aws][eventVersion]", "[service][version]") // ref :21-52
    ev.rename("[aws][eventTime]", "[event][created]")
    ev.rename("[aws][eventSource]", "[event][kind]")
    ev.rename("[aws][eventName]", "[event][category]")
    ev.rename("[aws][awsRegion]", "[cloud][region]")
    ev.rename("[aws][recipientAccountId]", "[cloud][account][id]")
    ev.rename("[aws][sourceIPAddress]", "[source][ip]")
    ev.rename("[aws][userAgent]", "[user_agent][name]")
    ev.rename("[aws][requestID]", "[transaction][id]")
    ev.rename("[aws][eventID]", "[event][id]")
    ev.rename("[aws][eventType]", "[event][type]")
    ev.rename("[aws][errorCode]", "[error][code]")
    ev.rename("[aws][errorMessage]", "[error][message]")
    ev.rename("[aws][userIdentity][type]", "[service][type]")
    ev.rename("[aws][requestParameters][bucketName]", "[file][directory]")
    ev.rename("[aws][requestParameters][key]", "[file][name]")
    ev.rename("[aws][requestParameters][userName]", "[source][user][name]")
    ev.rename("[aws][insightDetails][eventCategory]", "[log][origin][function]")
    ev.rename("[aws][insightDetails][insightType]", "[event][type]")
    if (ev.has("[aws][userIdentity][arn]"))
      Grok(ev, "[aws][userIdentity][arn]", Seq(ctArnGrok), Seq("_grokparsefailure_1"))
    if (ev.has("[aws][userIdentity][principalId]"))
      Grok(ev, "[aws][userIdentity][principalId]", Seq(ctPrincipalGrok), Seq("_grokparsefailure_2"))
    ev.remove("aws") // ref :74-76
    // non-ip source → address (ref :77-81); ipv6 is not in the synthesized
    // space, so the ipv4-validity check carries the ported semantics
    ev.getString("[source][ip]").foreach { ip =>
      if (!Net.isValidIpv4(ip)) ev.rename("[source][ip]", "[source][address]")
    }
    // insight category translate with fallback (ref :82-91)
    if (ev.has("[log][origin][function]")) {
      val v = ev.getString("[log][origin][function]").getOrElse("")
      ev.set("[log][origin][function]", ctOrigin.getOrElse(v, "database"))
    }
    // date (ref :93-105): parse-or-remove
    if (ev.has("[event][created]")) {
      Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss'Z'"),
        "[event][created_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_ec"))
      ev.remove("[event][created]")
    }
  }
}

/** windows WEF events — semantic port of
  * config/processors/wef_audit_windows.events.conf: winlog JSON envelope
  * (beats JSON-lines form) → ECS renames, "@"-split user fields, per-event-id
  * branches (4769 Kerberos failure-code + cipher translates and the
  * ticket-option BIT-FLAG decode), ::ffff: prefix strip. */
object WindowsRules {

  /** Kerberos failure-code dictionary (ref :255-306 — full inline dict). */
  private val krbFailure = Map(
    "0x0" -> "No errors were found", "0x1" -> "Client's entry in database has expired",
    "0x2" -> "Server's entry in database has expired",
    "0x3" -> "Requested protocol version # not supported",
    "0x4" -> "Client's key encrypted in old master key",
    "0x5" -> "Server's key encrypted in old master key",
    "0x6" -> "Client not found in Kerberos database",
    "0x7" -> "Server not found in Kerberos database",
    "0x8" -> "Multiple principal entries in database",
    "0x9" -> "The client or server has a null key",
    "0x10" -> "KDC has no support for padata type",
    "0x11" -> "KDC has no support for transited type",
    "0x12" -> "Clients credentials have been revoked",
    "0x13" -> "Credentials for server have been revoked",
    "0x14" -> "TGT has been revoked", "0x15" -> "Client not yet valid - try again later",
    "0x16" -> "Server not yet valid - try again later", "0x17" -> "Password has expired",
    "0x18" -> "Pre-authentication information was invalid",
    "0x19" -> "Additional pre-authentication required", "0x20" -> "Ticket expired",
    "0x21" -> "Ticket not yet valid", "0x22" -> "Request is a replay",
    "0x23" -> "The ticket isn't for us", "0x24" -> "Ticket and authenticator don't match",
    "0x25" -> "Clock skew too great", "0x26" -> "Incorrect net address",
    "0x27" -> "Protocol version mismatch", "0x28" -> "Invalid msg type",
    "0x29" -> "Message stream modified",
    "0x30" -> "Alternative authentication method required*",
    "0x31" -> "Incorrect sequence number in message",
    "0x32" -> "Inappropriate type of checksum in message",
    "0xA" -> "Ticket not eligible for postdating",
    "0xB" -> "Requested start time is later than end time",
    "0xC" -> "KDC policy rejects request",
    "0xD" -> "KDC cannot accommodate requested option",
    "0xE" -> "KDC has no support for encryption type",
    "0xF" -> "KDC has no support for checksum type",
    "0x1F" -> "Integrity check on decrypted field failed",
    "0x2A" -> "Message out of order", "0x2C" -> "Specified version of key is not available",
    "0x2D" -> "Service key not available", "0x2E" -> "Mutual authentication failed",
    "0x2F" -> "Incorrect message direction",
    "0x3C" -> "Generic error (description in e-text)",
    "0x3D" -> "Field is too long for this implementation")

  /** Ticket encryption-type dictionary (ref :311-321). */
  private val krbCipher = Map(
    "0x1" -> "DES-CBC-CRC", "0x3" -> "DES-CBC-MD5",
    "0x11" -> "AES128-CTS-HMAC-SHA1-96", "0x12" -> "AES256-CTS-HMAC-SHA1-96",
    "0x17" -> "RC4-HMAC", "0x18" -> "RC4-HMAC-EXP")

  /** Ticket-option bit flags (ref :327-349 — MS-documented 32-bit mask),
    * highest bit first to preserve the reference's emission order. */
  private val ticketFlags = Vector(
    1073741824L -> "Forwardable", 536870912L -> "Forwarded", 268435456L -> "Proxiable",
    134217728L -> "Proxy", 67108864L -> "Allow-postdate", 33554432L -> "Postdated",
    16777216L -> "Invalid", 8388608L -> "Renewable", 4194304L -> "Initial",
    2097152L -> "Pre-authent", 1048576L -> "Opt-hardware-auth",
    524288L -> "Transited-policy-checked", 262144L -> "Ok-as-delegate",
    131072L -> "Request-anonymous", 65536L -> "Name-canonicalize",
    32L -> "Disable-transited-check", 16L -> "Renewable-ok", 8L -> "Enc-tkt-in-skey",
    4L -> "Unused", 2L -> "Renew", 1L -> "Validate")

  private val krbFailGrok = // ref :250-253 (tmp has had \t\r\n gsub'ed away)
    "^.*Failure Code:(?<failure_code>.*)Transited Services.*$"

  /** "@"-split idiom (ref :135-208): name@domain composites split, plain
    * values rename through. */
  private def atSplit(ev: Event, flat: String, nameF: String, domF: String): Unit = {
    val v = ev.stringOrNull(flat)
    if (v != null) {
      val at = v.indexOf('@')
      if (at >= 0) {
        ev.set(nameF, v.substring(0, at))
        ev.set(domF, v.substring(at + 1))
        ev.remove(flat)
      } else ev.rename(flat, nameF)
    }
  }

  def windowsEvents(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "windows_wef") // ref :9-11
    ev.set("[event][dataset]", "windows_wef_events")
    // beats JSON-lines envelope: {"message": <text>, "winlog": {...}} —
    // merged into the event root like the WEF input codec provides
    if (!JsonOps.parse(ev, "message", "")) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    // core renames (ref :12-98, the subset the corpus carries)
    ev.rename("[winlog][keywords]", "[rule][category]")
    ev.rename("[winlog][user][domain]", "[user][domain]")
    ev.rename("[winlog][user][name]", "user_name")
    ev.rename("[winlog][channel]", "[event][kind]")
    ev.rename("[winlog][event_data][TargetUserName]", "hostuser_name")
    ev.rename("[winlog][event_data][ClientAddress]", "[client][ip]")
    ev.rename("[winlog][event_data][IpAddress]", "[source][ip]")
    ev.rename("[winlog][event_data][IpPort]", "[source][port]")
    ev.rename("[winlog][event_data][SubjectUserName]", "sourceuser_name")
    ev.rename("[winlog][event_data][LogonType]", "[rule][uuid]")
    ev.rename("[winlog][computer_name]", "[log][source][hostname]")
    ev.rename("[winlog][event_data][WorkstationName]", "[destination][address]")
    ev.rename("[winlog][event_id]", "[event][id]")
    Mutate.convert(ev, "[event][id]", "string") // ref :104-108
    // @-splits (ref :135-208)
    atSplit(ev, "user_name", "[user][name]", "[user][domain]")
    atSplit(ev, "sourceuser_name", "[source][user][name]", "[source][user][domain]")
    if (!ev.getString("hostuser_name").contains("None"))
      atSplit(ev, "hostuser_name", "[host][user][name]", "[host][user][domain]")
    else ev.remove("hostuser_name")
    // tmp copy with \r\n (and for 4769 \t) stripped (ref :209-215,248)
    ev.copyField("message", "tmp")
    Mutate.gsub(ev, "tmp", "\r", "")
    Mutate.gsub(ev, "tmp", "\n", "")
    if (ev.getString("[event][id]").contains("4769")) { // ref :244-365
      ev.rename("[winlog][event_data][TicketOptions]", "ticket_option")
      ev.rename("[winlog][event_data][TicketEncryptionType]", "ticket_encrypt")
      Mutate.gsub(ev, "tmp", "\t", "")
      Grok(ev, "tmp", Seq(krbFailGrok), Seq("_grokparsefailure_3"))
      ev.getString("failure_code").foreach(c =>
        ev.set("[event][reason]", krbFailure.getOrElse(c, "failed service ticket request")))
      ev.getString("ticket_encrypt").foreach(c =>
        ev.set("[tls][cipher]", krbCipher.getOrElse(c, "Audit Failures")))
      ev.getString("ticket_option").foreach { hex =>
        // bit-flag decode → [service][type] array (ref :325-360 ruby)
        try {
          val num = java.lang.Long.parseLong(hex.stripPrefix("0x"), 16)
          val out = mutable.ArrayBuffer.empty[Any]
          ticketFlags.foreach { case (bit, name) => if ((num & bit) == bit) out += name }
          ev.set("[service][type]", out)
        } catch { case _: NumberFormatException => () }
      }
    }
    if (ev.getString("[event][id]").contains("7036")) { // ref :352-357
      ev.rename("[winlog][event_data][param1]", "[service][name]")
      ev.rename("[winlog][event_data][param2]", "[service][state]")
    }
    // ::ffff: ipv4-mapped prefix strip (ref :366-379)
    Seq("[source][ip]", "[destination][ip]").foreach { f =>
      val v = ev.stringOrNull(f)
      if (v != null && v.startsWith("::ffff:")) ev.set(f, v.substring(7))
    }
    Seq("winlog", "tmp", "ticket_encrypt", "ticket_option", "failure_code")
      .foreach(ev.remove) // ref :385-388
  }
}

/** Per-executor handle to the broadcast dictionaries for programs that
  * translate during PARSE (cisco facility/mnemonic) — set by the kernel
  * before running programs; avoids threading Dicts through every
  * program signature. */
object RuleDicts {
  private val local = new ThreadLocal[graft.enrich.Dicts]
  def set(d: graft.enrich.Dicts): Unit = local.set(d)
  def get: graft.enrich.Dicts = local.get()
}
