package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, JsonOps, Mutate}

/** Cloud-API JSON quartet:
  *   - oci.cloudguard — api_security_oci.cloudguard.conf
  *   - oci.object — api_application_oci.object.conf
  *   - jamf.endpoint_protection — api_security_jamf.protect.conf
  *   - sap.btp — api_security_sap_btp.conf
  */
object ApiCloudRules {

  private def isoDate(ev: Event, field: String, targetMs: String, tag: String,
                      removeOnFail: Boolean): Unit = {
    if (Dates(ev, field, Seq("ISO8601"), targetMs, timezone = "GMT",
      tagOnFailure = Seq(tag))) ev.remove(field)
    else if (removeOnFail && ev.hasTag(tag)) ev.remove(field)
  }

  // ------------------------------------------------------ oci.cloudguard
  /** ref api_security_oci.cloudguard.conf:9-96. Quirks mirrored:
    *  - the `[\\]` gsub strips EVERY backslash from the raw message before
    *    the json parse (:13).
    *  - a [cg][data][message] containing both ":" and "," is treated as an
    *    embedded python-style dict: single quotes are gsub'd to double
    *    quotes and the result re-parsed (:22-29); resourceType lands on
    *    the oddball [dns][answers][type].
    *  - otherwise the flat rename set applies (:46-56), incl. ingestedtime
    *    → [event][ingested].
    *  - all three ISO dates remove their field on failure. */
  def ociCloudguard(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "oci") // ref :9-14
    ev.set("[event][module]", "oci")
    ev.set("[event][dataset]", "oci.cloudguard")
    Mutate.gsub(ev, "message", "[\\\\]", "")
    JsonOps.parse(ev, "message", "cg") // ref :15-18
    Mutate.addField(ev, "[log][source][hostname]", "%{[cg][oracle][tenantid]}") // ref :19-21
    val dm = ev.getString("[cg][data][message]").getOrElse("")
    if (dm.contains(":") && dm.contains(",")) { // ref :22-45
      Mutate.gsub(ev, "[cg][data][message]", "'", "\"")
      JsonOps.parse(ev, "[cg][data][message]", "tmp")
      ev.rename("[tmp][compartmentName]", "[event][provider]")
      ev.rename("[tmp][additionalDetails][riskLevel]", "[event][severity_name]")
      ev.rename("[tmp][additionalDetails][region]", "[cloud][region]")
      ev.rename("[tmp][additionalDetails][reason]", "[event][reason]")
      ev.rename("[tmp][additionalDetails][resourceType]", "[dns][answers][type]")
      ev.rename("[tmp][additionalDetails][problemDescription]", "[rule][description]")
      ev.rename("[tmp][additionalDetails][problemName]", "[rule][category]")
      ev.rename("[tmp][additionalDetails][status]", "[service][state]")
      ev.rename("[tmp][additionalDetails][firstDetected]", "[event][start]")
      ev.rename("[tmp][additionalDetails][lastDetected]", "[event][end]")
      ev.rename("[tmp][additionalDetails][problemType]", "[event][type]")
      ev.rename("[tmp][additionalDetails][problemRecommendation]", "[event][recommendation]")
    } else { // ref :46-56
      ev.rename("[cg][id]", "[event][id]")
      ev.rename("[cg][oracle][ingestedtime]", "[event][ingested]")
      ev.rename("[cg][oracle][loggroupid]", "[file][gid]")
      ev.rename("[cg][data][message]", "[rule][description]")
      ev.rename("[cg][data][ruleid]", "[rule][id]")
      ev.rename("[cg][time]", "[event][start]")
      ev.rename("[cg][type]", "[event][type]")
    }
    ev.remove("cg") // ref :57-59
    ev.remove("tmp")
    isoDate(ev, "[event][start]", "[event][start_ms]", "_dateparsefailure_es", removeOnFail = true) // ref :60-70
    isoDate(ev, "[event][end]", "[event][end_ms]", "_dateparsefailure_ee", removeOnFail = true) // ref :71-81
    isoDate(ev, "[event][ingested]", "[event][ingested_ms]", "_dateparsefailure_ei", removeOnFail = true) // ref :82-93
  }

  // ---------------------------------------------------------- oci.object
  /** ref api_application_oci.object.conf:9-79: flat rename set over the
    * OCI object-storage audit envelope; end/ingested/start ISO dates each
    * remove their field on failure. */
  def ociObject(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "oci") // ref :9-12
    ev.set("[event][dataset]", "oci.object")
    JsonOps.parse(ev, "message", "obj") // ref :13-16
    Mutate.addField(ev, "[log][source][hostname]", "%{[obj][data][tenantId]}") // ref :17-19
    ev.rename("[obj][id]", "[event][id]") // ref :20-38
    ev.rename("[obj][type]", "[event][type]")
    ev.rename("[obj][source]", "[event][provider]")
    ev.rename("[obj][data][authenticationType]", "[event][category]")
    ev.rename("[obj][data][clientIpAddress]", "[client][ip]")
    ev.rename("[obj][data][endTime]", "[event][end]")
    ev.rename("[obj][data][startTime]", "[event][start]")
    ev.rename("[obj][data][region]", "[cloud][region]")
    ev.rename("[obj][data][errorCode]", "[error][code]")
    ev.rename("[obj][data][message]", "[event][action]")
    ev.rename("[obj][data][requestAction]", "[http][request][method]")
    ev.rename("[obj][data][requestResourcePath]", "[url][path]")
    ev.rename("[obj][data][statusCode]", "[http][response][status_code]")
    ev.rename("[obj][data][userAgent]", "[user_agent][original]")
    ev.rename("[obj][oracle][ingestedtime]", "[event][ingested]")
    ev.rename("[obj][data][tenantName]", "[cloud][account][name]")
    isoDate(ev, "[event][end]", "[event][end_ms]", "_dateparsefailure_ee", removeOnFail = true) // ref :39-49
    isoDate(ev, "[event][ingested]", "[event][ingested_ms]", "_dateparsefailure_ei", removeOnFail = true) // ref :50-60
    isoDate(ev, "[event][start]", "[event][start_ms]", "_dateparsefailure_es", removeOnFail = true) // ref :61-71
    ev.remove("obj") // ref :72-74
  }

  // ------------------------------------------- jamf.endpoint_protection
  /** ref api_security_jamf.protect.conf:9-97. Quirks mirrored:
    *  - `[tmp][event.description]` probes a LITERAL dotted json key.
    *  - the ruby fold (:29-75) collects processes[].name/path and
    *    signingInfo.authorities plus user.name[].name into ARRAYS —
    *    [process][name]/[process][executable]/[user][name] become arrays
    *    even with one element.
    *  - the failure guard `if [_dateparsefailure_ec] in [tags]` (:82-86)
    *    is a FIELD reference, never a string: the created string is never
    *    removed here (enrichment 02 removes it later with the same tag). */
  def jamfProtect(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "jamf") // ref :9-14
    ev.set("[event][module]", "jamf")
    ev.set("[event][dataset]", "jamf.endpoint_protection")
    ev.set("[log][source][hostname]", "api_jamf")
    JsonOps.parse(ev, "message", "tmp") // ref :15-18
    ev.rename("[tmp][ips]", "[host][ip]") // ref :19-28
    ev.rename("[tmp][serial]", "[host][serial]")
    ev.rename("[tmp][hostname]", "[host][name]")
    ev.rename("[tmp][event][path]", "[file][path]")
    ev.rename("[tmp][event][timestamp]", "[event][created]")
    ev.rename("[tmp][event.description]", "[event][description]")
    ev.rename("[tmp][eventType]", "[event][type]")
    ev.rename("[tmp][reportType]", "[event][provider]")
    val names = scala.collection.mutable.ArrayBuffer.empty[Any] // ref :29-75
    val paths = scala.collection.mutable.ArrayBuffer.empty[Any]
    val auths = scala.collection.mutable.ArrayBuffer.empty[Any]
    val users = scala.collection.mutable.ArrayBuffer.empty[Any]
    def fold(src: String, out: (Event.FMap) => Unit): Unit = ev.get(src) match {
      case Some(a: scala.collection.mutable.ArrayBuffer[Any @unchecked]) =>
        a.foreach { case m: Event.FMap => out(m); case _ => () }
      case _ => ()
    }
    fold("[tmp][processes]", { m =>
      m.get("name") match { case s: String if s.nonEmpty => names += s; case _ => () }
      m.get("path") match { case s: String if s.nonEmpty => paths += s; case _ => () }
      m.get("signingInfo") match {
        case si: Event.FMap => si.get("authorities") match {
          case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] if a.nonEmpty => auths += a
          case _ => ()
        }
        case _ => ()
      }
    })
    fold("[tmp][user][name]", { m =>
      m.get("name") match { case s: String if s.nonEmpty => users += s; case _ => () }
    })
    if (names.nonEmpty) ev.set("[process][name]", names)
    if (paths.nonEmpty) ev.set("[process][executable]", paths)
    if (auths.nonEmpty) ev.set("[file][x509][issuer][common_name]", auths)
    if (users.nonEmpty) ev.set("[user][name]", users)
    Dates(ev, "[event][created]", Seq("UNIX"), "[event][created_ms]", // ref :77-86
      tagOnFailure = Seq("_dateparsefailure_ec")) match {
      case true => ev.remove("[event][created]")
      case false => () // broken field-ref guard: string kept (see scaladoc)
    }
    ev.remove("tmp") // ref :87-89
  }

  // -------------------------------------------------------------- sap.btp
  /** ref api_security_sap_btp.conf:9-76. Quirks mirrored:
    *  - the leading mutate removes any top-level event/host/log/user the
    *    input stamped (:9-11) BEFORE module/dataset are re-added.
    *  - `lowercase => ["tmp"]` targets a HASH — the mutate lowercase
    *    skips non-strings, so the sprintf'd tenant keeps its case until
    *    the enrichment-stage lowercase.
    *  - the audit record is TRIPLE-encoded: message → tmp, tmp.message →
    *    tmp_error, tmp_error.data → tmp_data; the grok only runs when
    *    tmp_data parsed (:50-57).
    *  - the ISO date has locale "ec" and NO remove-on-failure — a bad time
    *    string survives to enrichment 02 (same _ec tag, then removed). */
  def sapBtp(ev: Event, ctx: ParseCtx): Unit = {
    for (f <- Seq("event", "host", "log", "user")) ev.remove(f) // ref :9-11
    ev.copyField("message", "[event][original]") // ref :12-14
    ev.set("[event][module]", "sap") // ref :15-20
    ev.set("[event][dataset]", "sap.btp")
    JsonOps.parse(ev, "message", "tmp") // ref :21-24
    Mutate.lowercase(ev, "tmp") // no-op on a hash (ref :25-28)
    Mutate.addField(ev, "[log][source][hostname]", "%{[tmp][tenant]}")
    ev.rename("[tmp][als_service_id]", "[service][id]") // ref :29-43
    ev.rename("[tmp][category]", "[event][category]")
    ev.rename("[tmp][message_uuid]", "[rule][uuid]")
    ev.rename("[tmp][org_id]", "[cloud][project][id]")
    ev.rename("[tmp][time]", "[event][created]")
    ev.rename("[tmp][space_id]", "[cloud][instance][id]")
    ev.rename("[tmp][tenant]", "[cloud][account][id]")
    ev.rename("[tmp][object][type]", "[event][type]")
    ev.rename("[tmp][id]", "[event][id]")
    ev.rename("[tmp][ip]", "[source][ip]")
    ev.rename("[tmp][user]", "[user][name]")
    JsonOps.parse(ev, "[tmp][message]", "tmp_error") // ref :45-48
    JsonOps.parse(ev, "[tmp_error][data]", "tmp_data") // ref :49-52
    if (ev.has("tmp_data")) // ref :53-59
      Grok(ev, "[tmp_data][message]",
        Seq("(?<[email][subject]>.*?) \\('(?<[user][email]>.*?)'\\).*=\\[(?<[event][code]>.*?)\\]"))
    Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :60-67
      timezone = "GMT", locale = "ec", tagOnFailure = Seq("_dateparsefailure_ec")) match {
      case true => ev.remove("[event][created]")
      case false => () // no remove-on-failure in the ref
    }
    for (f <- Seq("tmp", "tmp_data", "tmp_error")) ev.remove(f) // ref :68-70
  }
}
