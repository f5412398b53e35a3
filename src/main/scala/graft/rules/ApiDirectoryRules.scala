package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, JsonOps, Mutate}

/** API JSON quartet #2:
  *   - o365.dlp — api_security_azure.o365_dlp.conf
  *   - azure.graph_identity_protection — api_security_azure.graph_identity_protection_api.conf
  *   - security_scorecard.events — api_security_scorecard.events.conf
  *   - active_directory.users — api_list_ad_users.conf
  */
object ApiDirectoryRules {

  // ------------------------------------------------------------ o365.dlp
  /** ref api_security_azure.o365_dlp.conf:9-69. Quirks mirrored:
    *  - ExchangeMetaData BCC/CC are MERGED onto the renamed To — a second
    *    recipient list turns [destination][user][email] into an array.
    *  - created/start ISO dates drop their field on failure. */
  def o365Dlp(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "azure") // ref :9-14
    ev.set("[event][module]", "o365")
    ev.set("[event][dataset]", "o365.dlp")
    ev.set("[log][source][hostname]", "o365_dlp")
    JsonOps.parse(ev, "message", "o365_dlp") // ref :15-18
    ev.rename("[o365_dlp][CreationTime]", "[event][created]") // ref :19-37
    ev.rename("[o365_dlp][Operation]", "[event][action]")
    ev.rename("[o365_dlp][UserKey]", "[user][id]")
    ev.rename("[o365_dlp][Workload]", "[observer][vendor]")
    ev.rename("[o365_dlp][IncidentId]", "[event][id]")
    ev.rename("[o365_dlp][ExchangeMetaData][To]", "[destination][user][email]")
    Mutate.merge(ev, "[o365_dlp][ExchangeMetaData][BCC]", "[destination][user][email]")
    Mutate.merge(ev, "[o365_dlp][ExchangeMetaData][CC]", "[destination][user][email]")
    ev.rename("[o365_dlp][ExchangeMetaData][From]", "[source][user][email]")
    ev.rename("[o365_dlp][ExchangeMetaData][FileSize]", "[file][size]")
    ev.rename("[o365_dlp][ExchangeMetaData][Subject]", "[email][subject]")
    ev.rename("[o365_dlp][ExchangeMetaData][Sent]", "[event][start]")
    ev.remove("o365_dlp") // ref :38-40
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :41-51
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]", // ref :52-63
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es"))) ev.remove("[event][start]")
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]")
  }

  // ----------------------------------- azure.graph_identity_protection
  /** ref api_security_azure.graph_identity_protection_api.conf:9-70.
    * Quirks mirrored:
    *  - [az][activity][riskEventTypes] wins over a scalar [az][activity]
    *    for [event][type] (:38-47).
    *  - the failure guard checks "_dateparsefailure" while the date tags
    *    "_dateparsefailure_ec" (:49-62) — the created string is never
    *    removed here (enrichment 02 scrubs it with its own _ec tag). */
  def graphIdentity(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "azure") // ref :9-14
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.graph_identity_protection")
    ev.set("[log][source][hostname]", "api_azure_identity_protection")
    JsonOps.parse(ev, "message", "az") // ref :15-19
    ev.rename("[az][riskState]", "[event][outcome]") // ref :20-37
    ev.rename("[az][detectionTimingType]", "[rule][category]")
    ev.rename("[az][id]", "[event][id]")
    ev.rename("[az][riskDetail]", "[rule][description]")
    ev.rename("[az][activityDateTime]", "[event][created]")
    ev.rename("[az][riskEventType]", "[event][kind]")
    ev.rename("[az][riskLevel]", "[event][severity_name]")
    ev.rename("[az][tokenIssuerType]", "[source][as][organization][name]")
    ev.rename("[az][ipAddress]", "[client][ip]")
    ev.rename("[az][location][city]", "[source][geo][city_name]")
    ev.rename("[az][location][state]", "[source][geo][name]")
    ev.rename("[az][location][countryOrRegion]", "[source][geo][region_name]")
    ev.rename("[az][userPrincipalName]", "[user][email]")
    ev.rename("[az][userDisplayName]", "[user][name]")
    ev.rename("[az][source]", "[observer][product]")
    if (ev.has("[az][activity][riskEventTypes]")) // ref :38-47
      ev.rename("[az][activity][riskEventTypes]", "[event][type]")
    else
      ev.rename("[az][activity]", "[event][type]")
    Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :49-57
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec")) match {
      case true => ev.remove("[event][created]")
      case false => () // mismatched guard tag in the ref: string kept
    }
    ev.remove("az") // ref :63-65
  }

  // --------------------------------------------- security_scorecard.events
  /** ref api_security_scorecard.events.conf:9-70. Quirks mirrored:
    *  - hostname AND connection_attributes.dst_host both rename onto
    *    [dns][answers][name] — dst_host, when present, overwrites.
    *  - the [observations][last_seen_at] fallback (:39-43) probes a
    *    top-level field the pipeline never sets — dead, kept.
    *  - the date lists lead with "yyyy-mm-dd HH:mm:ss" — lowercase mm
    *    (minutes) in the month slot parses the minute twice and conflicts;
    *    only the ISO8601 alternative ever succeeds. */
  def scorecard(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "security_scorecard") // ref :9-12
    ev.set("[event][dataset]", "security_scorecard.events")
    JsonOps.parse(ev, "message", "ss") // ref :13-16
    ev.set("[cloud][provider]", "security_scorecard") // ref :17-19
    ev.set("[log][source][hostname]", "api_security_scorecard.events")
    ev.rename("[ss][last_seen_time]", "[event][end]") // ref :20-38
    ev.rename("[ss][first_seen_time]", "[event][start]")
    ev.rename("[ss][issue_id]", "[event][id]")
    ev.rename("[ss][scheme]", "[network][protocol]")
    ev.rename("[ss][final_url]", "[url][full]")
    ev.rename("[ss][domain]", "[host][domain]")
    ev.rename("[ss][hostname]", "[dns][answers][name]")
    ev.rename("[ss][user_agent]", "[user_agent][original]")
    ev.rename("[ss][src_ip]", "[source][ip]")
    ev.rename("[ss][product_state_status_description]", "[service][state]")
    ev.rename("[ss][product_state_ref]", "[rule][reference]")
    ev.rename("[ss][analysis_description]", "[rule][description]")
    ev.rename("[ss][connection_attributes][protocol]", "[network][transport]")
    ev.rename("[ss][connection_attributes][dst_port]", "[destination][port]")
    ev.rename("[ss][connection_attributes][dst_ip]", "[destination][ip]")
    ev.rename("[ss][connection_attributes][dst_host]", "[dns][answers][name]")
    ev.rename("[ss][event.dataset]", "[event][kind]")
    if (!ev.has("[event][start]") && ev.has("[observations][last_seen_at]")) // ref :39-43 — dead
      ev.rename("[observations][last_seen_at]", "[event][start]")
    if (Dates(ev, "[event][start]", Seq("yyyy-mm-dd HH:mm:ss", "ISO8601"), // ref :44-54
      "[event][start_ms]", tagOnFailure = Seq("_dateparsefailure_es"))) ev.remove("[event][start]")
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]")
    if (Dates(ev, "[event][end]", Seq("yyyy-mm-dd HH:mm:ss", "ISO8601"), // ref :55-65
      "[event][end_ms]", tagOnFailure = Seq("_dateparsefailure_ee"))) ev.remove("[event][end]")
    if (ev.hasTag("_dateparsefailure_ee")) ev.remove("[event][end]")
    ev.remove("ss") // ref :66-68
  }

  // ------------------------------------------------ active_directory.users
  /** ref api_list_ad_users.conf:9-74. Quirks mirrored:
    *  - the dotted json keys ("user.name" etc.) are LITERAL keys under tmp.
    *  - [log][source][hostname] sprintf's [agent][name], which the pipeline
    *    input only sets when a top-level `host` arrived — absent here, so
    *    the LITERAL "%{[agent][name]}" string is stamped.
    *  - the sub-domain grok + `replace [@metadata][output]` (:46-53)
    *    redirects the event to the UNDATED "list_ad_users_<sub>" index.
    *  - the ingested date format is lowercase-literal 't'/'z'
    *    ("yyyy-MM-dd't'HH:mm:ss.SSS'z'"). */
  def adUsers(ev: Event, ctx: ParseCtx): Unit = {
    JsonOps.parse(ev, "message", "tmp") // ref :10-13
    ev.set("[event][module]", "active_directory") // ref :14-20
    ev.set("[event][dataset]", "active_directory.users")
    Mutate.addField(ev, "[log][source][hostname]", "%{[agent][name]}")
    ev.rename("[tmp][_id]", "_id") // ref :21-44
    ev.rename("[tmp][file.path]", "[file][path]")
    ev.rename("[tmp][event.ingested]", "[event][ingested]")
    ev.rename("[tmp][user.full_name]", "[user][full_name]")
    ev.rename("[tmp][user.name]", "[user][name]")
    ev.rename("[tmp][user.id]", "[user][id]")
    ev.rename("[tmp][user.effective.domain]", "[user][effective][domain]")
    ev.rename("[tmp][user.domain]", "[user][domain]")
    ev.rename("[tmp][user.email]", "[user][email]")
    ev.rename("[tmp][user.description]", "[user][description]")
    ev.rename("[tmp][user.office]", "[user][office]")
    ev.rename("[tmp][user.telephone]", "[user][telephone]")
    ev.rename("[tmp][user.city]", "[user][city]")
    ev.rename("[tmp][user.stat]", "[user][state]") // literal "user.stat" key (ref :34)
    ev.rename("[tmp][user.country]", "[user][country]")
    ev.rename("[tmp][user.title]", "[user][title]")
    ev.rename("[tmp][user.business.unit]", "[user][business][unit]")
    ev.rename("[tmp][user.company]", "[user][company]")
    ev.rename("[tmp][tmp_user.roles][value]", "[user][roles]")
    ev.rename("[tmp][tmp_user.directreports][value]", "[user][directreports]")
    ev.rename("[tmp][user.manager]", "[user][manager]")
    Grok(ev, "[user][domain]", Seq("^(?<[tmp][sub_domain]>.*?)\\.")) // ref :45-47
    Mutate.replace(ev, "[@metadata][output]", "list_ad_users_%{[tmp][sub_domain]}") // ref :48-51
    Mutate.addField(ev, "[@metadata][document_id]", "%{_id}")
    for (f <- Seq("tmp", "message", "host", "_id")) ev.remove(f) // ref :52-54
    if (Dates(ev, "[event][ingested]", Seq("yyyy-MM-dd't'HH:mm:ss.SSS'z'"), // ref :56-64
      "[event][ingested_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ei"))) ev.remove("[event][ingested]")
    if (ev.hasTag("_dateparsefailure_ei")) ev.remove("[event][ingested]") // ref :65-69
  }
}
