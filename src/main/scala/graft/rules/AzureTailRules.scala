package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** The azure event-hub tail — semantic ports of
  * config/processors/event_hub_security_azure.event_hub_atp.conf (133),
  * event_hub_security_azure.event_hub.conf (119) and
  * api_security_azure.graph_api.conf (118).
  *
  * Logstash `split` semantics mirrored faithfully throughout: each split
  * clone RETAINS every other field of the original event — including the
  * envelope object the array came from. event_hub.conf depends on this
  * (its `[tmp][Severity]` renames and the `[tmp][Entities]` ruby run AFTER
  * the split, so envelope-level keys enrich every per-record clone);
  * graph_api.conf likewise keeps `[az]` on every hostStates clone (the
  * dates at :94-112 re-run per clone over the same renamed values).
  */
object AzureTailRules {

  private def failParse(ev: Event): ParseOutcome = {
    ev.set("[agent][parse_rule]", "not parsed")
    ev.addTag("_parse_failure")
    Parsed(Seq(ev))
  }

  /** Logstash split with target: one clone per array element, the clone
    * keeping EVERY field of the original (the split field included), with
    * `target` set to the element. */
  private def splitTarget(ev: Event, arr: Vector[Any], target: String): Vector[Event] =
    arr.map { rec =>
      val sub = ev.cloneEvent()
      sub.set(target, Event.deepCopy(rec))
      sub
    }

  private def arrayAt(ev: Event, path: String): Option[Vector[Any]] =
    ev.get(path) match {
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => Some(a.toVector)
      case _ => None
    }

  /** date { match => [f, "ISO8601"] timezone => GMT } with the conf's own
    * remove-on-failure branch (tag checked immediately after, as written):
    * success parses into `target` and drops the source string (the
    * reference's in-place Timestamp overwrite); failure tags and removes
    * the source iff `removeOnFailure`. */
  private def dateIso(ev: Event, f: String, target: String, tag: String,
                      removeOnFailure: Boolean): Unit =
    if (Dates(ev, f, Seq("ISO8601"), target, timezone = "GMT", locale = "en",
      tagOnFailure = Seq(tag))) ev.remove(f)
    else if (removeOnFailure && ev.hasTag(tag)) ev.remove(f)

  // ------------------------------------------------- azure.eventhub.atp
  /** ref event_hub_security_azure.event_hub_atp.conf:9-133. Quirks
    * mirrored verbatim:
    *  - `[az][category]` → `[event][dataset]` (:33) OVERWRITES the stamped
    *    "azure.eventhub.atp" on every record of an envelope; the bare
    *    (record-less) shape keeps the stamp.
    *  - the per-record hostname add_field (:26-28) runs AFTER the split, so
    *    a bare object leaves the unresolved sprintf literal
    *    `%{[az][tenantId]}` in place (e94's bracketless scrub keeps it, e07
    *    lowercases it).
    *  - `[az][properties][FileOriginIP]` (:41) and `RequestSourceIP` (:64)
    *    BOTH rename to `[source][ip]` — the later declaration wins when
    *    both are populated.
    *  - `InitiatingProcessSHA1/SHA256` (:56-57) land on the PARENT's hash
    *    fields — the reference's own mis-mapping, kept.
    *  - the six all-lowercase `initiatingprocessversioninfo*` renames
    *    (:70-75) only fire on lowercase-keyed records (CamelCase
    *    AdvancedHunting payloads skip them); `internalfilename` then
    *    `originalfilename` both target `[process][pe][original_file_name]`
    *    and `productname` then `filedescription` both target
    *    `[process][pe][description]` — last declaration wins.
    *  - four ISO8601 dates (:78-125), each with its OWN failure tag and
    *    remove branch (no copy-paste quirk in this conf). */
  def ehAtp(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "azure") // ref :10-14
    ev.set("[event][dataset]", "azure.eventhub.atp")
    ev.set("[kafka][topic]", "api_azure.eventhub.atp")
    ev.set("[agent][name]", "azure.eventhub")
    if (!JsonOps.parse(ev, "message", "atp")) return failParse(ev) // ref :17-20
    ev.set("[agent][parse_rule]", "Rule 1")
    val events = arrayAt(ev, "[atp][records]") match { // ref :21-26
      case Some(rs) => splitTarget(ev, rs, "az")
      case None => Vector(ev)
    }
    Pending(events, { (sub, _) =>
      Mutate.addField(sub, "[log][source][hostname]", "%{[az][tenantId]}") // ref :27-29
      sub.rename("[az][time]", "[event][ingested]") // ref :30-76
      sub.rename("[az][tenantId]", "[cloud][account][id]")
      sub.rename("[az][operationName]", "[event][action]")
      sub.rename("[az][category]", "[event][dataset]")
      sub.rename("[az][properties][ActionType]", "[event][outcome]")
      sub.rename("[az][properties][AdditionalFields]", "[event][original]")
      sub.rename("[az][properties][AppGuardContainerId]", "[container][id]")
      sub.rename("[az][properties][DeviceId]", "[cloud][instance][id]")
      sub.rename("[az][properties][DeviceName]", "[cloud][instance][name]")
      sub.rename("[az][properties][FileName]", "[file][name]")
      sub.rename("[az][properties][FileOriginIP]", "[source][ip]")
      sub.rename("[az][properties][FileOriginReferrerUrl]", "[http][request][referrer]")
      sub.rename("[az][properties][FileOriginUrl]", "[url][full]")
      sub.rename("[az][properties][FileSize]", "[file][size]")
      sub.rename("[az][properties][FolderPath]", "[file][path]")
      sub.rename("[az][properties][InitiatingProcessAccountDomain]", "[user][domain]")
      sub.rename("[az][properties][InitiatingProcessAccountName]", "[user][name]")
      sub.rename("[az][properties][InitiatingProcessCommandLine]", "[process][command_line]")
      sub.rename("[az][properties][InitiatingProcessCreationTime]", "[process][start]")
      sub.rename("[az][properties][InitiatingProcessFileName]", "[process][name]")
      sub.rename("[az][properties][InitiatingProcessId]", "[process][pid]")
      sub.rename("[az][properties][InitiatingProcessMD5]", "[process][hash][md5]")
      sub.rename("[az][properties][InitiatingProcessParentCreationTime]", "[process][parent][start]")
      sub.rename("[az][properties][InitiatingProcessParentFileName]", "[process][parent][name]")
      sub.rename("[az][properties][InitiatingProcessParentId]", "[process][parent][pid]")
      sub.rename("[az][properties][InitiatingProcessSHA1]", "[process][parent][hash][sha1]")
      sub.rename("[az][properties][InitiatingProcessSHA256]", "[process][parent][hash][sha256]")
      sub.rename("[az][properties][MD5]", "[file][hash][md5]")
      sub.rename("[az][properties][ReportId]", "[rule][id]")
      sub.rename("[az][properties][RequestAccountDomain]", "[source][user][domain]")
      sub.rename("[az][properties][RequestAccountName]", "[source][user][id]")
      sub.rename("[az][properties][RequestAccountSid]", "[alarm][id]")
      sub.rename("[az][properties][RequestProtocol]", "[network][protocol]")
      sub.rename("[az][properties][RequestSourceIP]", "[source][ip]")
      sub.rename("[az][properties][RequestSourcePort]", "[source][port]")
      sub.rename("[az][properties][SHA1]", "[file][hash][sha1]")
      sub.rename("[az][properties][SHA256]", "[file][hash][sha256]")
      sub.rename("[az][properties][Timestamp]", "[event][created]")
      sub.rename("[az][properties][initiatingprocessversioninfocompanyname]", "[process][pe][company]")
      sub.rename("[az][properties][initiatingprocessversioninfoproductname]", "[process][pe][description]")
      sub.rename("[az][properties][initiatingprocessversioninfoproductversion]", "[process][pe][file_version]")
      sub.rename("[az][properties][initiatingprocessversioninfointernalfilename]", "[process][pe][original_file_name]")
      sub.rename("[az][properties][initiatingprocessversioninfooriginalfilename]", "[process][pe][original_file_name]")
      sub.rename("[az][properties][initiatingprocessversioninfofiledescription]", "[process][pe][description]")
      dateIso(sub, "[event][created]", "[event][created_ms]", // ref :78-88
        "_dateparsefailure_ec", removeOnFailure = true)
      dateIso(sub, "[event][ingested]", "[event][ingested_ms]", // ref :89-100
        "_dateparsefailure_ei", removeOnFailure = true)
      dateIso(sub, "[process][parent][start]", "[process][parent][start_ms]", // ref :101-113
        "_dateparsefailure_pps", removeOnFailure = true)
      dateIso(sub, "[process][start]", "[process][start_ms]", // ref :114-125
        "_dateparsefailure_ps", removeOnFailure = true)
      sub.remove("atp") // ref :126-128
      sub.remove("az")
    })
  }

  // -------------------------------------------- azure.eventhub.security
  /** ref event_hub_security_azure.event_hub.conf:9-119. Quirks mirrored:
    *  - `gsub => ["message", " ", ""]` (:17-19) strips EVERY space from the
    *    raw JSON before parsing — all string values lose their spaces
    *    ("East US" → "EastUS").
    *  - split clones keep `[tmp]` (envelope), so the `[tmp][Severity]`-
    *    family renames (:52-57) and the `[tmp][Entities]` FileHashes ruby
    *    (:59-100) act on ENVELOPE-level keys for every per-record clone.
    *  - `json_encode azsec → message` (:27-30) replaces message with the
    *    record's JSON — envelope shape only.
    *  - the ruby pushes per-algorithm hash VALUES into [file][hash][md5/
    *    sha1/sha256/sha512] arrays, each set only when non-empty; a
    *    non-array `FileHashes` that is a non-empty string raises inside
    *    `.each` → tag_on_exception "hash_ruby_block", no lists set. */
  def ehSecurity(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "azure") // ref :10-15
    ev.set("[event][dataset]", "azure.eventhub.security")
    ev.set("[kafka][topic]", "api_azure.eventhub.security")
    ev.set("[agent][name]", "azure.eventhub")
    ev.set("[log][source][hostname]", "api_azure_eventhub_security")
    Mutate.gsub(ev, "message", " ", "") // ref :17-19
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev) // ref :20-23
    ev.set("[agent][parse_rule]", "Rule 1")
    val events = arrayAt(ev, "[tmp][records]") match { // ref :24-31
      case Some(rs) =>
        val subs = splitTarget(ev, rs, "azsec")
        subs.foreach(s => JsonOps.encode(s, "azsec", "message"))
        subs
      case None => Vector(ev)
    }
    Pending(events, { (sub, _) =>
      sub.rename("[azsec][operationName]", "[rule][name]") // ref :33-50
      sub.rename("[azsec][properties][recommendationCategory]", "[event][category]")
      sub.rename("[azsec][properties][recommendationImpact]", "[event][severity_name]")
      sub.rename("[azsec][properties][recommendationName]", "[event][recommendation]")
      sub.rename("[azsec][properties][recommendationSchemaVersion]", "[rule][version]")
      sub.rename("[azsec][properties][recommendationResourceLink]", "[event][reference]")
      sub.rename("[azsec][properties][recommendationType]", "[event][type]")
      sub.rename("[azsec][resultSignature]", "[error][code]")
      sub.rename("[azsec][resultType]", "[event][action]")
      sub.rename("[azsec][level]", "[log][level]")
      sub.rename("[azsec][resultDescription]", "[rule][description]")
      sub.rename("[azsec][callerIpAddress]", "[source][ip]")
      sub.rename("[azsec][category]", "[rule][category]")
      sub.rename("[azsec][location]", "[host][geo][name]")
      sub.rename("[azsec][time]", "[event][start]")
      sub.rename("[azsec][operationVersion]", "[host][os][version]")
      sub.rename("[azsec][durationMs]", "[event][duration]")
      sub.rename("[tmp][Severity]", "[event][severity_name]") // ref :52-57
      sub.rename("[tmp][SystemAlertId]", "[event][id]")
      sub.rename("[tmp][Intent]", "[threat][tactic][name]")
      sub.rename("[tmp][AlertDisplayName]", "[rule][name]")
      sub.rename("[tmp][Description]", "[rule][description]")
      sub.rename("[tmp][AlertUri]", "[event][url]")
      entitiesHashRuby(sub) // ref :59-100
      sub.remove("tmp") // ref :101-103
      sub.remove("azsec")
      dateIso(sub, "[event][start]", "[event][start_ms]", // ref :104-116
        "_dateparsefailure_es", removeOnFailure = true)
    })
  }

  /** The event_hub.conf FileHashes ruby (:60-100): walks [tmp][Entities]
    * (when an array), collecting hash['Value'] per hash['Algorithm'] into
    * four lists; each non-empty list is SET as an array. A string
    * `FileHashes` ≠ "" raises on `.each` → "hash_ruby_block" tag and no
    * lists are set (the pushes so far are local variables). */
  private def entitiesHashRuby(ev: Event): Unit = {
    val md5s = mutable.ArrayBuffer.empty[Any]
    val sha1s = mutable.ArrayBuffer.empty[Any]
    val sha256s = mutable.ArrayBuffer.empty[Any]
    val sha512s = mutable.ArrayBuffer.empty[Any]
    ev.get("[tmp][Entities]") match {
      case Some(entities: mutable.ArrayBuffer[Any @unchecked]) =>
        entities.foreach {
          case item: Event.FMap =>
            item.get("FileHashes") match {
              case hashes: mutable.ArrayBuffer[Any @unchecked] =>
                hashes.foreach {
                  case h: Event.FMap =>
                    val value = h.get("Value")
                    h.get("Algorithm") match {
                      case "MD5" => md5s += value
                      case "SHA1" => sha1s += value
                      case "SHA256" => sha256s += value
                      case "SHA512" => sha512s += value
                      case _ => ()
                    }
                  case _ => ()
                }
              case s: String if s.nonEmpty => // ruby String#each → NoMethodError
                ev.addTag("hash_ruby_block")
                return
              case _ => () // nil or "" — the :62 guard skips
            }
          case _ => ()
        }
      case _ => () // not an Array — the kind_of? guard skips
    }
    if (md5s.nonEmpty) ev.set("[file][hash][md5]", md5s)
    if (sha1s.nonEmpty) ev.set("[file][hash][sha1]", sha1s)
    if (sha256s.nonEmpty) ev.set("[file][hash][sha256]", sha256s)
    if (sha512s.nonEmpty) ev.set("[file][hash][sha512]", sha512s)
  }

  // ------------------------------------------------- azure.graph_data
  /** ref api_security_azure.graph_api.conf:9-118. Quirks mirrored:
    *  - `gsub => ["message", "\\'", "'"]` (:14-16) unescapes the API's
    *    invalid `\'` JSON escapes BEFORE the parse (without it the json
    *    filter rejects the document).
    *  - `[az][createddatetime]` is renamed to `[event][created]` TWICE
    *    (:29/:44) — the second is a dead no-op.
    *  - `[az][logon_date_time]` then `[az][name]` BOTH rename to
    *    `[event][start]` (:42-43) — a populated `name` clobbers the logon
    *    timestamp with a non-date string, the :100 date then fails and
    *    (no remove branch for `_dateparsefailure_estart`) leaves the
    *    string for enrichment 02's unparsed-date sweep.
    *  - the fileStates ruby (:54-69) overwrites the scalar `[az][path]`
    *    rename with a LIST whenever fileStates is a non-empty array.
    *  - `if [destination_service_ip] and [destination_service_ip][0]`
    *    (:83-92) probes TOP-LEVEL fields that never exist (the payload
    *    lives under [az]) — both ip renames are dead, kept as written.
    *  - hostStates fan-out (:70-79): split target `tmp`, per-clone
    *    netBiosName → host.hostname; dates and removes re-run per clone.
    *  - `[event][end]` (closeddatetime) gets NO date parse — the string
    *    rides to enrichment 02, which removes it (+`_dateparsefailure_ee`). */
  def graphApi(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[cloud][provider]", "azure") // ref :9-13
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.graph_data")
    Mutate.gsub(ev, "message", "\\\\'", "'") // ref :14-16
    if (!JsonOps.parse(ev, "message", "az")) return failParse(ev) // ref :17-20
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.addField(ev, "[log][source][hostname]", "%{[az][azureTenantId]}") // ref :21-23
    ev.rename("[az][category]", "[rule][category]") // ref :24-53
    ev.rename("[az][closeddatetime]", "[event][end]")
    ev.rename("[az][confidence]", "[event][risk_score_norm]")
    ev.rename("[az][createddatetime]", "[event][created]")
    ev.rename("[az][description]", "[rule][description]")
    ev.rename("[az][id]", "[event][id]")
    ev.rename("[az][severity]", "[event][severity_name]")
    ev.rename("[az][sourceMaterials]", "[rule][reference]")
    ev.rename("[az][title]", "[event][kind]")
    ev.rename("[az][provider]", "[source][as][organization][name]")
    ev.rename("[az][subprovider]", "[client][as][organization][name]")
    ev.rename("[az][vendor]", "[observer][vendor]")
    ev.rename("[az][destination_service_name]", "[cloud][provider]")
    ev.rename("[az][domain_name]", "[user][domain]")
    ev.rename("[az][user_principal_name]", "[user][email]")
    ev.rename("[az][createddatetime]", "[event][created]") // :44 dead duplicate
    ev.rename("[az][status]", "[event][type]")
    ev.rename("[az][logon_location]", "[host][geo][location]")
    ev.rename("[az][logon_date_time]", "[event][start]")
    ev.rename("[az][name]", "[event][start]") // :43 clobber (see scaladoc)
    ev.rename("[az][path]", "[file][path]")
    ev.rename("[az][file_hash_md5]", "[file][hash][md5]")
    ev.rename("[az][file_hash_sha256]", "[file][hash][sha256]")
    ev.rename("[az][file_hash_sha1]", "[file][hash][sha1]")
    ev.rename("[az][file_hash_sha512]", "[file][hash][sha512]")
    ev.rename("[az][lastModifiedDateTime]", "[event][modified]")
    // fileStates ruby (ref :54-69): collect non-'' paths, set as list
    ev.get("[az][fileStates]") match {
      case Some(states: mutable.ArrayBuffer[Any @unchecked]) =>
        val paths = mutable.ArrayBuffer.empty[Any]
        states.foreach {
          case item: Event.FMap => item.get("path") match {
            case null | "" => ()
            case p => paths += p
          }
          case _ => ()
        }
        if (paths.nonEmpty) ev.set("[file][path]", paths)
      case _ => ()
    }
    val events = arrayAt(ev, "[az][hostStates]") match { // ref :70-79
      case Some(hs) =>
        val subs = splitTarget(ev, hs, "tmp")
        subs.foreach(_.rename("[tmp][netBiosName]", "[host][hostname]"))
        subs
      case None => Vector(ev)
    }
    Pending(events, { (sub, _) =>
      // ref :81-92 — dead top-level ip probes ([destination_service_ip] /
      // [logon_ip] never exist outside [az]); kept as written
      if (sub.has("[destination_service_ip]") && sub.has("[destination_service_ip][0]"))
        sub.rename("[az][destination_service_ip]", "[client][ip]")
      if (sub.has("[logon_ip]") && sub.has("[logon_ip][0]"))
        sub.rename("[az][logon_ip]", "[source][ip]")
      dateIso(sub, "[event][created]", "[event][created_ms]", // ref :93-99 + :107-111
        "_dateparsefailure_ec", removeOnFailure = true)
      dateIso(sub, "[event][start]", "[event][start_ms]", // ref :100-106 — NO remove branch
        "_dateparsefailure_estart", removeOnFailure = false)
      sub.remove("az") // ref :112-114
      sub.remove("tmp")
    })
  }
}
