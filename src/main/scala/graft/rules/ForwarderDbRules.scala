package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, JsonOps, Mutate}

/** Forwarder/DB pair:
  *   - virtustream.windows — logstash_virtustream_windows_forwarder.conf
  *   - hadoop.impala_audit — hadoop_impala_audit.conf
  */
object ForwarderDbRules {

  // ----------------------------------------------- virtustream.windows
  /** ref logstash_virtustream_windows_forwarder.conf:9-110. Quirks mirrored:
    *  - EventType then Channel both rename onto [event][type]; Channel,
    *    when present, overwrites. Same for UserID/TargetUserSid on
    *    [user][id] and param9/SourceName on [source][address].
    *  - `update => { "message" => "[tmp][message]" }` (:49) passes a
    *    LITERAL string, not a sprintf ref — message always becomes the
    *    text "[tmp][message]".
    *  - [event][duration] is converted to float and multiplied by Ruby
    *    10e6 == 1.0e7 (:63-70) — ms × 10,000,000, not nanoseconds.
    *  - [tmp][tags] (an array) renames onto [host][os][type]. */
  def virtustreamWindows(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "virtustream") // ref :9-12
    ev.set("[event][dataset]", "virtustream.windows")
    JsonOps.parse(ev, "message", "tmp") // ref :13-16
    ev.rename("[tmp][Domain]", "[destination][domain]") // ref :17-60
    ev.rename("[tmp][ErrorCode]", "[error][code]")
    ev.rename("[tmp][type]", "[agent][type]")
    ev.rename("[tmp][Hostname]", "[host][name]")
    ev.rename("[tmp][host]", "[host][ip]")
    ev.rename("[tmp][port]", "[source][port]")
    ev.rename("[tmp][@timestamp]", "[event][created]")
    ev.rename("[tmp][EventTime]", "[event][start]")
    ev.rename("[tmp][EventReceivedTime]", "[event][ingested]")
    ev.rename("[tmp][EventID]", "[event][id]")
    ev.rename("[tmp][ObjectType]", "[process][args]")
    ev.rename("[tmp][UserID]", "[user][id]")
    ev.rename("[tmp][TargetUserSid]", "[user][id]")
    ev.rename("[tmp][TargetUserName]", "[user][name]")
    ev.rename("[tmp][EventType]", "[event][type]")
    ev.rename("[tmp][SeverityValue]", "[event][severity]")
    ev.rename("[tmp][Channel]", "[event][type]")
    ev.rename("[tmp][AccountName]", "[source][user][id]")
    ev.rename("[tmp][LogonGuid]", "[destination][user][group][id]")
    ev.rename("[tmp][LogonProcessName]", "[process][name]")
    ev.rename("[tmp][ProcessID]", "[process][pid]")
    ev.rename("[tmp][ThreadID]", "[process][thread][id]")
    ev.rename("[tmp][OperationElaspedTimeInMilliSeconds]", "[event][duration]")
    ev.rename("[tmp][param6]", "[source][user][domain]")
    ev.rename("[tmp][param9]", "[source][address]")
    ev.rename("[tmp][tags]", "[host][os][type]")
    ev.rename("[tmp][SourceName]", "[source][address]")
    ev.rename("[tmp][Opcode]", "[log][level]")
    ev.rename("[tmp][Severity]", "[event][severity_name]")
    Mutate.update(ev, "message", "[tmp][message]") // literal, not a ref (see scaladoc)
    ev.rename("[tmp][SubjectUserSid]", "[source][user][id]")
    ev.rename("[tmp][SubjectUserName]", "[source][user][name]")
    ev.rename("[tmp][SubjectDomainName]", "[source][user][domain]")
    ev.rename("[tmp][KeyFilePath]", "[file][path]")
    ev.rename("[tmp][Category]", "[event][category]")
    ev.rename("[tmp][Keywords]", "[rule][category]")
    ev.rename("[tmp][ProcessName]", "[process][name]")
    ev.rename("[tmp][TargetDomainName]", "[destination][domain]")
    ev.rename("[tmp][ParentProcessName]", "[process][parent][name]")
    ev.rename("[tmp][NewProcessName]", "[process][working_directory]")
    ev.rename("[tmp][ProviderName]", "[event][provider]")
    ev.copyField("[host][name]", "[log][source][hostname]") // ref :61-63
    if (ev.has("[event][duration]")) { // ref :64-71
      Mutate.convert(ev, "[event][duration]", "float")
      ev.get("[event][duration]").foreach {
        case d: Double => ev.set("[event][duration]", d * 10e6)
        case _ => ()
      }
    }
    if (Dates(ev, "[event][ingested]", Seq("yyyy-MM-dd HH:mm:ss"), // ref :72-81
      "[event][ingested_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ei"))) ev.remove("[event][ingested]")
    if (ev.hasTag("_dateparsefailure_ei")) ev.remove("[event][ingested]")
    if (Dates(ev, "[event][start]", Seq("yyyy-MM-dd HH:mm:ss"), // ref :82-91
      "[event][start_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_es"))) ev.remove("[event][start]")
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :92-101
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    ev.remove("tmp") // ref :102-104
    ev.remove("port")
  }

  // --------------------------------------------------- hadoop.impala_audit
  /** ref hadoop_impala_audit.conf:9-81. Quirks mirrored:
    *  - the record arrives via a beats/https listener that ships the raw
    *    body in [event][original]; the kafka-batch analogue stamps it from
    *    message at entry (the grok and the final remove both target
    *    [event][original], never message).
    *  - the wrapper grok `^{.*?:(?<tmp>(.|\n)*)}` strips `{"key":` and the
    *    LAST `}`; the `\"` gsub then unescapes the embedded record.
    *  - catalog_objects.name renames onto [database][table] first, so the
    *    second rename to [event][kind] never fires (source already gone).
    *  - `if "[tmp_json][authorization_failure]"` tests a STRING literal —
    *    always truthy, so [event][outcome] is ALWAYS authorization_success.
    *  - [event][module] is OVERWRITTEN by statement_type.
    *  - both [fields][environment] renames probe a never-set field. */
  def impalaAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "hadoop") // ref :10-13
    ev.set("[event][dataset]", "hadoop.impala_audit")
    ev.copyField("message", "[event][original]") // beats listener analogue (see scaladoc)
    Grok(ev, "[event][original]", Seq("^\\{.*?:(?<tmp>(.|\\n)*)\\}"), // ref :16-19
      Seq("_grokparsefailure_to_tmp"))
    Mutate.gsub(ev, "tmp", "\\\\\"", "\"") // ref :20-24
    JsonOps.parse(ev, "tmp", "tmp_json") // ref :25-29
    Grok(ev, "[tmp_json][network_address]", // ref :30-33
      Seq("^(.*?::.*?:)?(?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+):(?<[source][port]>\\d+)"),
      Seq("_grokparsefailure_to_tmp_json"))
    ev.rename("[tmp_json][query_id]", "[event][id]") // ref :35-46
    ev.rename("[tmp_json][start_time]", "[event][created]")
    ev.rename("[tmp_json][user]", "[user][name]")
    ev.rename("[tmp_json][sql_statement]", "[database][query]")
    ev.rename("[tmp_json][status]", "[event][action]")
    ev.rename("[tmp_json][statement_type]", "[event][module]")
    ev.rename("[tmp_json][catalog_objects][name]", "[database][table]")
    ev.rename("[tmp_json][catalog_objects][name]", "[event][kind]") // dead: moved above
    ev.rename("[tmp_json][catalog_objects][object_type]", "[event][type]")
    ev.rename("[fields][environment]", "[database][instance]") // dead
    ev.set("[event][outcome]", "authorization_success") // ref :47-54 — literal-string condition
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss.SSSSSS"), // ref :57-69
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    ev.rename("[fields][environment]", "[service][name]") // ref :71-74 — dead
    for (f <- Seq("input", "service", "destination", "program", "topic_name",
                  "fields", "[event][original]", "tmp_json", "tmp")) ev.remove(f)
    for (t <- Seq("impala-audit", "beats", "beats_input_codec_plain_applied", "siem-kafka"))
      ev.removeTag(t)
  }
}
