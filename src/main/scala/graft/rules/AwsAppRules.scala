package graft.rules

import graft.model.Event
import graft.parse.{Dates, JsonOps}

/** aws.app — semantic port of config/processors/api_aws_app.conf (124
  * lines): the journald + EKS/datadog application-log feed. One JSON object
  * per message; two rename blocks (journald then k8s), a nested JSON
  * `message` payload re-parsed into `jtmp` when it looks like an object,
  * and a five-format created date.
  *
  * Mirrored reference quirks:
  *   - `[tmp][service]` is renamed TWICE (:31 → [service][name], then :62 →
  *     [cloud][service][name]) — the first rename consumes the source, so
  *     the k8s-block rename is always dead and [cloud][service][name] is
  *     never populated.
  *   - both `[tmp][host]` (:40) and `[tmp][hostname]` (:55) target
  *     [host][hostname]; when a record carries both, the later k8s rename
  *     overwrites the journald one.
  *   - the nested-JSON gate `=~ "^{.*?}$"` is single-line only (Ruby `.`
  *     excludes newline); with `skip_on_invalid_json => true` a message
  *     that LOOKS like an object but fails to parse is silently dropped —
  *     the else-branch rename to [error][message] does not run and the
  *     payload dies with `tmp` (:117).
  *   - the first two created formats (`HH:mm:sss'Z'`, :103) are malformed
  *     (triple-s second-of-minute) and never match — every ISO value falls
  *     through to the ISO8601 arm.
  *   - journald `_source_realtime_timestamp` is MICROseconds
  *     ("1704485287095345", :100). Joda's unbounded UNIX arm would read it
  *     as seconds (year ~54M); this engine's UNIX parser is bounded at
  *     1e11 s (Dates.parseMulti), so the value lands in the UNIX_MS arm
  *     instead — epoch-ms = the raw microsecond count, a documented
  *     small deviation (either way the timestamp is absurd, and the
  *     ingestion-time default never applies since the parse succeeds).
  *   - `remove_field => ["event", "host"]` runs FIRST (:10-12): any
  *     input-stage event/host stamping is erased before the module/dataset
  *     add_fields re-create [event].
  */
object AwsAppRules {

  private def failParse(ev: Event): Unit = {
    ev.set("[agent][parse_rule]", "not parsed")
    ev.addTag("_parse_failure")
  }

  def awsApp(ev: Event, ctx: ParseCtx): Unit = {
    ev.remove("event") // ref :10-12
    ev.remove("host")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev) // ref :13-16
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "aws") // ref :17-23
    ev.set("[event][dataset]", "aws.app")
    ev.set("[log][source][hostname]", "aws_app")
    ev.rename("[tmp][_source_realtime_timestamp]", "[event][created]") // ref :24-47
    ev.rename("[tmp][_exe]", "[process][executable]")
    ev.rename("[tmp][_comm]", "[process][name]")
    ev.rename("[tmp][_boot_id]", "[process][entity_id]")
    ev.rename("[tmp][unit]", "[process][parent][command_line]")
    ev.rename("[tmp][code_file]", "[process][parent][name]")
    ev.rename("[tmp][service]", "[service][name]")
    ev.rename("[tmp][_gid]", "[process][pgid]")
    ev.rename("[tmp][_pid]", "[process][pid]")
    ev.rename("[tmp][_cmdline]", "[process][command_line]")
    ev.rename("[tmp][_uid]", "[file][uid]")
    ev.rename("[tmp][_systemd_cgroup]", "[group][name]")
    ev.rename("[tmp][_transport]", "[network][transport]")
    ev.rename("[tmp][_machine_id]", "[host][id]")
    ev.rename("[tmp][code_function]", "[log][origin][function]")
    ev.rename("[tmp][code_line]", "[log][origin][file][line]")
    ev.rename("[tmp][host]", "[host][hostname]")
    ev.rename("[tmp][syslog_identifier]", "[log][syslog][facility][name]")
    ev.rename("[tmp][priority]", "[log][syslog][priority]")
    ev.rename("[tmp][syslog_facility]", "[log][syslog][facility][code]")
    ev.rename("[tmp][cluster_name]", "[cloud][instance][name]") // ref :49-68 k8s
    ev.rename("[tmp][container_id]", "[container][id]")
    ev.rename("[tmp][ddsource]", "[container][runtime]")
    ev.rename("[tmp][ddtags]", "[container][image][tag]")
    ev.rename("[tmp][hostname]", "[host][hostname]")
    ev.rename("[tmp][kubernetes][container_image]", "[container][image][name]")
    ev.rename("[tmp][kubernetes][container_name]", "[container][name]")
    ev.rename("[tmp][kubernetes][pod_ip]", "[cloud][instance][id]")
    ev.rename("[tmp][kubernetes][namespace_name]", "[cloud][project][id]")
    ev.rename("[tmp][kubernetes][pod_name]", "[cloud][project][name]")
    ev.rename("[tmp][kubernetes][pod_owner]", "[cloud][account][name]")
    ev.rename("[tmp][service]", "[cloud][service][name]") // dead (see scaladoc)
    ev.rename("[tmp][source]", "[cloud][machine][type]")
    ev.rename("[tmp][source_type]", "[event][kind]")
    ev.rename("[tmp][stream]", "[event][provider]")
    ev.rename("[tmp][timestamp]", "[event][ingested]")
    ev.getString("[tmp][message]") match { // ref :70-104
      case Some(m) if m.matches("^\\{.*?\\}$") =>
        if (JsonOps.parse(ev, "[tmp][message]", "jtmp")) { // skip_on_invalid_json
          ev.rename("[jtmp][class]", "[dns][answers][class]")
          ev.rename("[jtmp][method]", "[http][request][mime_type]")
          ev.rename("[jtmp][@severity]", "[log][syslog][severity][name]")
          ev.rename("[jtmp][level]", "[log][level]")
          ev.rename("[jtmp][level_value]", "[log][syslog][severity][code]")
          ev.rename("[jtmp][logger_name]", "[log][logger]")
          ev.rename("[jtmp][thread_name]", "[process][thread][name]")
          ev.rename("[jtmp][@timestamp]", "[event][created]")
          ev.rename("[jtmp][@message]", "[error][message]")
          ev.rename("[jtmp][dd.trace_id]", "[trace][id]")
          ev.rename("[jtmp][dd.service]", "[service][name]")
          ev.rename("[jtmp][dd.span_id]", "[span][id]")
          ev.rename("[jtmp][file][originalname]", "[file][name]")
          ev.rename("[jtmp][file][encoding]", "[file][type]")
          ev.rename("[jtmp][file][mimetype]", "[file][mime_type]")
          ev.rename("[jtmp][line]", "[log][origin][file][line]")
        } else ev.removeTag("_jsonparsefailure") // skip_on_invalid_json: no tag
      case _ =>
        ev.rename("[tmp][message]", "[error][message]")
    }
    if (Dates(ev, "[event][created]", // ref :105-112 (first two arms never match)
      Seq("yyyy-MM-dd'T'HH:mm:sss'Z'", "yyyy-MM-dd't'HH:mm:sss'z'",
        "ISO8601", "UNIX", "UNIX_MS"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure")))
      ev.remove("[event][created]")
    if (Dates(ev, "[event][ingested]", // ref :114-120
      Seq("yyyy-MM-dd'T'HH:mm:sssssssss'Z'", "yyyy-MM-dd't'HH:mm:sssssssss'z'",
        "ISO8601"),
      "[event][ingested_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure")))
      ev.remove("[event][ingested]")
    ev.remove("tmp") // ref :122-124
    ev.remove("jtmp")
  }
}
