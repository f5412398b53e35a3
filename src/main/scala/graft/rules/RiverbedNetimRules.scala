package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, Kv, Mutate, SyslogPri}

/** riverbed.netim — semantic port of
  * config/processors/syslog_audit_riverbed.netim_weekly.conf (194 lines):
  * the NetIM weekly threshold-crossing alarm feed. Whole-message lowercase
  * first (:17-21), header dissect (:24-30), conditional "complete sample"
  * grok split (:37-46), syslog_pri + manual ECS renames (:48-56), the
  * app-severity extraction with its RFC-5424 remap (:59-97), newline→comma
  * gsub chains + dual self-targeting kv (:100-131), the sample map's
  * json_encode → space→underscore gsub → json reparse into [labels]
  * (:134-149), NetIM→ECS renames (:152-166), the four-ref error.message
  * sprintf (:169-171) and the CST6CDT "crossed at" date (:174-183).
  *
  * Mirrored reference quirks:
  *   - `rename "syslog_facility_name"` (:54) probes a field the syslog_pri
  *     decode never writes — dead, kept in place.
  *   - `rename "[tmp][details][ifIndex]"` (:162) is dead: the :20
  *     whole-message lowercase means the kv key is always `ifindex`, so
  *     the interface id never lands on [observer][ingress][interface][id].
  *   - the error.message sprintf (:170) renders unresolved refs literally
  *     when an alarm lacks `display name`/`ifdescr`/`threshold` keys (and
  *     entirely when the message carries no "complete sample" block).
  *   - the severity-name translate's "informational" fallback (:96) is
  *     unreachable: the code translate (:75-85) only emits 2/3/4/5/7, all
  *     of which the 0-7 name dictionary covers.
  *   - the kv→kv `target == source` form (:114-131) replaces the scanned
  *     string in place with the parsed map, exactly as the kv filter's
  *     single `event.set(target, hash)` does.
  */
object RiverbedNetimRules {

  private val severityCode = Map( // ref :75-85
    "critical" -> 2L, "major" -> 3L, "minor" -> 4L, "normal" -> 5L)
  private val severityName = Map( // ref :87-97
    2L -> "critical", 3L -> "error", 4L -> "warning", 5L -> "notice",
    7L -> "debug", 0L -> "emergency", 1L -> "alert", 6L -> "informational")

  def netim(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "riverbed") // ref :10-13
    ev.set("[event][dataset]", "riverbed.netim")
    Mutate.lowercase(ev, "message") // ref :17-21
    if (!Dissect(ev, "message", // ref :24-30
      "%{} %{} <%{syslog_pri}>%{} - %{[[tmp][dissect]]}: %{[[tmp][rest_msg]]}",
      Seq("_dissect_error-riverbed.netim-message"))) ()
    Mutate.strip(ev, "[tmp][dissect]") // ref :32-34
    if (ev.getString("[tmp][rest_msg]").exists(_.contains("complete sample"))) // ref :37-46
      Grok(ev, "[tmp][rest_msg]",
        Seq("%{GREEDYDATA:[[tmp][details]]}complete sample:%{GREEDYDATA:[[tmp][sample_raw]]}"),
        Seq("_grokparsefailure_sample"))
    SyslogPri(ev, "syslog_pri", removeField = false) // ref :48-49 (removed at :187)
    ev.rename("syslog_severity_code", "[log][syslog][severity][code]") // ref :50-56
    ev.rename("syslog_severity", "[log][syslog][severity][name]")
    ev.rename("syslog_facility", "[log][syslog][facility][name]")
    ev.rename("syslog_facility_name", "[log][syslog][facility][name]") // dead (see scaladoc)
    ev.rename("syslog_facility_code", "[log][syslog][facility][code]")
    Grok(ev, "[tmp][dissect]", // ref :59-63
      Seq("%{GREEDYDATA} %{NOTSPACE:[[tmp][app_severity]]} severity"),
      Seq("_grokparsefailure_severity"))
    ev.getString("[tmp][app_severity]").foreach { sev => // ref :66-97
      ev.remove("[log][syslog][severity][code]")
      ev.remove("[log][syslog][severity][name]")
      val code = severityCode.getOrElse(sev, 7L) // fallback => 7
      ev.set("[log][syslog][severity][code]", code)
      ev.set("[log][syslog][severity][name]", severityName(code))
    }
    Mutate.gsub(ev, "[tmp][details]", "\n", ",") // ref :100-112
    Mutate.gsub(ev, "[tmp][sample_raw]", "\n", ",")
    Mutate.gsub(ev, "[tmp][sample_raw]", "\t", "")
    Mutate.gsub(ev, "[tmp][details]", "^,", "")
    Mutate.gsub(ev, "[tmp][sample_raw]", "^,", "")
    Mutate.gsub(ev, "[tmp][details]", ",$", "")
    Mutate.gsub(ev, "[tmp][sample_raw]", ",$", "")
    Kv(ev, "[tmp][details]", ',', ':', target = "[tmp][details]") // ref :114-122
    Kv(ev, "[tmp][sample_raw]", ',', ':', target = "[tmp][sample_raw]") // ref :124-131
    if (JsonOps.encode(ev, "[tmp][sample_raw]", "[tmp][sample_json]")) { // ref :134-138
      Mutate.gsub(ev, "[tmp][sample_json]", " ", "_") // ref :140-143
      JsonOps.parse(ev, "[tmp][sample_json]", "[labels]") // ref :145-149
    }
    ev.rename("[tmp][details][primaryaddress]", "[host][ip]") // ref :152-166
    ev.rename("[tmp][details][sysname]", "[host][hostname]")
    ev.rename("[tmp][details][alert description]", "[rule][category]")
    ev.rename("[tmp][details][alert name]", "[rule][ruleset]")
    ev.rename("[tmp][details][metric class]", "[event][reason]")
    ev.rename("[tmp][details][metric]", "[event][action]")
    Mutate.addField(ev, "[event][category]", "network")
    Mutate.addField(ev, "[event][kind]", "alert")
    Mutate.addField(ev, "[event][outcome]", "failure")
    ev.rename("[tmp][details][ifalias]", "[observer][ingress][interface][alias]")
    ev.rename("[tmp][details][ifIndex]", "[observer][ingress][interface][id]") // dead (see scaladoc)
    ev.rename("[tmp][details][preferredname]", "[observer][ingress][interface][name]")
    Mutate.addField(ev, "[error][message]", // ref :169-171
      "%{[[tmp][details][display name]]} (%{[[tmp][details][ifdescr]]}) %{[[event][action]]} %{[[tmp][details][threshold]]}")
    Mutate.gsub(ev, "[tmp][details][crossed at]", "cdt ", "") // ref :174-176
    Dates(ev, "[tmp][details][crossed at]", Seq("EEE MMM dd HH:mm:ss yyyy"), // ref :178-183
      "[event][start_ms]", timezone = "CST6CDT")
    ev.remove("[tmp]") // ref :186-188
    ev.remove("syslog_pri")
  }
}
