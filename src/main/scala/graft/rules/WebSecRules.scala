package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** securityonion.suricata, apache.access, o365 dlp / msg-tracking, the
  * azure firewall/dns/ids/proxy flow hub, and proofpoint.pod — semantic
  * ports of config/processors/{syslog_securityonion_securityonion.suricata,
  * flat_file_audit_apache.access, event_hub_audit_o365.dlp,
  * event_hub_audit_o365.msg.trkg_eventhub,
  * event_hub_azure.fw_dns_ids_proxy_flow,
  * api_security_proofpoint.pod_email_gateway}.conf. */
object WebSecRules {

  private def failParse(ev: Event): Unit = {
    ev.set("[agent][parse_rule]", "not parsed")
    ev.addTag("_parse_failure")
  }

  // ------------------------------------ entrust mpki + cisco.mso
  /** ref syslog_audit_mpki.cmpv2.conf. */
  def mpkiCmpv2(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "entrust")
    ev.set("[event][dataset]", "entrust.mpki.cmpv2")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Dissect(ev, "actual_msg",
      "%{[[event][created]]->} %{+[[event][created]]},%{?data} %{?data} %{?data} %{rest_msg}")
    Seq("[\"]", "[']", "[\\[]", "[\\]]").foreach(p => Mutate.gsub(ev, "rest_msg", p, ""))
    Kv(ev, "rest_msg", ' ', '=', target = "mpki", trimKey = " ")
    ev.rename("[mpki][tenant]", "[organization][name]")
    ev.rename("[mpki][cn]", "[tls][client][issuer]")
    ev.rename("[mpki][user]", "[user][name]")
    ev.rename("[host][name]", "[log][source][hostname]")
    Seq("mpki", "rest_msg", "actual_msg").foreach(ev.remove(_))
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][created]")
    else ev.remove("[event][created]")
  }

  /** ref syslog_audit_cisco.mso.conf — fluentd-wrapped lines with two
    * refinement dissects (failed-attempt user split; triple-append audit
    * description cut at "event:"). */
  def ciscoMso(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco")
    ev.set("[event][dataset]", "cisco.mso")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Dissect(ev, "actual_msg",
      "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} msc-logging-service fluentd: message:%{mso}",
      tagOnFailure = Seq("_dissect_failure_1"))
    if (ev.has("[event][created]")) {
      Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"),
        "[event][created_ms]", timezone = "GMT", locale = "en",
        defaultYear = ctx.tsYear)
      ev.remove("[event][created]")
    }
    val mso = ev.getString("mso").getOrElse("")
    if (mso.contains("failed attempt")) {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 1")
      Dissect(ev, "mso",
        "%{?date} %{?date} [%{?somedata}] %{?somedata} - User : %{[[user][name]]} %{[[rule][description]]}:%{?repeated_msg}",
        tagOnFailure = Seq("_dissect_failure_2"))
    } else if (!mso.contains("hostname:")) {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 2")
      Dissect(ev, "mso",
        "%{?date} %{?date} [%{?somedata}] %{?somedata} - %{[[rule][description]]}: %{+[[rule][description]]}: %{+[[rule][description]]}event:%{?repeated_msg}",
        tagOnFailure = Seq("_dissect_failure_3"))
    }
    Seq("rest_msg", "mso", "actual_msg").foreach(ev.remove(_))
  }

  // ------------------------------------- sap tcodes + riverbed stdout
  /** ref api_https_audit_sap_tcodes.conf — compact yyyyMMddHHmmss.SSS date,
    * [value_header][0] probes, and a non-ip client_pc that the coercion
    * pass migrates into source.address. */
  def sapTcodes(ev: Event, ctx: ParseCtx): Unit = {
    Seq("event", "host", "log").foreach(ev.remove(_))
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "sap")
    ev.set("[event][dataset]", "sap.t-codes")
    ev.addTag(Mutate.sprintf(ev, "%{[tmp][tags]}"))
    ev.rename("[tmp][timestamp]", "[event][created]")
    ev.rename("[tmp][reason_id]", "[event][reason]")
    ev.rename("[tmp][agent][type]", "[agent][type]")
    ev.rename("[tmp][agent][name]", "[agent][name]")
    ev.rename("[tmp][client_pc]", "[source][ip]")
    ev.rename("[tmp][username]", "[user][name]")
    ev.rename("[tmp][log_client]", "[group][id]")
    ev.rename("[tmp][edm_data][log_sapgui][value_header][0][pprogram]", "[process][name]")
    ev.rename("[tmp][edm_data][log_sapgui][value_header][0][gui_title]", "[rule][name]")
    ev.rename("[tmp][edm_data][log_sapgui][value_header][0][tcode]", "[rule][id]")
    ev.rename("[tmp][trx_name]", "[rule][description]")
    ev.rename("[tmp][tid]", "[rule][category]")
    ev.rename("[tmp][sysid]", "[host][id]")
    ev.rename("[tmp][technology]", "[host][os][type]")
    ev.rename("[tmp][host_name]", "[host][hostname]")
    ev.rename("[tmp][log][source][ip]", "[log][source][ip]")
    ev.rename("[tmp][log][source][hostname]", "[log][source][hostname]")
    Mutate.strip(ev, "[event][created]")
    if (Dates(ev, "[event][created]", Seq("yyyyMMddHHmmss.SSS"),
      "[event][created_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][created]")
    else ev.remove("[event][created]")
    ev.remove("tmp")
  }

  /** ref flat_file_audit_riverbed.stdout.conf — three bracketed-line
    * branches; only the Start/Stop branch assembles a date. */
  def riverbedStdout(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco")
    ev.set("[event][dataset]", "cisco.riverbed.stdout")
    val msg = ev.getString("message").getOrElse("")
    if (msg.matches(".*(Stop|Start time).*")) {
      Dissect(ev, "message",
        "%{[[log][level]]} [%{?data} time: %{[[tmp][weekday]]} %{[[tmp][month]]} %{[[tmp][date]]} %{[[tmp][time]]} %{?data} %{[[tmp][year]]}]",
        tagOnFailure = Seq("dissectfailure_1"))
      Mutate.addField(ev, "[event][created]",
        "%{[tmp][year]} %{[tmp][month]} %{[tmp][date]} %{[tmp][time]}")
    } else if (msg.contains("file:")) {
      Dissect(ev, "message",
        "%{[[log][level]]} [%{?data} file:%{[[file][path]]}]",
        tagOnFailure = Seq("dissectfailure_2"))
    } else if (msg.contains("maintenance task")) {
      Dissect(ev, "message",
        "%{[[log][level]]} [%{?data}*** %{[[network][log]]} ***]",
        tagOnFailure = Seq("dissectfailure_3"))
    }
    if (ev.has("[event][created]")) {
      Dates(ev, "[event][created]", Seq("YYYY MMM dd HH:mm:ss"),
        "[event][created_ms]", timezone = "GMT")
      ev.remove("[event][created]")
    }
    ev.remove("tmp")
  }

  // ----------------------------------------- oci.vcn + aix.rsyslog
  /** ref api_network_oci.vcn.conf — VCN flow logs. */
  def ociVcn(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "vcn")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[cloud][provider]", "oci")
    ev.set("[event][module]", "oci")
    ev.set("[event][dataset]", "oci.vcn")
    Mutate.addField(ev, "[log][source][hostname]", "%{[vcn][oracle][tenantid]}")
    ev.rename("[vcn][data][action]", "[event][action]")
    ev.rename("[vcn][data][bytesOut]", "[network][bytes]")
    ev.rename("[vcn][data][destinationAddress]", "[destination][ip]")
    ev.rename("[vcn][data][destinationPort]", "[destination][port]")
    ev.rename("[vcn][data][protocolName]", "[network][transport]")
    ev.rename("[vcn][data][protocol]", "[network][iana_number]")
    ev.rename("[vcn][data][packets]", "[network][packets]")
    ev.rename("[vcn][data][sourceAddress]", "[source][ip]")
    ev.rename("[vcn][data][sourcePort]", "[source][port]")
    ev.rename("[vcn][data][status]", "[rule][description]")
    ev.rename("[vcn][oracle][ingestedtime]", "[event][ingested]")
    ev.rename("[vcn][oracle][loggroupid]", "[file][gid]")
    ev.rename("[vcn][specversion]", "[rule][version]")
    ev.rename("[vcn][time]", "[event][start]")
    ev.rename("[vcn][type]", "[event][type]")
    ev.rename("[vcn][id]", "[rule][uuid]")
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    if (Dates(ev, "[event][ingested]", Seq("ISO8601"), "[event][ingested_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ei")))
      ev.remove("[event][ingested]")
    ev.remove("vcn")
  }

  /** ref syslog_audit_aix_rsyslog.conf — brace-split header, embedded JSON,
    * whitespace-collapsed + lowercased audit text re-dissected with a
    * four-token MMM dd HH:mm:ss yyyy date. */
  def aixRsyslog(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "aix")
    ev.set("[event][dataset]", "aix.rsyslog")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Dissect(ev, "actual_msg", "%{?data}} %{rest_message}",
      tagOnFailure = Seq("_dissectfailure_1"))
    Mutate.gsub(ev, "rest_message", "\\\\\"", "\"")
    if (!JsonOps.parse(ev, "rest_message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.gsub(ev, "[tmp][message]", "(\\s+)", " ")
    ev.rename("[tmp][severity]", "[event][severity]")
    ev.rename("[tmp][type]", "[event][type]")
    ev.rename("[tmp][message]", "[event][original]")
    Mutate.lowercase(ev, "[event][original]")
    Dissect(ev, "[event][original]",
      "%{?data} %{[event][created]} %{+[event][created]} %{+[event][created]} %{+[event][created]} %{?data} %{?data} %{[user][name]} %{?data} %{?data} %{?data} %{?data} %{[process][command_line]}",
      tagOnFailure = Seq("_dissectfailure_2"))
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss yyyy"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    else ev.remove("[event][created]")
    Seq("actual_msg", "rest_message", "tmp").foreach(ev.remove(_))
  }

  // ----------------------------------------- as400.audit + dell.drac
  /** ref syslog_as400_audit.conf — lowercased message, optional
    * {name=…}/pri header, JSON payload with a_/b_/… prefixed columns, and
    * a dotted-time "yyyy-MM-dd HH.mm.ss" date built by sprintf. */
  def as400Audit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "as400")
    ev.set("[event][dataset]", "as400.audit")
    Mutate.lowercase(ev, "message")
    Grok(ev, "message", Seq(
      "^(.*?\\{name=.*?\\}(\\s)?)?(<(?<pri>\\d+)>)?(\\s)?(?<actual_msg>.*)$|(^(?<actual_msg>.*)$)"),
      Seq("_parsefailure_header"))
    SyslogPri(ev)
    if (!JsonOps.parse(ev, "actual_msg", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[tmp][a_date]", "date")
    ev.rename("[tmp][b_time]", "time")
    ev.rename("[tmp][c_system]", "[host][name]")
    ev.rename("[tmp][d_event]", "[event][id]")
    ev.rename("[tmp][e_command]", "[process][command_line]")
    ev.rename("[tmp][f_remote_ip_add]", "[host][ip]")
    ev.rename("[tmp][g_job_name]", "[rule][name]")
    ev.rename("[tmp][h_job_number]", "[rule][id]")
    ev.rename("[tmp][i_job_user]", "[user][name]")
    if (ev.has("[host][name]"))
      Mutate.addField(ev, "[log][source][hostname]", "%{[host][name]}")
    Mutate.addField(ev, "[event][created]", "%{date} %{time}")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH.mm.ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    else ev.remove("[event][created]")
    Seq("actual_msg", "tmp", "date", "time", "[log][original]").foreach(ev.remove(_))
  }

  /** ref syslog_remote_console.conf (dell.drac) — event.action refined in
    * place by three sequential dissects. */
  def dellDrac(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "dell")
    ev.set("[event][dataset]", "dell.drac")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Dissect(ev, "actual_msg",
      "%{[event][created]} %{+[event][created]} %{+[event][created]} %{?data} %{?data}: %{[event][action]}")
    if (ev.getString("[event][action]").exists(_.contains("sshd:auth")))
      Dissect(ev, "[event][action]", "%{?data}: %{[event][action]}")
    if (ev.getString("[event][action]").exists(_.contains("host=")))
      Dissect(ev, "[event][action]", "%{?data} host=%{[host][ip]}")
    if (ev.getString("[event][action]").exists(_.contains("ip:")))
      Dissect(ev, "[event][action]", "%{?data} (ip:%{[source][ip]}, service:%{[service][name]})")
    if (ev.has("[event][created]")) {
      Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"),
        "[event][created_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear)
      ev.remove("[event][created]")
    }
    ev.remove("actual_msg")
  }

  // ------------------------- checkpoint.fw_audit / hms_audit / ansible
  /** ref syslog_audit_checkpoint.operations.conf — auth-failure grok and
    * illegal-pam dissect branches; no parse_rule is ever set. */
  def checkpointOps(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "checkpoint")
    ev.set("[event][dataset]", "checkpoint.fw_audit")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("authentication failure")) {
      Grok(ev, "actual_msg", Seq(
        "^(?<[event][created]>.*?\\d+:\\d+:\\d+) (?<[observer][name]>.*?) .*?\\): (?<[rule][description]>.*?);.*?uid=(?<[user][id]>\\d+).*?tty=(?<[network][protocol]>.*?) .*? user=(?<[user][name]>.*?)$"),
        Seq("_parsefailure_auth"))
    }
    if (am.matches(".*illegal (pam|PAM) password attempt.*")) {
      Dissect(ev, "actual_msg",
        "%{[[event][created]]} %{+[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[network][name]]}-%{[[service][type]]} %{?data}: [%{[[network][protocol]]}] %{[[rule][description]]} for '%{[[user][name]]}' from %{[[source][ip]]}:%{[[source][port]]}")
    }
    Mutate.gsub(ev, "[event][created]", "  ", " ")
    if (ev.has("[event][created]")) {
      Dates(ev, "[event][created]", Seq("yyyy MMM d HH:mm:ss", "ISO8601"),
        "[event][created_ms]", timezone = "GMT", locale = "en",
        tagOnFailure = Seq("_dateparsefailure_ec"))
      ev.remove("[event][created]")
    }
    ev.remove("actual_msg")
  }

  /** ref hadoop_hms_audit.conf (beats envelope via json codec) — the
    * severity string dies on the enumerated long coercion, and the date
    * removal guard probes the generic _dateparsefailure tag while the
    * date emits _dateparsefailure_ec (dead guard). */
  def hmsAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "hadoop")
    ev.set("[event][dataset]", "hadoop.hms_audit")
    Grok(ev, "[event][original]",
      Seq("^(?<[event][created]>\\d+-\\d+-\\d+\\s\\d+:\\d+:\\d+,\\d+)"),
      Seq("_grokparsefailure_to_tmp"))
    Kv.withPattern(ev, "message", "\\t+", '=', target = "tmp_kv")
    ev.rename("[fields][environment]", "[database][instance]")
    ev.rename("severity", "[event][severity]") // string → long coercion kills it
    ev.rename("role", "[user][roles]")
    ev.rename("class", "[event][provider]")
    ev.rename("thread", "[process][thread][name]")
    ev.rename("[tmp_kv][cmd]", "[process][command_line]")
    ev.rename("[tmp_kv][ugi]", "[url][path]")
    ev.rename("[tmp_kv][ip]", "[source][ip]")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss,SSS"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    else ev.remove("[event][created]") // the conf's guard is dead; net same
    Seq("program", "role", "topic_name", "hadoop_hdfs_audit", "input",
      "service", "destination", "fields", "tmp", "[event][original]",
      "tmp_kv").foreach(ev.remove(_))
  }

  /** ref flat_file_audit_ansible.conf (log.file.path via json codec).
    * Mirrored bugs: the first grok pattern's NOTSPACE swallows "Dev-…", so
    * the dedicated Dev pattern is dead; the build-version conditional
    * probes the QUOTED literal "[log][file][path]" (not the field), so the
    * else branch always wins. */
  def ansibleAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "ansible")
    ev.set("[event][dataset]", "ansible.audit")
    ev.copyField("[log][file][path]", "[tmp][full_filename]")
    Grok(ev, "[log][file][path]", Seq(
      "%{GREEDYDATA:[[tmp][path]]}/%{WORD:[[tmp][app]]}-CNetOps-%{NOTSPACE:[[tmp][repository]]}-%{POSINT:[[tmp][build]]}-%{NOTSPACE:[[tmp][ansible_node]]}-%{NOTSPACE:[[tmp][server]]}-%{NOTSPACE:[[tmp][rem_filename]]}",
      "%{GREEDYDATA:[[tmp][path]]}/%{WORD:[[tmp][app]]}-CNetOps-Dev-%{NOTSPACE:[[tmp][repository]]}-%{POSINT:[[tmp][build]]}-%{NOTSPACE:[[tmp][ansible_node]]}-%{NOTSPACE:[[tmp][server]]}-%{NOTSPACE:[[tmp][rem_filename]]}"),
      Seq("_grokparsefailure"))
    Grok(ev, "[tmp][full_filename]",
      Seq("%{GREEDYDATA}/%{GREEDYDATA:[[file][name]]}"), Seq("_grokparsefailure"))
    ev.rename("[tmp][path]", "[file][directory]")
    ev.rename("[tmp][repository]", "[package][name]")
    ev.rename("[tmp][build]", "[package][version]")
    ev.rename("[tmp][ansible_node]", "[event][provider]")
    ev.rename("[tmp][rem_filename]", "[file][group]")
    if ("[log][file][path]".contains("CNetOps-Dev")) // quoted-literal bug, verbatim
      Mutate.addField(ev, "[package][build_version]", "CNetOps-Dev")
    else
      Mutate.addField(ev, "[package][build_version]", "CNetOps")
    ev.remove("tmp")
  }

  // -------------------------------- mcas / redhat / trendmicro forwarder
  /** ref api_security_azure.mcas_alerts.conf. Mirrored bug: the date block
    * probes [event][created], but the timestamp was renamed to
    * [event][start] — UNIX_MS never runs, the raw epoch string sits in
    * start until the coercion pass removes it (start_ms null). */
  def azureMcas(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "azure")
    ev.set("[log][source][hostname]", "api_azure_mcas")
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.mcas")
    if (!JsonOps.parse(ev, "message", "az")) {
      ev.addTag("_json_failure_azure_mcas")
      ev.set("[agent][parse_rule]", "not parsed")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[az][contextId]", "[event][id]")
    ev.rename("[az][description]", "[event][description]")
    ev.rename("[az][severityValue]", "[event][severity]")
    ev.rename("[az][threatScore]", "[event][risk_score]")
    ev.rename("[az][timestamp]", "[event][start]")
    ev.rename("[az][title]", "[event][category]")
    ev.rename("[az][URL]", "[event][url]")
    ev.rename("[az][user.name]", "[user][name]")
    ev.rename("[az][user.email]", "[user][email]")
    ev.rename("[az][event.reason]", "[event][reason]")
    ev.rename("[az][event.action]", "[event][action]")
    ev.rename("[az][server.ip]", "[server][ip]")
    ev.rename("[az][client.geo.country_iso_code]", "[client][geo][country_iso_code]")
    ev.remove("az")
    Dates(ev, "[event][created]", Seq("UNIX_MS"), "[event][created_ms]",
      timezone = "UTC", tagOnFailure = Seq("_dateparsefailure_ec")) // dead: never set
  }

  /** ref syslog_audit_linux.redhat.conf. The kv keys are the sudo
    * UPPERCASE PWD/USER/COMMAND, but the renames probe lowercase
    * [linux][pwd]/[linux][user]/[linux][command] — all three are dead (and
    * the user `update` would only write a literal anyway). The dissected
    * [agent][name] overwrites the input normalization. */
  def redhatSyslog(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "redhat")
    ev.set("[event][dataset]", "redhat.syslog")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Dissect(ev, "actual_msg",
      "%{[[event][created]]} %{+[[event][created]]} %{+[[event][created]]} %{[[agent][name]]} %{[[process][parent][name]]}: %{[[user][name]]}@%{[[host][user][domain]]} : %{rest_message}")
    Kv.withPattern(ev, "rest_message", "[ ;]", '=', target = "linux")
    ev.rename("[linux][pwd]", "[process][working_directory]") // dead: key is PWD
    if (ev.has("[linux][user]")) Mutate.replace(ev, "[linux][user]", "[user][name]")
    ev.rename("[linux][command]", "[process][name]") // dead: key is COMMAND
    ev.rename("[host][name]", "[log][source][hostname]")
    Seq("data", "rest_message", "linux", "host", "actual_msg").foreach(ev.remove(_))
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"),
      "[event][created_ms]", timezone = "UTC", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear))
      ev.remove("[event][created]")
    else ev.remove("[event][created]")
  }

  /** ref syslog_virtustream_trendmicro_forwarder.conf — json envelope
    * around a CEF-ish syslog line, pipe dissect + space kv. */
  def trendmicroFwd(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "virtustream")
    ev.set("[event][dataset]", "virtustream.trendmicro")
    if (!JsonOps.parse(ev, "message", "tmp_msg")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    Dissect(ev, "[tmp_msg][message]",
      "<%{?data}>%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[host][hostname]]} %{?data}|%{[[event][provider]]}|%{?data}|%{[[rule][version]]}|%{?data}|%{[[event][type]]}|%{[[event][severity]]}|%{rest_msg}")
    Kv(ev, "rest_msg", ' ', '=', target = "tmp")
    ev.rename("[tmp][src]", "[source][ip]")
    ev.rename("[tmp][dst]", "[destination][ip]")
    ev.rename("[tmp][spt]", "[source][port]")
    ev.rename("[tmp][dpt]", "[destination][port]")
    ev.rename("[tmp][smac]", "[source][mac]")
    ev.rename("[tmp][dmac]", "[destination][mac]")
    ev.rename("[tmp][proto]", "[network][transport]")
    ev.rename("[tmp][cn1]", "[host][id]")
    ev.rename("[tmp][in]", "[source][bytes]")
    ev.rename("[tmp][act]", "[event][action]")
    ev.rename("[tmp][dvchost]", "[observer][hostname]")
    ev.rename("[tmp][TrendMicroDsFrameType]", "[observer][egress][zone]")
    if (ev.has("[host][hostname]")) ev.copyField("[host][hostname]", "[log][source][hostname]")
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"),
      "[event][created_ms]", timezone = "UTC", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear))
      ev.remove("[event][created]")
    else ev.remove("[event][created]")
    Seq("rest_msg", "tmp", "tmp_msg").foreach(ev.remove(_))
  }

  // --------------------------------------------- rsa.auth + gitguardian
  /** ref syslog_audit_rsa.auth.conf. Mirrored bugs: the translate keys the
    * NUMERIC pri against ERRR/INFO/... strings, so the fallback "Others"
    * always wins; the date's Joda "yyyy-mm-dd" parses the month digits as
    * MINUTES — the pattern only succeeds on rows whose month equals the
    * timestamp's minute, and then resolves into January; the dissect
    * captures [source][ip] twice (the second wins). */
  def rsaAuth(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "rsa")
    ev.set("[event][dataset]", "rsa.auth")
    Mutate.strip(ev, "message")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev, removeField = false) // conf keeps pri
    Dissect(ev, "actual_msg",
      "%{[[event][start]]->} %{+[[event][start]]},%{?data},%{?data},%{?data},%{?data},%{?data},%{?data},%{[[source][ip]]},%{[[destination][ip]]},%{[[rule][ruleset]]},%{?data},%{?data},%{[[rule][description]]},%{?data},%{?data},%{?data},%{?data},%{[[user][id]]},%{?data},%{?data},%{?data},%{[[source][ip]]},%{[[source][address]]},%{?data}")
    if (Dates(ev, "[event][start]",
      Seq("yyyy-mm-dd HH:mm:ss", "yyyy-mm-dd HH:mm:ss.SSS", "MMM dd HH:mm:ss"),
      "[event][start_ms]", timezone = "UTC", locale = "en",
      defaultYear = ctx.tsYear)) ev.remove("[event][start]")
    ev.getString("pri").foreach { p => // absent source: translate no-ops
      ev.set("[rule][category]", Map(
        "ERRR" -> "Security/Failed Activity", "INFO" -> "Security/Activity",
        "NOTE" -> "Security/Activity", "WARN" -> "Security/Warning")
        .getOrElse(p, "Others")) // numeric pri never matches — fallback always
    }
    ev.remove("actual_msg"); ev.remove("pri")
  }

  /** ref vuln_gitguardian_internal.conf — secret_hash lands directly on
    * [related][hash] (a scalar the related-hash collector keeps); the
    * undated resolved_at string is swept by the coercion pass. */
  def gitguardian(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "gitguardian")
    ev.set("[event][dataset]", "vuln.gitguardian_api")
    ev.set("[log][source][hostname]", "vuln_gitguardian")
    ev.rename("[tmp][date]", "[event][created]")
    ev.rename("[tmp][gitguardian_url]", "[event][reference]")
    ev.rename("[tmp][id]", "[event][id]")
    ev.rename("[tmp][tags]", "[tags]")
    ev.rename("[tmp][regression]", "[vulnerability][regression]")
    ev.rename("[tmp][resolved_at]", "[event][end]")
    ev.rename("[tmp][secret_hash]", "[related][hash]")
    ev.rename("[tmp][status]", "[vulnerability][status]")
    ev.rename("[tmp][validity]", "[vulnerability][exploitable]")
    ev.rename("[tmp][severity]", "[vulnerability][severity]")
    ev.rename("[tmp][detect_group_name]", "[rule][ruleset]")
    ev.rename("[tmp][repository_url]", "[repository][name]")
    ev.rename("[tmp][matched_on]", "[rule][name]")
    ev.rename("[tmp][commit_author]", "[user][email]")
    ev.rename("[tmp][file_path]", "[file][path]")
    ev.rename("[tmp][full_name]", "[network][application]")
    ev.rename("[tmp][visibility]", "[repository][visibility]")
    Seq("[tmp][assignee_email]", "[tmp][ignore_reason]", "[tmp][ignored_at]",
      "[tmp][occurrences_count]", "[tmp][secret_revoked]", "[tmp][share_url]")
      .foreach(ev.remove(_))
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "UTC", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    ev.remove("tmp")
  }

  // ------------------------------------------- ghe / oci / cloudflare
  /** ref api_audit_aws.ghe.conf. Its date formats are "MMM dd HH:mm:ss"
    * and "MMM  dd HH:mm:ss" — NO single-digit-day form, so days 1-9 fail
    * both, get the failure tag, and created falls to the 03 default. */
  def awsGhe(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "github")
    ev.set("[event][dataset]", "github.audit")
    ev.rename("[tmp][client_port]", "[client][port]")
    ev.rename("[tmp][bytes_read]", "[http][request][bytes]")
    ev.rename("[tmp][http_request]", "[url][query]")
    ev.rename("[tmp][http_version]", "[http][version]")
    ev.rename("[tmp][client_ip]", "[client][ip]")
    ev.rename("[tmp][http_status_code]", "[http][response][status_code]")
    ev.rename("[tmp][http_verb]", "[http][request][method]")
    ev.rename("[tmp][ident]", "[service][name]")
    ev.rename("[tmp][timestamp]", "[event][created]")
    ev.rename("[tmp][host]", "[log][source][hostname]")
    ev.rename("[tmp][pid]", "[process][pid]")
    ev.rename("[tmp][message]", "[rule][description]")
    ev.remove("tmp")
    if (ev.has("[event][created]")) {
      if (!Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss", "MMM  dd HH:mm:ss"),
        "[event][created_ms]", timezone = "UTC", locale = "en",
        tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear)
        && ev.hasTag("_dateparsefailure_ec")) ()
      ev.remove("[event][created]")
    }
  }

  /** ref api_audit_oci.audit.conf — the hostname add_field sprintf runs
    * AFTER the renames inside its mutate block (Logstash decorate order),
    * and resourceId is never renamed, so it resolves. */
  def ociAudit(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "aud")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[cloud][provider]", "oci")
    ev.set("[event][module]", "oci")
    ev.set("[event][dataset]", "oci.audit")
    ev.rename("[aud][data][eventName]", "[event][category]")
    ev.rename("[aud][data][type]", "[event][type]")
    ev.rename("[aud][data][id]", "[event][id]")
    ev.rename("[aud][data][time]", "[event][start]")
    ev.rename("[aud][data][identity][ipAddress]", "[source][ip]")
    ev.rename("[aud][data][identity][principalName]", "[user][name]")
    ev.rename("[aud][data][identity][userAgent]", "[user_agent][original]")
    ev.rename("[aud][data][request][action]", "[http][request][method]")
    ev.rename("[aud][data][request][id]", "[http][request][id]")
    ev.rename("[aud][data][request][path]", "[url][path]")
    ev.rename("[aud][data][response][message]", "[http][response][body][content]")
    ev.rename("[aud][data][response][status]", "[http][response][status_code]")
    Mutate.addField(ev, "[log][source][hostname]", "%{[aud][data][resourceId]}")
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    ev.remove("aud")
  }

  /** ref api_security_aws.cloudflare.conf — the Action rename target is
    * the malformed "[event]action]"; interpreted as the [event][action]
    * typo (the plausible production reading), kept cited. */
  def awsCloudflare(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "aws")
    ev.set("[event][dataset]", "aws.cloudflare")
    ev.set("[log][source][hostname]", "api_aws_cloudflare")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[tmp][Action]", "[event][action]") // conf: "[event]action]"
    ev.rename("[tmp][ClientRequestPath]", "[event][code]")
    ev.rename("[tmp][ClientRequestHost]", "[url][domain]")
    ev.rename("[tmp][EdgeResponseBytes]", "[http][response][bytes]")
    ev.rename("[tmp][ClientRequestMethod]", "[http][request][method]")
    ev.rename("[tmp][EdgeResponseStatus]", "[http][response][status_code]")
    ev.rename("[tmp][ClientRequestQuery]", "[http][request][body][content]")
    ev.rename("[tmp][ClientIP]", "[client][ip]")
    ev.rename("[tmp][ClientRequestURI]", "[url][path]")
    ev.rename("[tmp][RayID]", "[rule][id]")
    ev.rename("[tmp][DateTime]", "[event][created]")
    ev.copyField("message", "[event][original]")
    if (Dates(ev, "[event][created]", Seq("UNIX_MS"), "[event][created_ms]",
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    ev.remove("tmp")
  }

  // ---------------------------------------------- nist hashes + sysdig
  /** ref api_sqlite_known_good_hash_nist.conf — the known-good hash feed;
    * the three hash renames feed 14_related_hash downstream. */
  def nistHash(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "known_good_file_hash")
    ev.set("[event][dataset]", "known_good_file_hash.nist")
    ev.set("[log][source][hostname]", "api_sqlite_hash.nist")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[tmp][sha256]", "[file][hash][sha256]")
    ev.rename("[tmp][sha1]", "[file][hash][sha1]")
    ev.rename("[tmp][md5]", "[file][hash][md5]")
    ev.rename("[tmp][crc32]", "[file][gid]")
    ev.rename("[tmp][file_name]", "[file][name]")
    ev.rename("[tmp][file_size]", "[file][size]")
    ev.rename("[tmp][package_id]", "[file][uid]")
    ev.remove("tmp")
  }

  /** ref vuln_sysdig_scanning.conf. */
  def sysdigScan(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "sysdig")
    ev.set("[event][dataset]", "sysdig.scan.api")
    ev.set("[log][source][hostname]", "vuln_sysdig_scanning")
    ev.rename("[tmp][application_name]", "[network][application]")
    ev.rename("[tmp][team]", "[team][name]")
    ev.rename("[tmp][environment]", "[tags]") // root 'tags' field, not engine tags
    ev.rename("[tmp][cloud_platform_external]", "[network][dmz]")
    ev.rename("[tmp][image]", "[file][name]")
    ev.rename("[tmp][github_repository]", "[repository][name]")
    ev.rename("[tmp][build_author]", "[user][email]")
    ev.rename("[tmp][build_date]", "[event][created]")
    ev.rename("[tmp][team_distribution_list]", "[team][email]")
    ev.rename("[tmp][team_escalation_contact]", "[escalation][contact]")
    ev.rename("[tmp][vuln_id]", "[vulnerability][id]")
    ev.rename("[tmp][vuln_severity]", "[vulnerability][severity]")
    ev.rename("[tmp][vuln_exception]", "[vulnerability][exception]")
    ev.rename("[tmp][dns_records]", "[url][full]")
    ev.remove("[tmp][build_link]")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss Z 'UTC'"),
      "[event][created_ms]", timezone = "UTC", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
  }

  // ------------------------------------------------ syncplicity + scorecard
  /** ref api_audit_syncplicity.adm_report.conf — its csv has NO columns
    * list (the remove_field still names long-gone fields), so values land
    * in the default column1..N slots and nothing visible survives. */
  def syncplicityAdmin(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "syncplicity")
    ev.set("[log][source][hostname]", "api_syncplicity_adm_log")
    ev.set("[event][module]", "syncplicity")
    ev.set("[event][dataset]", "syncplicity.admin_logs")
    Csv(ev, "message", Vector.empty, skipEmptyColumns = true)
    Seq("msg", "drop_user_type", "drop_unknown", "drop_unknown_2",
      "drop_field_time_field", "drop_unknown_3").foreach(ev.remove(_))
    if (Dates(ev, "[event][created]",
      Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm:ss.SSS",
        "MMM dd HH:mm:ss.SSS", "MMM dd HH:mm:ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      defaultYear = ctx.tsYear)) ev.remove("[event][created]")
  }

  private val syncplicityUserCols = Vector(
    "[file][directory]", "[event][id]", "[source][user][name]",
    "[source][user][email]", "[group][name]", "[file][path]", "[file][type]",
    "[file][name]", "[event][action]", "[rule][category]", "[rule][ruleset]",
    "drop_field", "[event][start]", "[user][full_name]", "[user][email]",
    "[host][hostname]", "[source][ip]", "drop_field_2",
    "[client][user][email]", "drop_field_3", "drop_field_4", "drop_field_5",
    "drop_field_9", "[rule][name]", "[file][group]",
    "[destination][user][name]", "[destination][user][email]",
    "drop_field_6", "drop_field_7", "drop_field_8", "[event][duration]",
    "[event][end]")

  /** ref api_audit_syncplicity.usr_report.conf — 32-column csv; the
    * [event][end] column has no date block, so 02's unparsed-date pass
    * removes it. */
  def syncplicityUser(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[cloud][provider]", "syncplicity")
    ev.set("[log][source][hostname]", "api_syncplicity")
    ev.set("[event][module]", "syncplicity")
    ev.set("[event][dataset]", "syncplicity.user_logs")
    Csv(ev, "message", syncplicityUserCols, skipEmptyColumns = true)
    Mutate.convert(ev, "[event][duration]", "integer")
    Seq("msg", "drop_field", "drop_field_2", "drop_field_3", "drop_field_4",
      "drop_field_5", "drop_field_6", "drop_field_7", "drop_field_8",
      "drop_field_9").foreach(ev.remove(_))
    if (Dates(ev, "[event][start]",
      Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm:ss.SSS",
        "MMM dd HH:mm:ss.SSS", "MMM dd HH:mm:ss", "dd-MM-yyyy HH:mm"),
      "[event][start_ms]", timezone = "GMT", locale = "en",
      defaultYear = ctx.tsYear)) ev.remove("[event][start]")
    if (ev.has("[host][hostname]")) ev.copyField("[host][hostname]", "[host][name]")
  }

  /** ref api_security_scorecard.affiliate_company_scores.conf. */
  def scorecard(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "security_scorecard")
    ev.set("[event][dataset]", "security_scorecard.company_scores")
    ev.set("[log][source][hostname]", "scorecard_events_company_scores")
    if (!JsonOps.parse(ev, "message", "ss")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[ss][domain]", "[client][domain]")
    ev.rename("[ss][name]", "[client][as][organization][name]")
    ev.rename("[ss][score]", "[event][severity]")
    ev.rename("[ss][grade]", "[event][outcome]")
    ev.rename("[ss][last30days_score_change]", "[event][sequence]")
    ev.rename("[ss][industry]", "[event][provider]")
    ev.rename("[ss][size]", "[rule][category]")
    ev.rename("[ss][event.dataset]", "[event][kind]")
    ev.remove("ss")
  }

  // -------------------------------------------------- beats-agent techs
  /** tanium.agent / rundeck.agent / hadoop.agent / elasticsearch.audit —
    * one beats-field shape (ref: log_tanium.conf, log_rundeck.conf,
    * log_hadoop.conf, log_elasticsearch.conf); the envelope is delivered by
    * the json input codec. Mirrored quirks: tanium/rundeck `update` message
    * to the LITERAL string "[event][original]" (no sprintf), hadoop uses
    * the sprintf form whose ref is absent (the %{...} literal survives 94's
    * bracketless scrub), and hadoop RENAMES beat.hostname into
    * log.source.hostname first, so its later host.hostname rename no-ops. */
  def beatsAgent(module: String, dataset: String, mode: Int)
                (ev: Event, ctx: ParseCtx): Unit = {
    // mode 0 = tanium/rundeck, 1 = hadoop, 2 = elasticsearch.audit,
    // 3 = kafka.error (copy hostname + sprintf update, ref kafka_error.conf)
    val hadoopUser = mode == 1
    ev.set("[event][module]", module)
    ev.set("[event][dataset]", dataset)
    if (mode == 1) ev.rename("[beat][hostname]", "[log][source][hostname]")
    else ev.copyField("[beat][hostname]", "[log][source][hostname]")
    if (mode == 0 && ev.has("message")) ev.set("message", "[event][original]")
    if ((mode == 1 || mode == 3) && ev.has("message"))
      Mutate.replace(ev, "message", "%{[event][original]}")
    ev.rename("@timestamp", "[event][created]")
    ev.rename("[input][type]", "[file][type]")
    ev.rename("program", "[event][kind]")
    ev.rename("source", "[file][path]")
    ev.rename("destination", "[file][target_path]")
    ev.rename("severity", "[event][severity_name]")
    ev.rename("[beat][name]", "[agent][name]")
    ev.rename("[beat][hostname]", "[host][hostname]")
    ev.rename("[beat][version]", "[agent][version]")
    ev.rename("service", "[service][name]")
    ev.rename("thread", "[process][thread][id]")
    ev.rename("role", "[user][roles]")
    ev.rename("[fields][environment]", "[group][name]")
    if (hadoopUser) ev.rename("[user]", "[user][name]")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "UTC", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (mode == 3)
      Seq("program", "topic_name", "hadoop_hdfs_audit", "input", "destination",
        "fields").foreach(ev.remove(_))
    else
      Seq("beat", "input", "topic_name", "offset", "@version", "fields",
        "prospector", "level").foreach(ev.remove(_))
    if (mode != 2) ev.remove("[event][original]") // es keeps it in its list
  }

  // ------------------------------------------- header-only syslog techs
  /** The header+syslog_pri-only processors (ref:
    * syslog_security_cisco.meraki.wap.conf, syslog_audit_meraki.router.conf,
    * syslog_security_cisco.satellite.conf,
    * syslog_audit_cisco.wireless.bridge.conf): no parse rule is ever set,
    * so parse_rule stays "not parsed" while parse_ok remains true. */
  def headerOnly(module: String, dataset: String, strip: Boolean)
                (ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", module)
    ev.set("[event][dataset]", dataset)
    if (strip) Mutate.strip(ev, "message")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    ev.remove("actual_msg")
  }

  /** ref syslog_source_unidentified.conf — a pure labeler. */
  def unidentified(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "unidentified")
    ev.set("[event][dataset]", "unidentified")
    ev.remove("agent.name"); ev.remove("[agent][name]")
    if (ev.has("[log][source][ip]") && !ev.has("[log][source][hostname]"))
      ev.copyField("[log][source][ip]", "[log][source][hostname]")
  }

  /** ref syslog_audit_cisco.prime.conf — header + trimmed-key kv. */
  def ciscoPrime(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco")
    ev.set("[event][dataset]", "cisco.prime")
    ev.set("[agent][rule]", "logstash")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Kv(ev, "actual_msg", ',', ':', target = "ciscopr", trimKey = " ")
    ev.rename("[ciscopr][Category]", "[event][category]")
    ev.rename("[ciscopr][Type]", "[event][type]")
    ev.rename("[ciscopr][User Name]", "[user][name]")
    ev.rename("[ciscopr][Client IP Address]", "[client][ip]")
    ev.rename("[ciscopr][Change Audit Details]", "[event][outcome]")
    ev.remove("ciscopr"); ev.remove("data"); ev.remove("actual_msg")
  }

  /** ref flat_file_audit_riverbed.amauth.conf — gsub'd copy + pad dissect
    * (incl. the `%{+?data}` append-to-skip oddity, which lands on an
    * unaddressable top-level '?data' key, as in Logstash). */
  def riverbedAmauth(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco")
    ev.set("[event][dataset]", "cisco.riverbed.amauth")
    ev.rename("[host][name]", "[log][source][hostname]")
    ev.copyField("message", "tmp")
    Mutate.gsub(ev, "tmp", "[\"]", "")
    Mutate.gsub(ev, "tmp", "[\\t]", " ")
    Dissect(ev, "tmp",
      "%{?data->} %{+?data} %{[[event][action]]->} %{+[[event][action]]} %{[[user][name]]} %{?data}")
    ev.remove("tmp") // the '?data' key lingers, invisible — as in Logstash
  }

  // --------------------------------------------- securityonion.suricata
  /** ref syslog_securityonion_securityonion.suricata.conf. The
    * [host][name] → log.source.hostname copy is a no-op on this input
    * (no beats host envelope) — mirrored. */
  def suricata(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "securityonion")
    ev.set("[event][dataset]", "securityonion.suricata")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    if (ev.has("[host][name]")) ev.copyField("[host][name]", "[log][source][hostname]")
    ev.rename("[tmp][timestamp]", "[event][created]")
    ev.rename("[tmp][event_type]", "[event][type]")
    ev.rename("[tmp][src_ip]", "[source][ip]")
    ev.rename("[tmp][dest_ip]", "[destination][ip]")
    ev.rename("[tmp][src_port]", "[source][port]")
    ev.rename("[tmp][dest_port]", "[destination][port]")
    ev.rename("[tmp][proto]", "[network][protocol]")
    ev.rename("[tmp][alert][action]", "[event][action]")
    ev.rename("[tmp][alert][category]", "[event][category]")
    ev.rename("[tmp][alert][severity]", "[event][severity]")
    ev.rename("[tmp][alert][rule]", "[rule][description]")
    ev.rename("[tmp][flow_id]", "[event][id]")
    ev.rename("[tmp][in_iface]", "[observer][ingress][interface][id]")
    ev.rename("[tmp][community_id]", "[rule][uuid]")
    ev.rename("[tmp][alert][signature_id]", "[rule][id]")
    ev.rename("[tmp][alert][signature]", "[rule][name]")
    ev.rename("[tmp][alert][metadata][cve]", "[vulnerability][id]")
    ev.rename("[tmp][alert][rev]", "[rule][version]")
    ev.rename("[tmp][app_proto]", "[event][outcome]")
    ev.remove("tmp")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
  }

  // ------------------------------------------------------ apache.access
  /** ref flat_file_audit_apache.access.conf. RULE 2 captures the stamp
    * into `date_time`, which nothing parses — created falls back to the
    * enrichment-03 default; RULE 2's [log][date] date block is fully dead
    * (the field is only captured by RULE 1). Both mirrored. */
  def apacheAccess(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "apache")
    ev.set("[event][dataset]", "apache.access")
    Mutate.strip(ev, "message")
    Mutate.gsub(ev, "message", "[\"]", "")
    val msg = ev.getString("message").getOrElse("")
    if (msg.contains("{name=")) {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 1")
      Dissect(ev, "message",
        "%{[[log][date]]} {%{?data}} %{[[source][ip]]} - - [%{[[event][created]]}] %{[[http][request][method]]} %{[[url][path]]} HTTP/%{[[http][version]]} %{[[http][response][status_code]]} %{[[http][response][bytes]]} %{?some_value}")
    } else {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 2")
      Dissect(ev, "message",
        "%{[[source][ip]]} - - [%{date_time}] %{[[http][request][method]]} %{[[url][path]]} HTTP/%{[[http][version]]} %{[[http][response][status_code]]} %{[[http][response][bytes]]} %{?some_value}")
      Dates(ev, "[log][date]", Seq("ISO8601"), "[log][date_ms]",
        timezone = "GMT", locale = "en") // dead: [log][date] never set here
    }
    if (Dates(ev, "[event][created]", Seq("dd/MMM/yyyy:HH:mm:ss Z"),
      "[event][created_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][created]")
    Mutate.convert(ev, "[http][response][status_code]", "integer")
    val code = ev.valueOrNull("[http][response][status_code]") match {
      case l: Long => l
      case _ => -1L
    }
    if (code >= 400) {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 3")
      Mutate.addField(ev, "[rule][category]", "Ops/Error")
    } else {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 4")
      Mutate.addField(ev, "[rule][category]", "Ops/Information")
    }
    ev.remove("date_time"); ev.remove("[log][date]")
  }

  // ------------------------------------------- azure.eventhub.o365_dlp
  /** ref event_hub_audit_o365.dlp.conf. [event][module] is add_field'ed
    * TWICE ("azure" then "microsoft o365 dlp logs") — the second promotes
    * it to an ARRAY, which flattens to NULL (mirrored). The end/modified
    * date-failure removals probe the _es tag (reference copy-paste). */
  def o365Dlp(ev: Event, ctx: ParseCtx): Unit = {
    Mutate.addField(ev, "[event][module]", "azure")
    ev.set("[event][dataset]", "azure.eventhub.o365_dlp")
    ev.set("[kafka][topic]", "api_azure.eventhub.o365_dlp")
    ev.set("[agent][name]", "azure.eventhub")
    ev.set("[log][source][hostname]", "api_azure_eventhub_o365_dlp")
    if (!JsonOps.parse(ev, "message", "az")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.addField(ev, "[event][module]", "microsoft o365 dlp logs") // → array → null column
    ev.rename("[az][category]", "[rule][category]")
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
    ev.remove("az")
    Seq(("[event][created]", "_dateparsefailure_ec"), ("[event][start]", "_dateparsefailure_es"),
      ("[event][end]", "_dateparsefailure_ee"), ("[event][modified]", "_dateparsefailure_em"))
      .foreach { case (f, tag) =>
        if (Dates(ev, f, Seq("ISO8601"), f.dropRight(1) + "_ms]",
          timezone = "GMT", tagOnFailure = Seq(tag))) ev.remove(f)
      }
  }

  // ----------------------------------- azure.eventhub.o365.msg_tracking
  /** ref event_hub_audit_o365.msg.trkg_eventhub.conf — incl. the dead
    * `"size:"` flat-key rename. */
  def o365MsgTracking(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.eventhub.o365.msg_tracking")
    ev.set("[kafka][topic]", "api_azure.eventhub.o365.msg_tracking")
    ev.set("[agent][name]", "azure.eventhub")
    ev.set("[log][source][hostname]", "api_azure_eventhub_o365_msg_tracking")
    if (!JsonOps.parse(ev, "message", "msg")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[msg][PSComputerName]", "[observer][hostname]")
    ev.rename("[msg][MessageId]", "[event][id]")
    ev.rename("[msg][SenderAddress]", "[source][user][email]")
    ev.rename("[msg][RecipientAddress]", "[destination][user][email]")
    ev.rename("[msg][Subject]", "[email][subject]")
    ev.rename("[msg][Status]", "[event][action]")
    ev.rename("[msg][ToIP]", "[destination][ip]")
    ev.rename("[msg][FromIP]", "[source][ip]")
    ev.rename("[msg][Size]", "[source][bytes]")
    ev.rename("[msg][Organization]", "[organization][name]")
    ev.rename("size:", "[source][bytes]") // dead flat key, kept verbatim
    if (ev.has("[msg][EndDate]")) {
      ev.copyField("[msg][EndDate]", "[event][end]")
      if (Dates(ev, "[event][end]", Seq("yyyy-MM-dd'T'HH:mm:ss", "ISO8601"),
        "[event][end_ms]", timezone = "UTC")) ev.remove("[event][end]")
    }
    if (ev.has("[msg][StartDate]")) {
      ev.copyField("[msg][StartDate]", "[event][start]")
      if (Dates(ev, "[event][start]", Seq("yyyy-MM-dd'T'HH:mm:ss", "ISO8601"),
        "[event][start_ms]", timezone = "UTC")) ev.remove("[event][start]")
    }
    if (ev.has("[msg][Received]")) {
      ev.copyField("[msg][Received]", "[event][created]")
      if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss", "ISO8601"),
        "[event][created_ms]", timezone = "UTC")) ev.remove("[event][created]")
    }
    ev.remove("msg")
  }

  // ------------------------------------------------------- azure.fwflow
  /** ref event_hub_azure.fw_dns_ids_proxy_flow.conf — one hub whose
    * per-row event.dataset comes from the kind→dataset translate
    * (fallback azure.fw_metrics). Quirks mirrored: the
    * IsExplicitProxyRequest rename targets the literal `false`, and the
    * old-style NetworkRule grok's lazy `(?<proto>.*?)\w+ ` binds the
    * protocol group to the EMPTY string (94 then scrubs it to null). */
  private val fwDatasetDict = Map(
    "AzureFirewallDnsProxy" -> "azure.dns", "AZFWDnsQuery" -> "azure.dns",
    "AzureFirewallNetworkRule" -> "azure.fw", "AzureFirewallApplicationRule" -> "azure.fw",
    "AZFWNetworkRule" -> "azure.fw", "AZFWIdpsSignature" -> "azure.ids",
    "AZFWApplicationRule" -> "azure.proxy", "AZFWFlowTrace" -> "azure.flow")

  def azureFwFlow(ev: Event, ctx: ParseCtx): Unit = {
    Seq("event", "host", "log", "user").foreach(ev.remove(_))
    ev.set("[event][module]", "azure")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[tmp][resourceId]", "[log][source][hostname]")
    ev.rename("[tmp][time]", "[event][created]")
    ev.rename("[tmp][category]", "[event][kind]")
    ev.rename("[tmp][properties][msg]", "[error][message]")
    ev.rename("[tmp][properties][QueryClass]", "[dns][question][class]")
    ev.rename("[tmp][properties][ErrorMessage]", "[error][message]")
    ev.rename("[tmp][properties][Protocol]", "[network][transport]")
    ev.rename("[tmp][properties][QueryId]", "[dns][id]")
    ev.rename("[tmp][properties][QueryName]", "[dns][question][name]")
    ev.rename("[tmp][properties][QueryType]", "[dns][question][type]")
    ev.rename("[tmp][properties][ResponseCode]", "[dns][response_code]")
    ev.rename("[tmp][properties][ResponseFlags]", "[dns][header_flags]")
    ev.rename("[tmp][properties][SourceIp]", "[source][ip]")
    ev.rename("[tmp][properties][SourcePort]", "[source][port]")
    ev.rename("[tmp][properties][Description]", "[rule][description]")
    ev.rename("[tmp][properties][Action]", "[event][action]")
    ev.rename("[tmp][properties][DestinationIp]", "[destination][ip]")
    ev.rename("[tmp][properties][DestinationPort]", "[destination][port]")
    ev.rename("[tmp][properties][Category]", "[rule][category]")
    ev.rename("[tmp][properties][Severity]", "[event][severity]")
    ev.rename("[tmp][properties][SignatureId]", "[rule][id]")
    ev.rename("[tmp][properties][RuleCollectionGroup]", "[rule][description]")
    ev.rename("[tmp][properties][Policy]", "[rule][category]")
    ev.rename("[tmp][properties][IsTlsInspected]", "[tls][established]")
    ev.rename("[tmp][properties][TargetUrl]", "[url][registered_domain]")
    ev.rename("[tmp][properties][RuleCollection]", "[rule][ruleset]")
    ev.rename("[tmp][properties][Rule]", "[rule][name]")
    ev.rename("[tmp][properties][IsExplicitProxyRequest]", "false") // literal target, verbatim
    ev.rename("[tmp][properties][WebCategory]", "[event][category]")
    ev.rename("[tmp][properties][ActionReason]", "[event][reason]")
    ev.rename("[tmp][properties][Fqdn]", "[url][full]")
    val kind = ev.getString("[event][kind]").getOrElse("")
    if (kind == "AzureFirewallDnsProxy") {
      Grok(ev, "[error][message]", Seq(
        "DNS Request: (?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+):(?<[source][port]>\\d+) .*? (?<[dns][id]>\\d+) (?<[dns][question][type]>\\w+) (?<[dns][question][class]>\\w+) (?<[dns][question][name]>.*?)\\. (?<[network][transport]>\\w+) \\d+ \\w+ \\d+ (?<[dns][response_code]>\\w+) (?<[dns][header_flags]>(\\w+,)+\\w+) \\d+"),
        Seq("_grokparsefailure"))
    }
    if (kind == "AzureFirewallNetworkRule" || kind == "AzureFirewallApplicationRule") {
      Grok(ev, "[error][message]", Seq(
        "^(?<[network][protocol]>.*?)\\w+ .*?from (?<[source][ip]>\\d+.\\d+.\\d+.\\d+):(?<[source][port]>\\d+) to ((?<[destination][ip]>\\d+.\\d+.\\d+.\\d+)|(?<[destination][address]>.*?)):(?<[destination][port]>\\d+).*?Action: (?<[event][action]>\\w+).*?\\.+ (Policy: ((?<[rule][category]>.*?) Rule Collection Group: (?<[rule][ruleset]>.*?) Rule Collection: (?<[observer][name]>.*?) Rule: (?<[rule][name]>.*?))|((?<[rule][name]>.*?)))$"),
        Seq("_grokparsefailure"))
    }
    ev.set("[event][dataset]",
      fwDatasetDict.getOrElse(kind, "azure.fw_metrics"))
    Dates(ev, "[event][created]",
      Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSSS'Z'", "yyyy-MM-dd't'HH:mm:ss.SSSSSSS'z'"),
      "[event][created_ms]", timezone = "UTC", tagOnFailure = Seq("_dateparsefailure_ec"))
    ev.remove("[event][created]")
    ev.remove("tmp")
  }

  // ------------------------------------------------- proofpoint.pod
  /** ref api_security_proofpoint.pod_email_gateway.conf. msgParts ruby
    * collects LISTS onto scalar ECS fields (null columns); rcpts arrays
    * merged with cc/to arrays; bracketed connection hosts stripped. */
  def proofpointPod(ev: Event, ctx: ParseCtx): Unit = {
    ev.copyField("message", "tmp_msg")
    ev.set("[cloud][provider]", "proofpoint")
    ev.set("[event][module]", "proofpoint")
    ev.set("[event][dataset]", "proofpoint.pod")
    ev.set("[log][source][hostname]", "api_proofpoint_pod")
    Mutate.gsub(ev, "tmp_msg", "\\\\\\\\\\\"", "\\\"")
    Mutate.gsub(ev, "tmp_msg", "colmodel\\[(\\d+)\\]", "colmodel$1")
    Mutate.gsub(ev, "tmp_msg", "attrib:ads\\[(\\d+)\\]", "attrib:ads$1")
    if (!JsonOps.parse(ev, "tmp_msg", "pp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[pp][msg][parsedAddresses][from]", "[source][user][email]")
    ev.rename("[pp][envelope][rcpts]", "[destination][user][email]")
    ev.get("[pp][msg][parsedAddresses][cc]").foreach(v =>
      ev.mergeInto("[destination][user][email]", Event.deepCopy(v)))
    ev.rename("[pp][msg][normalizedHeader][subject]", "[email][subject]")
    ev.rename("[pp][ts]", "[event][created]")
    ev.rename("[pp][guid]", "[rule][uuid]")
    ev.rename("[pp][pps][cid]", "[observer][name]")
    ev.rename("[pp][pps][agent]", "[observer][hostname]")
    ev.rename("[pp][pps][version]", "[observer][version]")
    ev.rename("[pp][filter][disposition]", "[event][outcome]")
    ev.rename("[pp][filter][quarantine][folder]", "[file][path]")
    ev.rename("[pp][filter][quarantine][rule]", "[rule][name]")
    ev.rename("[pp][filter][routeDirection]", "[network][direction]")
    ev.rename("[pp][filter][startTime]", "[event][start]")
    ev.rename("[pp][filter][msgSizeBytes]", "[source][bytes]")
    ev.rename("[pp][connection][ip]", "[source][ip]")
    ev.rename("[pp][connection][host]", "[source][address]")
    ev.rename("[pp][filter][actions]", "[proofpoint][outcome]")
    ev.set("[observer][vendor]", "proofpoint")
    ev.set("[observer][product]", "proofpoint e-mail filter")
    ev.set("[observer][type]", "e-mail filter")
    ev.get("[pp][msgParts]") match { // ref :47-95 ruby lists
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
        val names, sizes, md5s, sha256s, urls = mutable.ArrayBuffer.empty[Any]
        a.foreach {
          case item: Event.FMap =>
            val n = item.get("detectedName"); if (n != null && n != "") names += n
            val s = item.get("detectedSizeBytes"); if (s != null && s != "") sizes += s
            val h2 = item.get("sha256"); if (h2 != null && h2 != "") sha256s += h2
            val h1 = item.get("md5"); if (h1 != null && h1 != "") md5s += h1
            item.get("urls") match {
              case us: mutable.ArrayBuffer[Any @unchecked] =>
                us.foreach {
                  case u: Event.FMap => val x = u.get("url"); if (x != null) urls += x
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
        if (names.nonEmpty) ev.set("[file][name]", names)
        if (sizes.nonEmpty) ev.set("[file][size]", sizes)
        if (md5s.nonEmpty) ev.set("[file][hash][md5]", md5s)
        if (sha256s.nonEmpty) ev.set("[file][hash][sha256]", sha256s)
        if (urls.nonEmpty) ev.set("[url][full]", urls)
      case _ => ()
    }
    if (!ev.getString("[pp][msg][parsedAddresses][to][0]").exists(_.contains("Undisclosed")))
      ev.get("[pp][msg][parsedAddresses][to]").foreach(v =>
        ev.mergeInto("[destination][user][email]", Event.deepCopy(v)))
    if (ev.has("[pp][connection][protocol]"))
      Dissect(ev, "[pp][connection][protocol]", "%{?data}:%{[network][protocol]}")
    if (ev.stringOrNull("[pp][filter][ismsgencrypted]") == "true")
      ev.addTag("file encrypted")
    ev.getString("[source][address]").foreach { sa =>
      if (sa.matches(".*\\[\\d+.\\d+.\\d+.\\d+\\].*"))
        Mutate.gsub(ev, "[source][address]", "[\\[\\]]", "")
    }
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "UTC", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (Dates(ev, "[event][start]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ"),
      "[event][start_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    ev.remove("tmp_msg"); ev.remove("pp")
  }
}
