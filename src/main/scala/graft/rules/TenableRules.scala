package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** snmp_forescout + the tenable syslog pair.
  *
  * snmp_forescout (snmp_forescout.conf, 213 lines — ~190 of them a
  * commented-out OID glossary): dissect the trap payload after "MESSAGE",
  * strip the `.N` OID indices, kv into [oid] with lowercased keys, and
  * rename five varbinds. The conf's rename keys carry the TRAILING space
  * the kv tokenization leaves before `=` — mirrored by splitting pairs on
  * `,\s*` (leading spaces consumed, trailing kept); values keep their
  * leading space (the ip one is cleaned later by 02's ip strip, the trap id
  * keeps it — visible in [event][id]). No module/dataset is ever set.
  *
  * tenable_nessus.scanner (syslog_audit_tenable.nessus_scanner.conf, 179
  * lines): the stack-dump drop (whose `# ()`/`# ???()` regex alternation
  * degenerates to "contains '# '"), dissect/grok variants over the
  * t.nessuscore bracket groups, the bracket-blob kv, the Chunk split, the
  * `10e9` (=1e10) duration multiplier, and per-description action
  * stamping.
  *
  * tenable_nessus.security_center (syslog_audit_tenable.security_center
  * .conf, 65 lines): kind stamp + one pipe-delimited grok + ECS renames;
  * lines that miss the grok keep the default `_grokparsefailure`. */
object TenableRules {

  def snmpForescout(ev: Event, ctx: ParseCtx): Unit = {
    Dissect(ev, "message", "%{[data]} MESSAGE %{[[rest_msg]]}", Seq("_dissectfailure")) // ref :11-16
    Mutate.gsub(ev, "rest_msg", "(.\\d+ =)", " =") // ref :18-20
    Kv.withPattern(ev, "rest_msg", ",\\s*", '=', target = "oid",
      transformKeyLowercase = true) // ref :22-29 (field_split "," + transform_key lowercase)
    ev.rename("[oid][forescout-mib::fstrapseverity ]", "[severity]") // ref :30-36
    ev.rename("[oid][forescout-mib::ctdeviceipaddress ]", "[source][ip]")
    ev.rename("[oid][forescout-mib::fstrapid ]", "[event][id]")
    ev.rename("[oid][forescout-mib::ctdeviceipaddresstype ]", "[network][type]")
    ev.rename("[oid][forescout-mib::ctdeviceid ]", "[agent][id]")
    ev.remove("rest_msg"); ev.remove("data"); ev.remove("oid") // ref :46
  }

  // ---------------- tenable nessus scanner ----------------

  private val nessusGrok = // ref :45-51
    "(.*?) (.*) (?<[host][hostname]>.*) (T.NessusCore)?(t.nessuscore)? \\[(.*?) (?<[event][start]>.*?)\\]\\[(.*?)\\]\\[(?<tmp>.*?)( )?\\:( )?(?<[rule][description]>.*)"

  def nessusScanner(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "tenable_nessus") // ref :9-12
    ev.set("[event][dataset]", "tenable_nessus.scanner")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    val am = ev.getString("actual_msg").getOrElse("")
    // ref :22-24 — the drop regex's `# ()` empty-group alternative matches
    // any "# " (and `# ???()` does not even compile in Java): the evident
    // gate is these substrings
    if (am.contains("call stack") || am.contains("-----") || am.contains("# "))
      return Dropped
    Pending(Seq(ev), nessusScannerBody(am))
  }

  private def nessusScannerBody(am: String)(ev: Event, ctx: ParseCtx): Unit = {
    if (am.contains("t.nessuscore") || am.contains("T.NessusCore")) { // ref :25-168
      if (am.contains("received signal") || am.contains("Nessus is ready")) { // ref :26-44
        Dissect(ev, "actual_msg",
          "%{?data->} %{?data} %{?data} %{[[host][hostname]]} %{?data} [%{?data} %{[[event][start]]}][%{?data}] %{[[rule][description]]}",
          Seq("_dissectfailure_1"))
        if (am.contains("received signal"))
          ev.set("[event][action]", "Nessus Service stopped")
        else
          ev.set("[event][action]", "Nessus Service started back up and running")
      } else {
        Grok(ev, "actual_msg", Seq(nessusGrok), Seq("_grokparsefailure_1"))
      }
      val desc = ev.getString("[rule][description]").getOrElse("")
      if (desc.contains("Finished")) { // ref :52-63
        if (desc.contains("hosts up"))
          ev.set("[event][action]", "Finished scanning a scan chunk")
        else ev.set("[event][action]", "Scan Completed on Target IP")
      } else if (desc.contains("starting with ")) { // ref :64-95
        Dissect(ev, "[rule][description]", "%{?data}: %{tmp_ip}", Seq("_dissectfailure_2"))
        val ip = ev.getString("tmp_ip").getOrElse("")
        if (ip.matches(".*((?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)),|-.*") ||
          ip.contains(",") || ip.contains("-")) {
          Grok(ev, "tmp_ip",
            Seq("(?<[network][network_range][gte]>.*)(,|-)(?<[network][network_range][lte]>.*)"),
            Seq("_grokparsefailure_2"))
          if (ev.getString("[network][network_range][gte]").exists(g => g.contains(",") || g.contains("-")))
            ev.remove("[network][network_range]")
        }
        ev.remove("tmp_ip")
        ev.set("[event][action]", "Scan Started")
      } else if (desc.contains("Started with ")) {
        ev.set("[event][action]", "Scan Started")
      } else if (desc.contains("too slow")) {
        ev.set("[event][action]", "Plugin too slow")
      } else if (desc.contains("Collecting report info")) {
        ev.set("[event][action]", "Report collected for finished scan chunk")
      } else if (desc.contains("Warning: ")) { // ref :103-110
        Dissect(ev, "[rule][description]",
          "%{?data} scan %{[[destination][address]]}, %{?data}", Seq("_dissectfailure_3"))
      }
      Mutate.gsub(ev, "tmp", "\\]", "") // ref :111-114
      Mutate.gsub(ev, "tmp", "\\[", ",")
      Kv(ev, "tmp", ',', '=', target = "ns") // ref :115-120
      ev.rename("[ns][target]", "[destination][address]") // ref :121-128
      ev.rename("[ns][port]", "[destination][port]")
      ev.rename("[ns][pid]", "[process][pid]")
      ev.rename("[ns][scan]", "[event][id]")
      ev.rename("[ns][duration]", "[event][duration]")
      ev.rename("[ns][plugin]", "[file][name]")
      ev.getString("[ns][name]").foreach { n => // ref :129-144
        if (n.contains("Chunk "))
          Dissect(ev, "[ns][name]",
            "%{[[file][uid]]}/Chunk %{[[process][entity_id]]}.", Seq("_dissectfailure_4"))
        else Dissect(ev, "[ns][name]", "%{[[file][uid]]}", Seq("_dissectfailure_5"))
      }
      if (ev.has("[event][duration]")) { // ref :145-153 — 10e9 == 1e10 kept verbatim
        Mutate.gsub(ev, "[event][duration]", "s", "")
        Mutate.convert(ev, "[event][duration]", "float")
        ev.get("[event][duration]").foreach {
          case d: Double => ev.set("[event][duration]", d * 10e9)
          case l: Long => ev.set("[event][duration]", l * 10e9)
          case _ => ()
        }
      }
      if (Dates(ev, "[event][start]", // ref :154-166
        Seq("MMM  dd HH:mm:ss yyyy", "MMM dd HH:mm:ss yyyy", "ISO8601"),
        "[event][start_ms]", timezone = "GMT", locale = "en"))
        ev.remove("[event][start]")
      if (ev.hasTag("_dateparsefailure")) ev.remove("[event][start]")
    } else {
      ev.addTag("unparsed") // ref :169-172
    }
    ev.remove("ns"); ev.remove("tmp"); ev.remove("actual_msg") // ref :174-176
  }

  // ---------------- tenable security center ----------------

  private val scGrok = // ref :36-42
    "%{SYSLOGTIMESTAMP:syslog_timestamp} %{SYSLOGHOST:syslog_hostname}\\s(?<technology_name>.*?):.*\\[%{WORD:product}\\]\\:\\s%{WORD:day},\\s%{GREEDYDATA:date}\\s-%{INT:value}\\|%{WORD:status}\\|%{WORD:infotype}\\|%{WORD:messagetype}\\|%{WORD:errorlevel}\\|%{GREEDYDATA:finalmessage}"

  def securityCenter(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "tenable_nessus") // ref :9-12
    ev.set("[event][dataset]", "tenable_nessus.security_center")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("T.NessusCore") || am.contains("SecurityCenter")) // ref :22-36
      ev.set("[event][kind]", "tenable_nessus.security_center.app")
    else
      ev.set("[event][kind]", "tenable_nessus.security_center.os_logs")
    Grok(ev, "actual_msg", Seq(scGrok)) // ref :36-42 — default _grokparsefailure on miss
    ev.rename("syslog_hostname", "[host][hostname]") // ref :43-51
    ev.rename("product", "[observer][product]")
    ev.rename("status", "[event][action]")
    ev.rename("infotype", "[error][id]")
    ev.rename("messagetype", "[error][code]")
    ev.rename("errorlevel", "[error][type]")
    ev.rename("finalmessage", "[event][outcome]")
    if (Dates(ev, "date", Seq("dd MMM yyyy HH:mm:ss", "ISO8601"), // ref :52-58
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("date")
    Seq("syslog_timestamp", "technology_name", "day", "value", "date", "actual_msg")
      .foreach(ev.remove) // ref :59-61
  }

  // ---------------- vuln tenable sc / asm (api) ----------------

  /** The `split { field => [vulnerability][id] }` tail shared by both vuln
    * APIs: an array fans out to one deep-cloned event per id; a scalar
    * passes through; a missing field tags `_split_type_failure`
    * (Logstash split semantics — the tag does not affect parse_ok). */
  private def splitVulnIds(ev: Event): ParseOutcome = {
    ev.valueOrNull("[vulnerability][id]") match {
      case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
        Parsed(a.toVector.map { v =>
          val e = ev.cloneEvent()
          e.set("[vulnerability][id]", Event.deepCopy(v))
          e
        })
      case null =>
        ev.addTag("_split_type_failure"); Parsed(Seq(ev))
      case _ => Parsed(Seq(ev))
    }
  }

  /** vuln_tenable_sc.conf (143 lines): SecurityCenter API JSON → ~30 ECS
    * renames, the vprContext sub-JSON ruby mapper, four UNIX dates, the
    * netbios `DOMAIN()HOST` / dns-name host split, and the CVE split
    * fan-out. */
  def vulnSc(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.remove("host"); ev.remove("event") // ref :9-11
    graft.parse.JsonOps.parse(ev, "message", "tmp") // ref :12-15
    Mutate.splitField(ev, "[tmp][cve]", ",") // ref :16-18
    ev.set("[log][source][hostname]", "tenable_sc_api") // ref :19-21
    ev.set("[event][module]", "tenable") // ref :22-27
    ev.set("[event][dataset]", "tenable.sc_api")
    Seq( // ref :28-58
      "[tmp][severity][id]" -> "[event][severity]",
      "[tmp][severity][name]" -> "[event][severity_name]",
      "[tmp][ip]" -> "[host][ip]", "[tmp][uuid]" -> "[event][id]",
      "[tmp][port]" -> "[destination][port]",
      "[tmp][protocol]" -> "[network][transport]",
      "[tmp][firstSeen]" -> "[event][start]", "[tmp][lastSeen]" -> "[event][end]",
      "[tmp][cve]" -> "[vulnerability][id]", "[tmp][macAddress]" -> "[host][mac]",
      "[tmp][operatingSystem]" -> "[host][os][full]",
      "[tmp][repository][dataFormat]" -> "[network][type]",
      "[tmp][seeAlso]" -> "[vulnerability][reference]",
      "[tmp][pluginInfo]" -> "[vulnerability][description]",
      "[tmp][pluginName]" -> "[service][name]",
      "[tmp][version]" -> "[service][version]",
      "[tmp][synopsis]" -> "[rule][description]",
      "[tmp][cvssV3BaseScore]" -> "[vulnerability][score][base]",
      "[tmp][cvssV3TemporalScore]" -> "[vulnerability][score][temporal]",
      "[tmp][vprScore]" -> "[vulnerability][score][environmental]",
      "[tmp][repository][name]" -> "[repository][name]",
      "[tmp][xref]" -> "[rule][reference]",
      "[tmp][baseScore]" -> "[event][risk_score]",
      "[tmp][cvssVector]" -> "[vulnerability][classification]",
      "[tmp][temporalScore]" -> "[event][risk_score_norm]",
      "[tmp][pluginID]" -> "[service][id]",
      "[tmp][solution]" -> "[event][recommendation]",
      "[tmp][pluginPubDate]" -> "[file][created]",
      "[tmp][pluginModDate]" -> "[file][mtime]",
      "[tmp][exploitFrameworks]" -> "[threat][framework]",
      "[tmp][exploitEase]" -> "[threat][list][attribute_tag]")
      .foreach { case (f, t) => ev.rename(f, t) }
    graft.parse.JsonOps.parse(ev, "[tmp][vprContext]", "[tmp][vprContext]") // ref :59-62
    ev.valueOrNull("[tmp][vprContext]") match { // ref :63-81 ruby mapper
      case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
        a.foreach {
          case m: Event.FMap =>
            (m.get("id"), m.get("value")) match {
              case ("threat_intensity_last_28", v) if v != null =>
                ev.set("[threat][list][severity_name]", v)
              case ("threat_sources_last_28", v) if v != null =>
                ev.set("[threat][list][event_info]", v)
              case ("exploit_code_maturity", v) if v != null =>
                ev.set("[threat][list][comment]", v)
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    // ref :82-110 — UNIX date family (failed strings fall to 02's scrub)
    if (Dates(ev, "[event][start]", Seq("UNIX"), "[event][start_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    if (Dates(ev, "[event][end]", Seq("UNIX"), "[event][end_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ee")))
      ev.remove("[event][end]")
    if (Dates(ev, "[file][created]", Seq("UNIX"), "[file][created_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ee")))
      ev.remove("[file][created]")
    if (Dates(ev, "[file][mtime]", Seq("UNIX"), "[file][mtime_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ee")))
      ev.remove("[file][mtime]")
    if (ev.getString("[tmp][hasBeenMitigated]").contains("1")) ev.addTag("mitigated") // ref :111-120
    if (ev.getString("[tmp][exploitAvailable]").contains("yes")) ev.addTag("exploit_available")
    val nb = ev.getString("[tmp][netbiosName]").getOrElse("")
    if (nb.matches("^.*?\\(\\)?.*?$")) { // ref :122-128 — the '()' separator form
      Grok(ev, "[tmp][netbiosName]",
        Seq("^(?<[host][domain]>.*?)\\(\\)?(?<[host][hostname]>.*?)$"),
        Seq("_parsefailure_value_hostname"))
    } else if (ev.getString("[tmp][dnsName]").exists(_.matches("^(.*?)\\.((.*?\\.)+\\w+)$")) &&
      !ev.has("[host][hostname]")) { // ref :129-135
      Grok(ev, "[tmp][dnsName]",
        Seq("^(?<[host][hostname]>.*?)\\.(?<[host][domain]>(.*?\\.)+\\w+)$"),
        Seq("_parsefailure_value_hostname"))
    }
    ev.remove("tmp") // ref :136-138
    splitVulnIds(ev) // ref :139-141
  }

  /** vuln_tenable_asm.conf (179 lines): lowercased ASM API JSON → dotted-key
    * renames with nil-guarded contact fallbacks, the ports.* parallel-array
    * ruby collector, the rbls ISO date, flag tags, and the CVE split. */
  def vulnAsm(ev: Event, ctx: ParseCtx): ParseOutcome = {
    Mutate.lowercase(ev, "message") // ref :9-11
    graft.parse.JsonOps.parse(ev, "message", "tmp") // ref :12-15
    Mutate.addField(ev, "[log][source][hostname]", "%{[tmp][bd.hostname]}") // ref :16-18
    ev.set("[event][module]", "tenable") // ref :19-24
    ev.set("[event][dataset]", "tenable.asm_api")
    Seq( // ref :25-49
      "[tmp][id]" -> "[event][id]",
      "[tmp][bd.addedtoportfolio]" -> "[cloud][account][id]",
      "[tmp][bd.hostname]" -> "[host][name]",
      "[tmp][bd.ip_address]" -> "[host][ip]",
      "[tmp][bd.original_hostname]" -> "[host][hostname]",
      "[tmp][bd.record_type]" -> "[dns][answers][class]",
      "[tmp][bd.domain]" -> "[host][domain]",
      "[tmp][domaininfo.administrativecontact_email]" -> "[destination][user][email]",
      "[tmp][domaininfo.administrativecontact_name]" -> "[destination][user][name]",
      "[tmp][domaininfo.administrativecontact_organization]" -> "[destination][as][organization][name]",
      "[tmp][domaininfo.administrativecontact_telephone]" -> "[destination][as][number]",
      "[tmp][domaininfo.registrant_country]" -> "[destination][geo][country_name]",
      "[tmp][domaininfo.registrant_name]" -> "[destination][user][business][unit]",
      "[tmp][domaininfo.registrarname]" -> "[observer][name]",
      "[tmp][domaininfo.status]" -> "[event][action]",
      "[tmp][domaininfo.fdns_nameservers]" -> "[group][domain]",
      "[tmp][app_updates][rbls]" -> "[threat][list][created]",
      "[tmp][ipgeo.cloud]" -> "[cloud][provider]",
      "[tmp][ipgeo.asn_number]" -> "[service][id]",
      "[tmp][ipgeo.asn]" -> "[service][name]",
      "[tmp][ipgeo.time_zone]" -> "[cloud][region]",
      "[tmp][ipgeo.registered_country]" -> "[destination][geo][country_name]")
      .foreach { case (f, t) => ev.rename(f, t) }
    // ref :50-64 — nil-guarded fallbacks read fields the rename above
    // already consumed: each gate is always false (dead, mirrored)
    if (ev.getString("[tmp][domaininfo.administrativecontact_email]").exists(_ != "nil"))
      ev.rename("[tmp][domaininfo.contactemail]", "[destination][user][email]")
    if (ev.getString("[tmp][domaininfo.administrativecontact_organization]").exists(_ != "nil"))
      ev.rename("[tmp][domaininfo.registrant_organization]", "[destination][as][organization][name]")
    if (ev.getString("[tmp][domaininfo.administrativecontact_name]").exists(_ != "nil"))
      ev.rename("[tmp][domaininfo.registrant_name]", "[destination][user][name]")
    // ref :65-147 ruby — compact the ports.* parallel arrays (drop empties)
    def compacted(path: String): Option[scala.collection.mutable.ArrayBuffer[Any]] =
      ev.valueOrNull(path) match {
        case a: scala.collection.mutable.ArrayBuffer[Any @unchecked] =>
          val out = a.filter { case "" => false; case _ => true }
          if (out.isEmpty) None else Some(scala.collection.mutable.ArrayBuffer(out.toSeq: _*))
        case _ => None
      }
    compacted("[tmp][ports.cvss3_vectors]").foreach(ev.set("[vulnerability][classification]", _))
    compacted("[tmp][ports.cvss3_scores]").foreach(ev.set("[vulnerability][score][base]", _))
    compacted("[tmp][ports.cves]").foreach(ev.set("[vulnerability][id]", _))
    compacted("[tmp][ports.services]").foreach(ev.set("[rule][name]", _))
    compacted("[tmp][ports.banners]").foreach(ev.set("[rule][description]", _))
    compacted("[tmp][ports.ports]").foreach(ev.set("[destination][port]", _))
    compacted("[tmp][rbls.rbls]").foreach(ev.set("[vulnerability][reference]", _))
    if (ev.has("[threat][list][created]")) // ref :148-156
      if (Dates(ev, "[threat][list][created]", Seq("ISO8601"), "[threat][list][created_ms]",
        timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_tcnf")))
        ev.remove("[threat][list][created]")
    if (ev.has("[tmp][bd.subdomain]")) ev.addTag("subdomain") // ref :157-171
    if (ev.has("[tmp][ipgeo.insideeu]")) ev.addTag("inside_EU")
    if (ev.has("[tmp][ipgeo.cloudhosted]")) ev.addTag("cloud_hosted")
    ev.remove("tmp") // ref :172-174
    splitVulnIds(ev) // ref :175-177
  }
}
