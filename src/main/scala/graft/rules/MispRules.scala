package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** misp.metrics — semantic port of
  * config/processors/api_security_misp.metrics.conf (561 LoC): the feeder
  * that normalizes MISP attributes; `pipeline.MispFeeder` runs this program
  * over the deterministic feed to BUILD the broadcast IOC store the 58
  * consumer call sites read (SURVEY §2.4). Mirrored quirks:
  *  - `[misp][Attributes][to_ids]` (plural) is probed but the parse target
  *    is [misp][Attribute] — the branch is dead and safe_to_enable_ids is
  *    always "false".
  *  - two-dimensional mac iocs are split on '|', colon/dash-stripped in the
  *    matching element, then re-joined with a COMMA (ref :63/:72 join).
  *  - the technique regex (T\d+) cannot match tactic tags (TA is not
  *    T-digit), so TA tags feed only [threat][tactic][id].
  */
object MispRules {

  private val copyTargets: Map[String, String] = Map(
    "hassh-md5" -> "[process][hash][md5]",
    "hasshserver-md5" -> "[process][parent][hash][md5]",
    "md5" -> "[file][hash][md5]", "ssdeep" -> "[file][hash][md5]",
    "imphash" -> "[file][hash][md5]", "pehash" -> "[file][hash][md5]",
    "impfuzzy" -> "[file][hash][md5]", "tlsh" -> "[file][hash][md5]",
    "cdhash" -> "[file][hash][md5]",
    "sha1" -> "[file][hash][sha1]",
    "sha256" -> "[file][hash][sha256]", "authentihash" -> "[file][hash][sha256]",
    "sha224" -> "[file][hash][sha256]",
    "sha512" -> "[file][hash][sha512]", "sha384" -> "[file][hash][sha512]",
    "sha512/224" -> "[file][hash][sha512]", "sha512/256" -> "[file][hash][sha512]",
    "filename" -> "[file][name]",
    "ip-src" -> "[source][ip]", "ip-dst" -> "[destination][ip]",
    "hostname" -> "[host][hostname]", "domain" -> "[url][domain]",
    "url" -> "[url][full]", "uri" -> "[url][full]", "btc" -> "[url][full]",
    "dash" -> "[url][full]", "xmr" -> "[url][full]",
    "http-method" -> "[http][request][method]",
    "user-agent" -> "[user_agent][original]",
    "ja3-fingerprint-md5" -> "[tls][server][hash][md5]",
    "regkey" -> "[registry][key]",
    "AS" -> "[source][as][organization][name]",
    "snort" -> "[rule][description]", "bro" -> "[rule][description]",
    "zeek" -> "[rule][description]", "yara" -> "[rule][description]",
    "pattern-in-file" -> "[rule][description]",
    "pattern-in-traffic" -> "[rule][description]",
    "pattern-in-memory" -> "[rule][description]",
    "community-id" -> "[process][hash][md5]",
    "mime-type" -> "[file][mime_type]",
    "identity-card-number" -> "[user][id]",
    "cookie" -> "[http][cookie][name]",
    "vulnerability" -> "[vulnerability][reference]",
    "weakness" -> "[vulnerability][reference]", "link" -> "[vulnerability][reference]",
    "named pipe" -> "[file][path]", "mutex" -> "[file][path]",
    "target-user" -> "[destination][user][name]",
    "target-email" -> "[destination][user][email]",
    "target-machine" -> "[destination][address]",
    "target-org" -> "[destination][as][organization][name]",
    "target-external" -> "[destination][as][organization][name]",
    "windows-scheduled-task" -> "[process][name]",
    "windows-service-name" -> "[process][name]",
    "windows-service-displayname" -> "[process][name]",
    "x509-fingerprint-sha1" -> "[tls][server][hash][sha1]",
    "x509-fingerprint-md5" -> "[tls][server][hash][md5]",
    "x509-fingerprint-sha256" -> "[tls][server][hash][sha256]",
    "port" -> "[destination][port]",
    "mac-address" -> "[source][mac]", "mac-eui-64" -> "[source][mac]",
    "email-src" -> "[source][user][email]",
    "email-src-display-name" -> "[source][user][email]",
    "email-reply-to" -> "[source][user][email]",
    "email-x-mailer" -> "[source][user][email]",
    "email-attachment" -> "[file][name]",
    "email-body" -> "[email][body]", "email-header" -> "[email][header]")

  private val dissectTypes: Map[String, String] = Map(
    "filename|md5" -> "%{[[file][name]]}|%{[[file][hash][md5]]}",
    "filename|sha1" -> "%{[[file][name]]}|%{[[file][hash][sha1]]}",
    "filename|sha256" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|authentihash" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|ssdeep" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|imphash" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|impfuzzy" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|pehash" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|tlsh" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|sha224" -> "%{[[file][name]]}|%{[[file][hash][sha256]]}",
    "filename|sha384" -> "%{[[file][name]]}|%{[[file][hash][sha512]]}",
    "filename|sha512" -> "%{[[file][name]]}|%{[[file][hash][sha512]]}",
    "filename|sha512/224" -> "%{[[file][name]]}|%{[[file][hash][sha512]]}",
    "filename|sha512/256" -> "%{[[file][name]]}|%{[[file][hash][sha512]]}",
    "domain|ip" -> "%{[[url][domain]]}|%{[[destination][ip]]}",
    "ip-dst|port" -> "%{[[destination][ip]]}|%{[[destination][port]]}",
    "hostname|port" -> "%{[[destination][address]]}|%{[[destination][port]]}",
    "regkey|value" -> "%{[[registry][key]]}|%{[[registry][value]]}")

  private val severityDict = Map("1" -> "High", "2" -> "Medium", "3" -> "Low", "4" -> "Undefined")
  private val analysisDict = Map("0" -> "Initial", "1" -> "Ongoing", "2" -> "Complete")
  private val distDict = Map("0" -> "Your organisation only", "1" -> "This community only",
    "2" -> "Connected communities", "3" -> "All communities", "4" -> "Sharing group")

  private val macFull = java.util.regex.Pattern.compile(
    "(?i)^(.*?\\|)?([0-9A-F]{2}[:-]){5}([0-9A-F]{2})(\\|.*?)?$")
  private val macOnly = java.util.regex.Pattern.compile(
    "(?i)^([0-9A-F]{2}[:-]){5}([0-9A-F]{2})$")
  private val taRe = java.util.regex.Pattern.compile("(TA\\d+)")
  private val tRe = java.util.regex.Pattern.compile("(T\\d+(\\.\\d+)?)")

  def metrics(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[log][source][hostname]", "api_misp_metrics")
    ev.set("[event][module]", "api misp metrics")
    ev.set("[event][dataset]", "misp metrics")
    ev.set("[observer][vendor]", "misp")
    ev.set("[observer][product]", "misp metrics")
    ev.set("[observer][type]", "api")
    val msg = ev.getString("message").getOrElse("")
    if (msg.contains("\"type\":\"text\"") || msg.contains("\"type\":\"float\"")) return Dropped
    Pending(Seq(ev), metricsBody)
  }

  private def metricsBody(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "misp")) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.addTag("mitre att&ck")
    ev.rename("[misp][Attribute][uuid]", "[threat][list][uuid]")
    ev.rename("[misp][Attribute][event_id]", "[threat][list][event_id]")
    ev.rename("[misp][Attribute][type]", "[threat][list][type]")
    ev.rename("[misp][Attribute][value]", "[threat][list][ioc]")
    ev.rename("[misp][Attribute][timestamp]", "[threat][list][start]")
    ev.rename("[misp][Event][date]", "[threat][list][created]")
    ev.rename("[misp][Event][Orgc][name]", "[threat][list][source_org]")
    ev.rename("[misp][Event][info]", "[threat][list][event_info]")
    ev.rename("[misp][Attribute][category]", "[threat][list][category]")
    ev.rename("[misp][Attribute][comment]", "[threat][list][comment]")
    ev.rename("[misp][Attribute][Tag]", "[threat][list][event_tag]")
    Mutate.lowercase(ev, "[threat][list][ioc]")
    // mac normalization (ref :50-82) — note the COMMA re-join of split iocs
    ev.getString("[threat][list][ioc]").foreach { ioc =>
      if (macFull.matcher(ioc).matches()) {
        if (ioc.contains("|")) {
          val parts = mutable.ArrayBuffer[Any](ioc.split("\\|", -1).toSeq: _*)
          ev.set("[threat][list][ioc]", parts)
          def strip(i: Int): Unit = parts(i) = parts(i).asInstanceOf[String]
            .replace(":", "").replace("-", "")
          if (parts.nonEmpty && macOnly.matcher(parts(0).asInstanceOf[String]).matches()) {
            strip(0)
            ev.set("[threat][list][ioc]", parts.map(_.toString).mkString(","))
          } else if (parts.length > 1 && macOnly.matcher(parts(1).asInstanceOf[String]).matches()) {
            strip(1)
            ev.set("[threat][list][ioc]", parts.map(_.toString).mkString(","))
          }
        } else {
          ev.set("[threat][list][ioc]", ioc.replace(":", "").replace("-", ""))
        }
      }
    }
    // dead plural probe (ref :85-93) — always the else branch
    if (ev.valueOrNull("[misp][Attributes][to_ids]") == 1L)
      Mutate.addField(ev, "[threat][list][safe_to_enable_ids]", "true")
    else
      Mutate.addField(ev, "[threat][list][safe_to_enable_ids]", "false")
    ev.rename("[misp][Attribute][object_relation]", "[threat][list][object_relation]")
    // mitre tag extraction ruby (ref :103-127)
    if (ev.has("[threat][list][event_tag][0]")) {
      ev.get("[threat][list][event_tag]") match {
        case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
          val tactic, technique = mutable.ArrayBuffer.empty[Any]
          a.foreach {
            case item: Event.FMap => item.get("name") match {
              case n: String if n.contains("mitre-attack-pattern") =>
                val mTa = taRe.matcher(n)
                if (mTa.find()) tactic += mTa.group(1)
                val mT = tRe.matcher(n)
                if (mT.find()) technique += mT.group(1)
              case _ => ()
            }
            case _ => ()
          }
          if (tactic.nonEmpty) ev.set("[threat][tactic][id]", tactic)
          if (technique.nonEmpty) ev.set("[threat][technique][id]", technique)
        case _ => ()
      }
    }
    if (ev.has("[threat][technique][id]"))
      Mutate.addField(ev, "[threat][framework]", "MITRE ATT&CK")
    ev.getString("[misp][Event][threat_level_id]").flatMap(severityDict.get)
      .foreach(v => ev.set("[threat][list][severity_name]", v))
    ev.getString("[misp][Event][analysis]").flatMap(analysisDict.get)
      .foreach(v => ev.set("[threat][list][event_analysis]", v))
    ev.getString("[misp][Event][distribution]").flatMap(distDict.get)
      .foreach(v => ev.set("[threat][list][distribution]", v))
    if (!Dates(ev, "[threat][list][start]", Seq("UNIX"), "[threat][list][start_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_tls"))
      && ev.hasTag("_dateparsefailure_tls")) ev.remove("[threat][list][start]")
    if (!Dates(ev, "[threat][list][created]", Seq("yyyy-MM-dd"), "[threat][list][created_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_tlc"))
      && ev.hasTag("_dateparsefailure_tlc")) ev.remove("[threat][list][created]")
    // per-type ioc fan-out (ref :197-448)
    ev.getString("[threat][list][type]").foreach { t =>
      copyTargets.get(t).foreach(tgt => ev.copyField("[threat][list][ioc]", tgt))
      dissectTypes.get(t).foreach(m => Dissect(ev, "[threat][list][ioc]", m))
    }
    if (ev.has("[host][hostname]")) ev.copyField("[host][hostname]", "[host][name]")
    if (ev.stringOrNull("[misp][action]") == "delete")
      Mutate.addField(ev, "[event][category]", "inactive")
    else
      Mutate.addField(ev, "[event][category]", "active")
    ev.remove("misp"); ev.remove("[threat][list][event_tag]")
  }
}
