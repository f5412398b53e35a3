package graft.rules

import graft.model.Event
import graft.parse._

/** symantec.endpoint_protection — semantic port of
  * config/processors/syslog_security_symantec.endpoint.conf (541 LoC, the
  * largest standalone processor). The conf is four independent if-chains
  * over substring probes, and their interplay produces the signature
  * behaviors mirrored here:
  *
  *  - the final big else-if chain (ref :163-346) ends in `else → parse_rule
  *    "other"`, and its HEAD condition is the Site+Admin block — so rows
  *    already labeled by the earlier chains (Application, TCP, System,
  *    Agent Activity) fall through every else-if and ALSO collect "other":
  *    add_field promotes [agent][parse_rule] to an array → "System,other".
  *  - admin-logon messages satisfy BOTH the Administrative block (its
  *    `!~ a or !~ b` guard is a tautology for any single message, ref :144)
  *    AND the Admin block → parse_rule "Administrative,Admin", and the
  *    second dissect overwrites [rule][description].
  *  - the Agent Scan mapping's `%{[[observer][name]}` / `%{[[[event][id]]}`
  *    keys are malformed (ref :225) — the captures land on unaddressable
  *    paths, so observer.name/event.id stay unset for scan rows.
  *  - [event][created] is dissected in every branch and then REMOVED in the
  *    cleanup mutate (ref :414) — event.created_ms always falls back to the
  *    enrichment-03 default.
  *  - [event][sequence] is a copy of [rule][id] or the literal "0"
  *    (ref :416-426); 02's long coercion then kills non-numeric values.
  */
object SymantecRules {

  private def kvTo(ev: Event, src: String, target: String): Unit =
    Kv(ev, src, ',', ':', target = target)

  /** date + remove. The conf's removal guard is `[_dateparsefailure_*] in
    * [tags]` — a FIELD reference (nil) rather than a string, so it never
    * fires; either way the unflattened string leaves no observable trace,
    * and on success the parsed value lands in *_ms. */
  private def dateRm(ev: Event, f: String, tag: String): Unit =
    if (ev.has(f)) {
      Dates(ev, f, Seq("yyyy-MM-dd HH:mm:ss"), f.dropRight(1) + "_ms]",
        timezone = "GMT", locale = "en", tagOnFailure = Seq(tag))
      ev.remove(f)
    }

  def endpoint(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "symantec")
    ev.set("[event][dataset]", "symantec.endpoint_protection")
    Mutate.strip(ev, "message") // ref :14-16
    Mutate.gsub(ev, "message", "[\"]", "")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    val msg = ev.getString("message").getOrElse("")
    val am = ev.getString("actual_msg").getOrElse("")

    // ---- chain 1: application control (ref :27-92)
    if (am.contains("Application type:") && am.contains("Web domain:")) {
      Dissect(ev, "actual_msg",
        "%{[[received][date_time]]} {%{?data}} <%{?pri}>%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{rest_msg}")
      kvTo(ev, "rest_msg", "chrome-sepm")
      ev.getString("[chrome-sepm][Hash type]") match {
        case Some("SHA1") => ev.rename("[chrome-sepm][Application hash]", "[file][hash][sha1]")
        case Some("MD5") => ev.rename("[chrome-sepm][Application hash]", "[file][hash][md5]")
        case Some("SHA2") => ev.rename("[chrome-sepm][Application hash]", "[file][hash][sha256]")
        case _ => ()
      }
      ev.rename("[chrome-sepm][Application version]", "[package][version]")
      ev.rename("[chrome-sepm][Application type]", "[package][type]")
      ev.rename("[chrome-sepm][Company name]", "[package][description]")
      ev.rename("[chrome-sepm][Application name]", "[package][name]")
      ev.rename("[chrome-sepm][Event time]", "[event][created]")
      ev.rename("[chrome-sepm][Actual action]", "[event][action]")
      ev.rename("[chrome-sepm][Risk name]", "[rule][name]")
      ev.rename("[chrome-sepm][Last update time]", "[event][modified]")
      ev.rename("[chrome-sepm][User Name]", "[user][name]")
      ev.rename("[chrome-sepm][Location]", "[rule][category]")
      ev.rename("[chrome-sepm][Allowed application reason]", "[event][reason]")
      ev.rename("[chrome-sepm][Category type]", "[event][type]")
      ev.rename("[chrome-sepm][SymantecServer]", "[rule][description]")
      ev.rename("[chrome-sepm][File size (bytes)]", "[file][size]")
      ev.rename("[chrome-sepm][Computer name]", "[host][hostname]")
      ev.rename("[chrome-sepm][Group Name]", "[group][name]")
      ev.rename("[chrome-sepm][Domain Name]", "[group][domain]")
      ev.rename("[chrome-sepm][End Time]", "[event][end]")
      ev.rename("[chrome-sepm][Download site]", "[event][url]")
      ev.rename("[chrome-sepm][File path]", "[file][path]")
      ev.rename("[chrome-sepm][Event Insert Time]", "[event][ingested]")
      ev.rename("[chrome-sepm][Web domain]", "[url][domain]")
      ev.rename("[chrome-sepm][Downloaded by]", "[process][parent][executable]")
      ev.rename("[chrome-sepm][IP Address]", "[host][ip]")
      ev.remove("chrome-sepm"); ev.remove("rest_msg")
    }

    // ---- chain 2: tcp / agent activity / system (ref :94-140)
    if (am.contains("Site: Prod_DMZ")) {
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[host][hostname]]},%{?data}: %{desc},%{rest_msg}")
      kvTo(ev, "rest_msg", "tcp-sepm")
      ev.rename("[tcp-sepm][Event Description]", "[rule][description]")
      ev.rename("[tcp-sepm][Server Name]", "[observer][name]")
      ev.rename("[tcp-sepm][Admin]", "[user][name]")
      ev.rename("[tcp-sepm][Domain Name]", "[host][domain]")
      ev.remove("tcp-sepm"); ev.remove("rest_msg")
    } else if (am.contains("Site:") && !am.contains("Admin:") &&
      am.contains(",Domain:") && !am.contains("CIDS Signature ID:")) {
      Mutate.addField(ev, "[agent][parse_rule]", "Agent Activity")
    } else if (am.contains("Site:") && !am.contains("Admin:") &&
      !am.contains(",Domain:") && !am.contains("CIDS Signature ID:")) {
      Mutate.addField(ev, "[agent][parse_rule]", "System")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{?data}: %{[[rule][ruleset]]},%{?data}: %{[[host][hostname]]},%{?data}: %{[[event][action]]}")
      val act = ev.getString("[event][action]").getOrElse("")
      if (act.contains("[") && act.contains("]"))
        Dissect(ev, "[event][action]", "%{?data} [%{[[destination][user][email]]}]")
    }

    // ---- chain 3: Administrative (ref :142-161). The or-of-negations
    // guard cannot be false for a single message — tautology kept verbatim.
    if (msg.contains("Site:") && msg.contains("Admin:") && !msg.contains("CIDS Signature ID:")) {
      if (!msg.contains("Administrator log on failed") || !msg.contains("Administrator log on succeeded") ||
        !msg.contains("Administrator logout") || !msg.contains("the password of system administrator 'admin' was changed")) {
        Mutate.addField(ev, "[agent][parse_rule]", "Administrative")
        Dissect(ev, "message",
          "%{[[log][date_time]]} {%{?data}} <%{?data}>%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{?data}: %{[[rule][ruleset]]},%{?data}: %{[[host][hostname]]},%{?data}: %{[[host][domain]]},Admin: %{[[user][name]]},%{[[rule][description]]}")
        Mutate.addField(ev, "[rule][category]", "Audit/Information")
      }
    }

    // ---- chain 4: Admin → big else-if ladder → "other" (ref :163-346)
    if (msg.contains("Site:") && msg.contains("Admin:") && !msg.contains("CIDS Signature ID:")) {
      if (msg.contains("Administrator log on failed") || msg.contains("Administrator log on succeeded") ||
        msg.contains("Administrator logout") || msg.contains("the password of system administrator 'admin' was changed")) {
        Mutate.addField(ev, "[agent][parse_rule]", "Admin")
        Dissect(ev, "message",
          "%{[[log][date_time]]} {%{?data}} <%{?data}>%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{?data}: %{[[rule][ruleset]]},%{?data}: %{[[host][hostname]]},%{?data}: %{[[host][domain]]},Admin: %{[[user][name]]},event description: %{[[rule][description]]}")
      }
    } else if (am.contains("Device ID:")) { // Agent Behavior (ref :166-217)
      Mutate.addField(ev, "[agent][parse_rule]", "Agent Behavior")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[host][hostname]]},%{[[source][ip]]},%{[[event][action]]},%{desc_temp},%{[[event][name]]},Begin: %{[[event][start]]},%{?data}: %{[[event][end]]},Rule: %{[[rule][name]]},%{[[process][pid]]},%{[[process][name]]},%{[[process][thread][id]]},%{[[process][thread][name]]},%{[[file][path]]},%{?data}: %{[[user][name]]},%{?data}: %{[[host][domain]]},Action Type: %{[[event][code]]},File size (bytes): %{[[file][size]]},%{[[file][device]]}")
      val dt = ev.getString("desc_temp").getOrElse("")
      if (dt.contains("MD5")) {
        Grok(ev, "desc_temp", Seq(".*?MD5=(?<md5>.*?)$"), Seq("_grokparsefailure"))
        ev.rename("md5", "process_hash_md5")
        ev.rename("desc_temp", "[rule][description]")
        ev.getString("process_hash_md5") match {
          case Some(h) if h.contains(" - ") && h.contains("=") =>
            Dissect(ev, "process_hash_md5", "%{[[process][hash][md5]]} - %{?data}")
            ev.remove("process_hash_md5")
          case Some(_) => ev.rename("process_hash_md5", "[process][hash][md5]")
          case None => ()
        }
      } else if (dt.contains("SHA256")) {
        Mutate.lowercase(ev, "desc_temp")
        Grok(ev, "desc_temp",
          Seq(".*?sha256=(?<md5>.*?)( \\- target arguments\\='(?<[process][args]>.*)')?$"),
          Seq("_grokparsefailure"))
        ev.rename("md5", "[process][hash][sha256]")
        ev.rename("desc_temp", "[rule][description]")
      }
    } else if (am.contains("Scan ID:")) { // Agent Scan (ref :219-230)
      Mutate.addField(ev, "[agent][parse_rule]", "Agent Scan")
      // the observer/event.id keys are malformed in the reference mapping —
      // kept verbatim; the captures land on unaddressable paths
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]} %{?data}: Scan ID: %{[[[event][id]]},Begin: %{[[event][start]]},%{?data}: %{[[event][end]]},%{[[event][action]]},Duration (seconds): %{[[event][duration]]},User1: %{[[source][user][name]]},User2: %{[[destination][user][name]]},%{[[event][name]]},%{[[event][code]]},Command: %{[[rule][name]]},Threats: %{?no_of_threats},Infected: %{?data},Total files: %{?total_files},Omitted: %{?omitted_files},Computer: %{[[host][hostname]]},IP Address: %{[[host][ip]]},%{?data}: %{[[host][domain]]},%{?data}: %{[[rule][ruleset]]},%{?data}: %{?[[server][address]]}")
    } else if (am.contains("CIDS Signature ID:")) { // Agent Security (ref :232-258)
      Mutate.addField(ev, "[agent][parse_rule]", "Agent Security")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[host][hostname]]},%{?data}: %{desc},Event Type: %{[event][category]},%{somedata}")
      kvTo(ev, "somedata", "sepm")
      val desc = ev.getString("desc").getOrElse("")
      if (desc.contains("Requirement:")) {
        Grok(ev, "desc",
          Seq("(?<[[event][name]]>.*?) Requirement: '(?<[rule][name]>.*?)' (?<[event][action]>.*?) "),
          Seq("_grokparsefailure"))
      } else {
        ev.rename("desc", "[[event][name]]") // malformed target — lands nowhere
      }
    } else if (am.contains("Event time:") && !am.contains(",Certificate serial number:")) {
      Mutate.addField(ev, "[agent][parse_rule]", "Agent System") // ref :260-278
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[source][address]]},Category: %{[[rule][uuid]]},%{[[event][provider]]},%{[[rule][description]]},Event time: %{[[event][start]]},Group Name: %{[[group][name]]}")
      if (ev.has("[source][address]"))
        ev.copyField("[source][address]", "[host][hostname]")
    } else if (am.contains("Signing timestamp:") && !am.contains(",Detection type:")) {
      Mutate.addField(ev, "[agent][parse_rule]", "Agent Risk") // ref :280-293
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[event][name]]},%{somedata}")
      kvTo(ev, "somedata", "sepm")
    } else if (am.contains(",Detection type:")) { // SONAR (ref :295-321)
      Mutate.addField(ev, "[agent][parse_rule]", "Agent Proactive detection logs(SONAR)")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[event][action]]},%{somedata}Detection Submissions %{?date},%{+somedata},Occurrences: %{?data},%{[[file][path]]},,%{+somedata}")
      kvTo(ev, "somedata", "sepm")
      ev.rename("[sepm][Risk Level]", "[event][severity_name]")
      ev.rename("[sepm][Detection type]", "[rule][name]")
      ev.rename("[sepm][Certificate issuer]", "[tls][server][issuer]")
      ev.rename("[sepm][Certificate signer]", "[tls][server][certificate_chain]")
      ev.rename("[sepm][Application name]", "[tls][server][subject]")
      ev.rename("[sepm][Certificate thumbprint]", "[tls][server][hash][md5]")
    } else if (am.contains("konspol")) { // ref :323-341
      Mutate.addField(ev, "[agent][parse_rule]", "konspol jv")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[observer][name]]} %{?data}: %{[[host][hostname]]},%{?data},%{[[rule][name]]},event description: %{[[rule][description]]},event time: %{[[event][start]]},group name: %{[[group][name]]}")
      if (ev.getString("[rule][description]").exists(_.contains(":")))
        Grok(ev, "[rule][description]", Seq(".*?'(?<[file][path]>[a-zA-Z]:.*?)'"),
          Seq("_grokparsefailure"))
    } else {
      Mutate.addField(ev, "[agent][parse_rule]", "other")
    }

    // ---- shared sepm post-processing (ref :347-412)
    ev.getString("[sepm][Hash type]") match {
      case Some("MD-5") | Some("MD5") => ev.rename("[sepm][Application hash]", "[file][hash][md5]")
      case Some("SHA-1") | Some("SHA1") => ev.rename("[sepm][Application hash]", "[file][hash][sha1]")
      case Some("SHA-256") | Some("SHA256") | Some("SHA2") =>
        ev.rename("[sepm][Application hash]", "[file][hash][sha256]")
      case Some("SHA-512") => ev.rename("[sepm][Application hash]", "[file][hash][sha512]")
      case _ => ()
    }
    Seq("[url][full]", "[user][name]", "[url][domain]").foreach { f =>
      if (ev.stringOrNull(f) == "null") ev.remove(f)
    }
    ev.getString("[sepm][Application]") match {
      case Some(a) if a.exists(c => Character.isLetterOrDigit(c) || c == '_') =>
        ev.rename("[sepm][Application]", "[process][name]")
      case Some(_) => ev.rename("[sepm][Application]", "[process][path]")
      case None => ()
    }
    if (ev.has("[sepm][Begin]")) ev.rename("[sepm][Begin]", "[event][start]")
    if (ev.has("[sepm][End Time]")) ev.rename("[sepm][End Time]", "[event][end]")
    ev.getString("somedata") match {
      case Some(sd) if sd.contains("Remote Host MAC:") =>
        Dissect(ev, "somedata",
          "%{?data}Remote Host MAC:%{?data},%{[[network][direction]]},%{[[network][protocol]]},%{[[event][outcome]]},%{?data}")
      case _ => ()
    }
    ev.rename("[sepm][Location]", "[rule][ruleset]")
    ev.rename("[sepm][Local Host IP]", "[destination][ip]")
    ev.rename("[sepm][Local Host MAC]", "[destination][mac]")
    ev.rename("[sepm][Remote Host MAC]", "[source][mac]")
    ev.rename("[sepm][Remote Port]", "[source][port]")
    ev.rename("[sepm][Domain Name]", "[host][domain]")
    ev.rename("[sepm][Local Port]", "[destination][port]")
    ev.rename("[sepm][User Name]", "[host][user][name]")
    ev.rename("[sepm][Remote Host IP]", "[source][ip]")
    ev.rename("[sepm][SHA-256]", "[file][hash][sha256]")
    ev.rename("[sepm][Intrusion URL]", "[url][full]")
    ev.rename("[sepm][CIDS Signature SubID]", "[rule][uuid]")
    ev.rename("[sepm][CIDS Signature ID]", "[rule][id]")
    ev.rename("[sepm][Server Name]", "[observer][name]")
    ev.rename("[sepm][Computer name]", "[host][hostname]")
    ev.rename("[sepm][File path]", "[file][path]")
    ev.rename("[sepm][IP Address]", "[host][ip]")
    ev.rename("[sepm][Actual action]", "[event][action]")
    ev.rename("[sepm][Web domain]", "[url][domain]")
    ev.rename("[sepm][Download site]", "[url][full]")
    ev.rename("[sepm][Downloaded by]", "[process][name]")
    ev.rename("[sepm][File size (bytes)]", "[file][size]")
    ev.rename("[sepm][Source Computer Name]", "[source][address]")
    ev.rename("[sepm][Source Computer IP]", "[source][ip]")
    ev.rename("[sepm][Group Name]", "[group][name]")
    ev.rename("[sepm][Source]", "[log][logger]")
    ev.rename("[sepm][Disposition]", "[error][type]")
    ev.rename("[sepm][Event Type]", "[event][category]")
    ev.remove("[log][date_time]"); ev.remove("[event][created]")
    ev.remove("[received][date_time]"); ev.remove("actual_msg")
    if (ev.has("[rule][id]")) ev.copyField("[rule][id]", "[event][sequence]")
    else Mutate.addField(ev, "[event][sequence]", "0")
    // MD-5/MD5, Category type/set, CIDS string/Risk name pairs (ref :428-466)
    if (ev.has("[sepm][MD-5]") && ev.has("[sepm][MD5]")) {
      ev.rename("[sepm][MD-5]", "[file][hash][md5]")
      Mutate.replace(ev, "[file][hash][md5]", "%{[[sepm][MD5]]}")
    } else { ev.rename("[sepm][MD-5]", "[file][hash][md5]"); ev.rename("[sepm][MD5]", "[file][hash][md5]") }
    if (ev.has("[sepm][Category type]") && ev.has("[sepm][Category set]")) {
      ev.rename("[sepm][Category type]", "[rule][category]")
      Mutate.replace(ev, "[rule][category]", "%{[[sepm][Category set]]}")
    } else { ev.rename("[sepm][Category type]", "[rule][category]"); ev.rename("[sepm][Category set]", "[rule][category]") }
    if (ev.has("[sepm][CIDS Signature string]") && ev.has("[sepm][Risk name]")) {
      ev.rename("[sepm][CIDS Signature string]", "[rule][name]")
      Mutate.replace(ev, "[rule][name]", "%{[[sepm][Risk name]]}")
    } else { ev.rename("[sepm][CIDS Signature string]", "[rule][name]"); ev.rename("[sepm][Risk name]", "[rule][name]") }
    ev.remove("somedata"); ev.remove("desc"); ev.remove("Hash type")
    ev.remove("Risk type"); ev.remove("sepm"); ev.remove("desc_temp"); ev.remove("md5")
    dateRm(ev, "[event][start]", "_dateparsefailure_es")
    dateRm(ev, "[event][end]", "_dateparsefailure_ee")
    if (ev.has("[event][name]")) ev.rename("[event][name]", "[rule][description]")
    Seq("[rule][name]", "[event][action]", "[file][path]", "[process][path]")
      .foreach(Mutate.lowercase(ev, _))
    if (ev.stringOrNull("[user][name]") == "Removable Files Portal") ev.remove("[user][name]")
    if (ev.has("[host][hostname]")) ev.copyField("[host][hostname]", "[host][name]")
    if (ev.getString("[rule][description]").exists(d => {
      val i = d.indexOf("SID:"); i >= 0 && d.indexOf("Audit:", i) >= 0
    })) Mutate.addField(ev, "[rule][category]", "ntp")
    if (ev.stringOrNull("[source][ip]") == "") ev.remove("[source][ip]")
    if (ev.stringOrNull("[host][domain]") == "") ev.remove("[host][domain]")
    if (ev.stringOrNull("[event][name]") == "") ev.remove("[event][name]")
    ev.getString("[rule][name]").foreach { rn =>
      val m = java.util.regex.Pattern.compile("^.*?((cve|CVE)-\\d+-\\d+)").matcher(rn)
      if (m.find()) ev.set("[vulnerability][id]", m.group(1))
    }
  }
}
