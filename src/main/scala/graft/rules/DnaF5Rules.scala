package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, Mutate, SyslogPri}

/** cisco.dna + f5 gtm.dns — two audit-family syslog processors.
  *
  * cisco.dna (syslog_audit_cisco.dna.conf, 199 lines) is authored against a
  * shipper envelope this pipeline never sees, which makes several of its
  * moves self-defeating — all mirrored:
  *  - host/domain/observer hostnames are sprintf'd from
  *    `[log][source][hostname]`, a field that only exists AFTER the 02
  *    enrichment renames the dotted envelope key — at processor time the
  *    add_field leaves the literal `%{[[log][source][hostname]]}` (the
  *    split gsubs then find no dot to split);
  *  - the category translate (ref :127) reads `assurance issue category`
  *    AFTER :100 renamed it away, and its target was already filled from
  *    `[tmp][type]` — both dead, so event.category is always the raw type;
  *  - `elseif` (ref :175) and the `[[network][name]]` /
  *    `%{[[[host][hostname]]]}` over-bracketing (ref :188) are normalized
  *    to their evident intent (else-if; one bracket layer), with the
  *    triple-bracket sprintf staying unresolvable → literal.
  *
  * f5.big.ip.gtm.dns (syslog_audit_f5.big.ip.gtm.dns.conf, 184 lines): a
  * 12-branch dissect ladder over the shared `created×3 host level
  * proc[pid]:` prefix; the severity→category translate at the end reads
  * [event][severity_name], which no branch sets — rule.category never
  * surfaces (translate is a no-op on a missing source). */
object DnaF5Rules {

  def ciscoDna(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.dna")
    Mutate.lowercase(ev, "message") // ref :19-22
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :23-27
    SyslogPri(ev) // ref :28-32
    if (ev.getString("actual_msg").exists(_.contains("dnac_event"))) // ref :35-48
      Grok(ev, "actual_msg",
        Seq("%{GREEDYDATA:[[tmp][dna_event]]}dnac_event\\s-\\s%{GREEDYDATA:[[tmp][json]]}"))
    else
      Grok(ev, "actual_msg",
        Seq("%{GREEDYDATA:[[tmp][dna_event]]} - - %{GREEDYDATA:[[tmp][json]]}"))
    // ref :50-64 — log.source.hostname does not exist at processor time:
    // the sprintf literals survive, and the dot-split gsubs find no dot
    Mutate.addField(ev, "[host][hostname]", "%{[[log][source][hostname]]}")
    Mutate.addField(ev, "[host][domain]", "%{[[log][source][hostname]]}")
    Mutate.addField(ev, "[observer][hostname]", "%{[[log][source][hostname]]}")
    Mutate.gsub(ev, "[host][hostname]", "([^.]+)\\.(.*)", "$1")
    Mutate.gsub(ev, "[observer][hostname]", "([^.]+)\\.(.*)", "$1")
    Mutate.gsub(ev, "[host][domain]", "([^.]+)\\.(.*)", "$2")
    JsonOps.parse(ev, "[tmp][json]", "[tmp]") // ref :68-72
    Dates(ev, "[tmp][timestamp]", Seq("UNIX", "UNIX_MS"), "[event][created_ms]") // ref :75-79
    ev.rename("[tmp][type]", "[event][category]") // ref :89-105
    ev.rename("[tmp][subdomain]", "[host][type]")
    ev.rename("[tmp][note]", "[event][url]")
    ev.rename("[tmp][ciscodnaeventlink]", "[event][reference]")
    ev.rename("[tmp][domain]", "[event][provider]")
    ev.rename("[tmp][eventid]", "[event][id]")
    ev.rename("[tmp][details][assurance issue category]", "[error][type]")
    ev.rename("[tmp][details][device]", "[host][hostname]")
    ev.rename("[tmp][details][assurance issue details]", "[error][message]")
    ev.rename("[tmp][detais][type]", "[host][type]") // ref :103 — typo'd source, always absent
    ev.rename("[tmp][severity]", "[event][severity]")
    val issueName = "[tmp][details][assurance issue name]"
    if (ev.getString(issueName).exists(_.contains("-"))) { // ref :107-120
      Mutate.splitField(ev, issueName, "-")
      Mutate.addField(ev, "[event][action]", "%{[[tmp][details][assurance issue name][0]]}")
      Mutate.addField(ev, "[event][reason]", "%{[[tmp][details][assurance issue name][1]]}")
    } else {
      ev.copyField(issueName, "[event][reason]")
      ev.copyField(issueName, "[event][action]")
    }
    Mutate.strip(ev, "[event][action]") // ref :122-124
    Mutate.strip(ev, "[event][reason]")
    // ref :127-137 — dead translate: source renamed away at :100, target
    // already set from [tmp][type]
    ev.getString("[tmp][details][assurance issue category]").foreach { c =>
      if (!ev.has("[event][category]"))
        ev.set("[event][category]", if (c == "availability") "network" else "host")
    }
    ev.getString("[tmp][details][assurance issue status]").foreach { s => // ref :139-150
      if (!ev.has("[event][kind]"))
        ev.set("[event][kind]", Map("resolved" -> "event", "active" -> "event").getOrElse(s, "event"))
    }
    ev.getString("[tmp][category]").foreach { c => // ref :152-163
      if (!ev.has("[event][type]"))
        ev.set("[event][type]",
          Map("warn" -> "info", "task_failure" -> "error", "error" -> "error").getOrElse(c, "info"))
    }
    val reason = ev.getString("[event][reason]").getOrElse("")
    if (reason.matches(".*(increase|decrease).*on \\w* in .*")) { // ref :166-174
      Grok(ev, "[event][reason]",
        Seq(".*on %{WORD:[[network][name]]} in %{GREEDYDATA:[[network][geo][name]]}."))
    } else if (ev.getString("[error][message]").exists(_.contains("ssid"))) { // ref :175-182 (`elseif`)
      Grok(ev, "[error][message]",
        Seq(".*ssid\\s%{GREEDYDATA:[[network][name]]}\\.", ".*ssid\\s%{GREEDYDATA:[[network][name]]}\\s"))
    }
    if (!ev.has("[network][name]")) // ref :185-190 — over-bracketed key + triple-bracket sprintf
      Mutate.addField(ev, "[network][name]", "%{[[[host][hostname]]]}")
    ev.remove("tmp"); ev.remove("actual_msg") // ref :193-196
  }

  private val f5Prefix =
    "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[destination][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: "

  def f5Gtm(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "f5") // ref :9-12
    ev.set("[event][dataset]", "f5.loadbalancer")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :14-18
    SyslogPri(ev) // ref :19-22
    Mutate.strip(ev, "actual_msg")
    if (ev.getString("message").exists(_.contains("DBUG"))) { // ref :26-31
      ev.set("[agent][parse_rule]", "RULE 1 (dropped)")
      return Dropped
    }
    Pending(Seq(ev), f5GtmBody)
  }

  private def f5GtmBody(ev: Event, ctx: ParseCtx): Unit = {
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("httpd") && am.contains("auth token request")) { // ref :32-41
      ev.mergeInto("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "actual_msg",
        f5Prefix + "%{?data} [%{?data} %{[[source][ip]]}] %{[[rule][description]]}")
    } else if (am.contains("I/O error occurred while writing")) { // ref :43-52
      ev.mergeInto("[agent][parse_rule]", "RULE 3")
      Dissect(ev, "actual_msg", f5Prefix + "%{[[rule][description]]}")
    } else if (am.contains("No members available for pool")) { // ref :53-62
      ev.mergeInto("[agent][parse_rule]", "RULE 4")
      Dissect(ev, "actual_msg", f5Prefix + "%{[[rule][description]]}")
    } else if (am.contains("ICMP error limit reached")) { // ref :63-72
      ev.mergeInto("[agent][parse_rule]", "RULE 5")
      Dissect(ev, "actual_msg", f5Prefix + "%{[[rule][description]]}")
    } else if (am.contains("httpd") && am.contains("AUDIT")) { // ref :73-82
      ev.mergeInto("[agent][parse_rule]", "RULE 6")
      Dissect(ev, "actual_msg",
        f5Prefix + "%{?data} - %{?data} %{[[user][id]]} %{[[rule][description]]}")
    } else if (am.contains("mcpd") && am.contains("AUDIT")) { // ref :83-92
      ev.mergeInto("[agent][parse_rule]", "RULE 7")
      Dissect(ev, "actual_msg",
        f5Prefix + "%{?data}, %{?data} %{[[user][id]]} %{[[rule][description]]}")
    } else if (am.contains("monitor status down") || am.contains("monitor status up") ||
      am.contains("SNMP_TRAP") || am.contains(" tmm")) { // ref :93-102
      ev.mergeInto("[agent][parse_rule]", "RULE 8")
      Dissect(ev, "actual_msg",
        f5Prefix + "%{?[[session][id]]}: %{[[rule][description]]}")
    } else if (am.contains("monitor status up")) { // ref :103-112 — shadowed by RULE 8
      ev.mergeInto("[agent][parse_rule]", "RULE 9")
      Dissect(ev, "actual_msg",
        f5Prefix + "%{?[[session][id]]}: %{[[rule][description]]}")
    } else if (am.contains("notice run-parts")) { // ref :113-122
      ev.mergeInto("[agent][parse_rule]", "RULE 10")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[destination][address]]} %{?data}-%{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]}")
    } else if (am.contains("info logger:")) { // ref :123-132
      ev.mergeInto("[agent][parse_rule]", "RULE 11")
      Dissect(ev, "actual_msg",
        "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{[[source][address]]} %{?data} %{[[process][name]]}: [%{?data}] %{[[source][ip]]} %{?data} %{?data} %{[[url][path]]} %{[[event][id]]}")
    } else if (am.contains("authentication failure")) { // ref :133-159
      Dissect(ev, "actual_msg", f5Prefix + "%{auth_failure}")
      val af = ev.getString("auth_failure").getOrElse("")
      if (af.contains("pam_unix")) {
        ev.mergeInto("[agent][parse_rule]", "rule 12a")
        Dissect(ev, "auth_failure",
          "%{?data}: %{[[rule][description]]}; %{?data} ruser=%{[[user][name]]} rhost=%{[[source][ip]]}")
      } else if (af.contains("auth_pam")) {
        ev.mergeInto("[agent][parse_rule]", "rule 12b")
        Dissect(ev, "auth_failure",
          "[%{data}] [%{data}] [client %{[[source][ip]]}:%{[[source][port]]}] %{?data} user '%{[[user][name]]}' %{?data} - %{[[rule][description]]}, referer: %{[[url][full]]}")
      }
    }
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss"), "[event][created_ms]",
      timezone = "GMT", locale = "en", defaultYear = ctx.tsYear)) // ref :161-166
      ev.remove("[event][created]")
    Seq("actual_msg", "[log][date]", "auth_failure", "data").foreach(ev.remove) // ref :167-169
    // ref :170-180 — translate on [event][severity_name], which no branch
    // sets: a no-op on every event (rule.category never surfaces)
    ev.getString("[event][severity_name]").foreach { sev =>
      ev.set("[rule][category]", Map("ERRR" -> "Security/Failed Activity",
        "INFO" -> "Security/Activity", "NOTE" -> "Security/Activity",
        "WARN" -> "Security/Warning").getOrElse(sev, "Others"))
    }
  }
}
