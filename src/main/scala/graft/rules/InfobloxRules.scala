package graft.rules

import graft.model.Event
import graft.parse._

/** infoblox.ipam_audit — semantic port of
  * config/processors/syslog_audit_infoblox.conf (412 LoC, 18 parse rules
  * over named/dhcpd/db_jnld syslog). Mirrored quirks:
  *  - the header dissect captures the syslog host into a FLAT `source_ip`
  *    field; only when no branch wrote [source][ip] is it renamed into the
  *    nested path (ref :369-381), and when [source][ip] exists the
  *    [gateway][ip] capture is dropped instead.
  *  - several mappings capture [source][port] twice — the second capture
  *    (the client port) wins.
  *  - RULE 8's query timestamp uses Joda "dd-MMM-YYYY" (year-of-era), which
  *    maps to Java yyyy (Dates handles the Joda dialect).
  *  - [event][created] is parsed in place and never removed; the leftover
  *    string is swept by 02's unparsed-date pass after the epoch landed.
  */
object InfobloxRules {

  private def rule(ev: Event, name: String, category: String): Unit = {
    Mutate.addField(ev, "[agent][parse_rule]", name)
    if (category != null) Mutate.addField(ev, "[rule][category]", category)
  }

  def ipamAudit(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "infoblox")
    ev.set("[event][dataset]", "infoblox.ipam_audit")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    Mutate.strip(ev, "actual_msg")
    Mutate.gsub(ev, "actual_msg", "\"", "'")
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.isEmpty) {
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 1 (dropped)")
      return Dropped
    }
    Pending(Seq(ev), ipamAuditBody(am))
  }

  private def ipamAuditBody(am: String)(ev: Event, ctx: ParseCtx): Unit = {
    Dissect(ev, "actual_msg",
      "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{source_ip} %{rest_msg}")
    val named = am.contains("named[")
    val dhcpd = am.contains("dhcpd[")
    if (named && am.contains("]: zone")) {
      rule(ev, "RULE 2", "Audit/Configuration")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: zone %{[[network][name]]}: %{[[rule][description]]}")
    } else if (named && am.contains("]: client")) {
      rule(ev, "RULE 2", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: client %{[[host][hostname]]} %{source_ip}#%{[[source][port]]}: %{[[rule][description]]}")
    } else if (named && am.contains("]: checkhints")) {
      rule(ev, "RULE 3", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: checkhints: %{[[rule][description]]}")
    } else if (named && am.contains(": GSS-TSIG authentication")) {
      rule(ev, "RULE 4", "Audit/Authentication Failure")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]:%{[[rule][description]]}")
    } else if (named && (am.contains("gss_accept_sec_context") || am.contains(": REFUSED"))) {
      rule(ev, "RULE 5", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]:%{[[rule][description]]}")
    } else if (named && am.contains(": Delete error:")) {
      rule(ev, "RULE 6", "Audit/Authentication Failure")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]:%{[[rule][description]]}")
    } else if (named && am.contains(": transfer of")) {
      rule(ev, "RULE 7", "Audit/Configuration")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: transfer of '%{[network][name]}' from %{[[destination][ip]]}#%{[[destination][port]]}: %{[[rule][description]]}")
    } else if (named && am.contains("client") && am.contains("query") && !am.contains(": Recursion")) {
      rule(ev, "RULE 8", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[event][start]]} %{+[[event][start]]} client %{[[source][ip]]}#%{[[source][port]]}: %{[[network][protocol]]}: %{[[rule][description]]}")
    } else if (am.contains("db_jnld:")) {
      rule(ev, "RULE 9", "Audit/Configuration")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}: %{[[event][action]]} of %{[[dns][question][type]]} '%{?dns_record_name}' in zone %{[[network][name]]}")
    } else if (dhcpd && (am.contains(": DHCPACK") || am.contains(": DHCPOFFER"))) {
      rule(ev, "RULE 10", "Audit/Information")
      Grok(ev, "rest_msg", Seq(
        "%{DATA:[[process][name]]}\\[(%{DATA:xyz})?\\]: %{DATA:[[event][action]]} on %{IP:[[gateway][ip]]} to %{DATA:[[source][mac]]} (?:\\(%{DATA:[[source][address]]}\\) )?%{GREEDYDATA:[[rule][description]]}",
        "%{DATA:[[process][name]]}\\[(%{DATA:xyz})?\\]: %{DATA:[[event][action]]} to %{IP:[[destination][ip]]} \\(%{DATA:[[source][mac]]}\\) %{GREEDYDATA:[[rule][description]]}"),
        Seq("_grokparsefailure"))
      ev.remove("xyz")
    } else if (dhcpd && (am.contains(": DHCPDISCOVER") || am.contains(": BOOTREQUEST") || am.contains(": DHCPDECLINE"))) {
      rule(ev, "RULE 11", "Audit/Information")
      Grok(ev, "rest_msg", Seq(
        "%{DATA:[[process][name]]}\\[(%{DATA:xyz})?\\]: %{DATA:[[event][action]]} from %{DATA:[[source][mac]]} via %{IP:[[destination][ip]]}(:)? %{GREEDYDATA:[[rule][description]]}"),
        Seq("_grokparsefailure"))
    } else if (dhcpd && am.contains(": DHCPINFORM")) {
      rule(ev, "RULE 12", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[event][action]]} from %{[[gateway][ip]]} via %{[[destination][ip]]} TransID %{[[event][id]]}")
    } else if (dhcpd && am.contains(": DHCPREQUEST") && am.contains("from")) {
      rule(ev, "RULE 12 (a)", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[event][action]]} %{?data} %{[[gateway][ip]]} %{?data}om %{[[source][mac]]} via %{[[destination][ip]]} TransID %{chk_data}")
      if (ev.getString("chk_data").exists(_.contains(" ")))
        Dissect(ev, "chk_data", "%{[[event][id]]} %{?uid}")
      else
        Dissect(ev, "chk_data", "%{[[event][id]]}")
      ev.remove("chk_data")
    } else if (dhcpd && am.contains(": DHCPEXPIRE")) {
      rule(ev, "RULE 13", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[event][action]]} on %{[[gateway][ip]]} to %{[[source][mac]]}")
    } else if (dhcpd && am.contains(": DHCPRELEASE")) {
      rule(ev, "RULE 14", "Audit/Configuration")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[event][action]]} of %{[[gateway][ip]]} from %{[[source][mac]]} (%{[[source][address]]}) %{[[rule][description]]}")
    } else if (dhcpd && am.contains(": r-l-e:")) {
      rule(ev, "RULE 15", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{?extra}:%{[[gateway][ip]]},%{[[event][action]]},%{[[source][address]]},%{[[source][mac]]},%{?extra}")
    } else if (dhcpd && (am.contains(": RELEASE") || am.contains(": DHCPNAK"))) {
      rule(ev, "RULE 16", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[event][action]]} %{[[rule][description]]}")
    } else if (!dhcpd && !named && !am.contains("db_jnld:")) {
      rule(ev, "RULE 17", "Audit/Information")
      Dissect(ev, "rest_msg", "%{[[rule][description]]}")
    } else {
      rule(ev, "RULE 18", "Audit/Information")
      Dissect(ev, "rest_msg",
        "%{[[process][name]]}[%{[[source][port]]}]: %{[[rule][description]]}")
    }
    // ref :369-381 — nested [source][ip] wins; else the flat header capture
    if (ev.has("[source][ip]")) {
      if (ev.has("[gateway][ip]")) ev.remove("[gateway][ip]")
    } else ev.rename("source_ip", "[source][ip]")
    Mutate.gsub(ev, "[log][date_time]", "'", "")
    Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss", "MMM d HH:mm:ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      defaultYear = ctx.tsYear)
    Dates(ev, "[event][start]", Seq("dd-MMM-YYYY HH:mm:ss.SSS"),
      "[event][start_ms]", timezone = "GMT", locale = "en")
    ev.remove("[event][created]"); ev.remove("[event][start]")
    if (ev.getString("[destination][ip]").exists(_.contains("eth")))
      ev.remove("[destination][ip]")
    if (ev.has("[host][hostname]")) {
      ev.copyField("[host][hostname]", "[host][name]")
      ev.copyField("[host][hostname]", "[log][source][hostname]")
    }
    ev.remove("[log][date_time]"); ev.remove("actual_msg"); ev.remove("rest_msg")
  }
}
