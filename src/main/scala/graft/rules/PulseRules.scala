package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate, SyslogPri}

/** pulse_secure.vpn — semantic port of
  * config/processors/syslog_security_juniper_pulse.ssl.vpn.conf (459 lines):
  * syslog header + pri, one wide positional dissect that peels the
  * PulseSecure preamble into (created, host, source ip, user, realm, roles,
  * description), a 20-rule description ladder, and a SECOND ladder that
  * classifies the description into [rule][category] — every event stacks its
  * ladder parse_rules with its classification parse_rule (Logstash add_field
  * array promotion).
  *
  * Mirrored reference accidents:
  *  - RULE 3's dissect is the literal mapping `hello%{msg}` (ref :52-56) —
  *    it never matches a real description, so System()[] traps that are not
  *    logMessageTrap carry `_dissectfailure`.
  *  - The ladder gate for logins is case-INSENSITIVE (`(?i)Login succeeded
  *    for`, ref :259) but the classification regex `login succeeded`
  *    (ref :344) is case-sensitive — web "Login succeeded" events classify
  *    as RULE 27 Others while "Agent login succeeded" hits RULE 18.
  *  - RULE 12 (a)'s gate compares the whole description with `==`
  *    (ref :183) — never true for real messages; 12 (b) always runs.
  *  - RULE 8's mapping misquotes its skip tokens (`'%{?[source][user][name]]}
  *    having`, ref :145) so the skipped capture swallows the closing quote —
  *    harmless, mirrored verbatim.
  */
object PulseRules {

  private val mainDissect = // ref :26-30
    "%{?data} %{[[event][created]]} %{[[source][address]]} PulseSecure: %{?data} %{?data} %{?data} %{?data} %{?data} %{?data} %{?data} %{?data} [%{[[source][ip]]}] %{[[source][user][name]]}(%{group.domain})[%{event_info}] - %{event_description}"

  private val createdFormats = // ref :447-452
    Seq("yyyy-MM-dd'T'HH:mm:ssZ", "ISO8601", "yyyy-MM-dd't'HH:mm:ss.SSSz")

  private def desc(ev: Event): String = ev.getString("event_description").getOrElse("")

  def pulseVpn(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "pulse_secure") // ref :9-12
    ev.set("[event][dataset]", "pulse_secure.vpn")
    Mutate.strip(ev, "message") // ref :13-16
    Mutate.gsub(ev, "message", "\\\"", "'")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :17-21
    SyslogPri(ev) // ref :22-25
    Dissect(ev, "actual_msg", mainDissect) // ref :26-30
    val d0 = desc(ev)
    if (d0.contains("System()[]")) { // ref :31-58 (regex System\(\)\[\])
      ev.mergeInto("[agent][parse_rule]", "RULE 1")
      Mutate.gsub(ev, "event_description", "[\\]](?=[^\\]]*$)", "x_x;") // last ']'
      if (desc(ev).contains("Sending logMessageTrap")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 2")
        Dissect(ev, "event_description",
          "Sending logMessageTrap [ logID='%{[[event][id]]}' logType='%{[[event][type]]}' logDescription='%{[[rule][description]]}' x_x;%{?data}")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 3")
        Dissect(ev, "event_description", "hello%{msg}") // ref :52-56 — never matches
      }
    } else if (d0.contains("Host Checker policy") && d0.contains("passed on")) { // ref :59-93
      ev.mergeInto("[agent][parse_rule]", "RULE 4")
      if (d0.contains("address") && d0.contains("session")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 4 (a)")
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{+[[event][code]]} %{[[event][type]]} '%{[[event][action]]}' %{[[event][outcome]]} on host '%{?data}' address '%{[[source][mac]]}'  for user '%{[[server][user][id]]}'  session '%{[[trace][id]]}'%{?data}")
      } else if (d0.contains("address")) { // ref :73 (`!= "session"` — whole-string compare, always true)
        ev.mergeInto("[agent][parse_rule]", "RULE 4 (a)")
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{+[[event][code]]} %{[[event][type]]} '%{[[event][action]]}' %{[[event][outcome]]} on host '%{?data}' address '%{[[source][mac]]}'  for user '%{[[server][user][id]]}'%{?data}")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 4 (b)")
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{+[[event][code]]} %{[[event][type]]} '%{[[event][action]]}' %{[[event][outcome]]} on host %{[[destination][ip]]}  for user '%{[[server][user][id]]}'%{?data}")
      }
    } else if (d0.contains("Host Checker policy") && d0.contains("failed on")) { // ref :94-118
      ev.mergeInto("[agent][parse_rule]", "RULE 5")
      if (d0.contains(" address ") && d0.contains("reason")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 5 (a)")
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{+[[event][code]]} %{[[event][type]]} '%{[[event][action]]}' %{[[event][outcome]]} on host '%{?data}' address '%{[[source][mac]]}'  for user '%{[[server][user][id]]}' %{?data} reason '%{[[rule][description]]}' session '%{[[trace][id]]}'%{?data}")
      } else if (d0.contains("Reason")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 5 (b)")
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{+[[event][code]]} %{[[event][type]]} '%{[[event][action]]}' %{[[event][outcome]]} on host %{?data} Reason: '%{[[rule][description]]}'%{?data}")
      }
    } else if (d0.contains("Received OCSP response")) { // ref :119-128
      ev.mergeInto("[agent][parse_rule]", "RULE 6")
      Dissect(ev, "event_description",
        "%{[[event][code]]} %{+[[event][code]]} %{+[[event][code]]} %{?data} '%{[[destination][ip]]}' with url '%{[[url][full]]}', user: '%{?data}'; serial number: '%{?[[device][serial_number]]}'%{?data}")
    } else if (d0.contains("Sending OCSP request")) { // ref :129-138
      ev.mergeInto("[agent][parse_rule]", "RULE 7")
      Dissect(ev, "event_description",
        "%{[[event][code]]} %{+[[event][code]]} %{+[[event][code]]} %{?data} '%{[[source][ip]]}' with url '%{[[url][full]]}'; user: '%{?data}'; serial number: '%{?[[device][serial_number]]}'%{?data}")
    } else if (d0.contains("OCSP checking successfully passed") || d0.contains("OCSP checking started")) { // ref :139-148
      ev.mergeInto("[agent][parse_rule]", "RULE 8")
      Dissect(ev, "event_description",
        "%{[[event][code]]} %{+[[event][code]]} %{+[[event][code]]} %{+[[event][code]]} %{?data}: '%{?[source][user][name]]} having %{?certificate version} certificate '%{[[tls][client][subject]]}' with serial number: '%{?[[device][serial_number]]}' issued by '%{?issued_by}'%{?data}")
    } else if (d0.contains("Primary authentication successful") || d0.contains("Primary authentication failed")) { // ref :149-158
      ev.mergeInto("[agent][parse_rule]", "RULE 9")
      Mutate.addField(ev, "[rule][description]", "%{event_description}")
    } else if (d0.contains("Key Exchange number")) { // ref :159-168
      ev.mergeInto("[agent][parse_rule]", "RULE 10")
      Dissect(ev, "event_description",
        "Key Exchange number %{?key_exchange_number} occurred for user with NCIP %{[[destination][ip]]}")
    } else if (d0.contains("VPN Tunneling: User")) { // ref :169-178
      ev.mergeInto("[agent][parse_rule]", "RULE 11")
      Dissect(ev, "event_description",
        "%{[[event][code]]}: User with IP %{[[source][nat][ip]]} connected with %{[[event][action]]}")
    } else if (d0.contains("VPN Tunneling: Session ended")) { // ref :179-203
      ev.mergeInto("[agent][parse_rule]", "RULE 12")
      if (d0 == "VPN Tunneling: Session ended for user with IPv4 address") { // ref :183 — never true
        ev.mergeInto("[agent][parse_rule]", "RULE 12 (a)")
        Dissect(ev, "event_description",
          "%{[[event][code]]}: %{[[event][type]]} with %{[[rule][description]]}")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 12 (b)")
        Dissect(ev, "event_description",
          "%{[[event][code]]}: %{[[event][type]]}  (session: %{[[trace][id]]}) with IPv4 address %{[[source][nat][ip]]}")
      }
    } else if (d0.contains("VPN Tunneling: Session started")) { // ref :204-213
      ev.mergeInto("[agent][parse_rule]", "RULE 13")
      Dissect(ev, "event_description",
        "%{[[event][code]]}: %{[[event][type]]}  (session: %{[[trace][id]]}) with IPv4 address %{[[source][nat][ip]]}, hostname %{[[host][name]]}")
    } else if (d0.contains("User Accounts modified")) { // ref :214-238
      ev.mergeInto("[agent][parse_rule]", "RULE 14")
      if (!d0.contains("Removed username") && d0.startsWith("User") && d0.contains("username")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 14 (a)")
        Dissect(ev, "event_description", "%{?data} username %{[[user][id]]} %{?data}")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 14 (b)")
        Dissect(ev, "event_description",
          "%{[[event][code]]}. Removed username %{[[source][user][name]]} %{?data}")
      }
    } else if (d0.contains("Session for user")) { // ref :239-248
      ev.mergeInto("[agent][parse_rule]", "RULE 15")
      Dissect(ev, "event_description",
        "%{[[event][code]]} for user %{[[source][user][name]]} on host %{?data} %{+[[event][code]]}")
    } else if (d0.contains("Host Checker time out")) { // ref :249-258
      ev.mergeInto("[agent][parse_rule]", "RULE HC-timeout")
      Dissect(ev, "event_description",
        "System process detected a %{[[event][code]]} %{+[[event][code]]} %{[[event][type]]} %{+[[event][type]]} on host %{?data}  for user '%{[[server][user][id]]}'%{?data}.")
    } else if (d0.toLowerCase.contains("login succeeded for")) { // ref :259 (?i)
      ev.mergeInto("[agent][parse_rule]", "RULE Login")
      if (d0.contains("Agent login")) { // ref :263-269
        Dissect(ev, "event_description",
          "%{[[event][type]]} %{[[event][code]]} %{[[event][action]]} for %{[[server][user][id]]}/%{?data} (session:%{[[trace][id]]}) from %{?data} with %{[[user_agent][name]]} (%{[[user_agent][os][version]]})%{?data}")
      } else if (d0.contains(" with ")) { // ref :270-276 (`!= "Agent login"` always true here)
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{[[event][action]]} for %{[[server][user][id]]}/%{?data} from %{?data} with %{[[user_agent][name]]} (%{[[user_agent][os][version]]})%{?data}")
      } else { // ref :277-287
        ev.rename("event_info", "[source][user][roles]")
        ev.rename("group.domain", "[group][name]")
        Dissect(ev, "event_description",
          "%{[[event][code]]} %{[[event][action]]} for %{[[server][user][id]]}/%{?data} from %{?data} via %{[[event][action]]}.")
      }
    } else if (d0.contains("Session resumed")) { // ref :289-299
      ev.mergeInto("[agent][parse_rule]", "VPNT-Session")
      ev.mergeInto("[event][code]", "VPN Tunneling")
      Dissect(ev, "event_description",
        "%{[[event][type]]} from user agent '%{[[user_agent][name]]} (%{[[user_agent][os][name]]}) %{?data}' (session:%{[[trace][id]]}).")
    } else if (d0.contains("Closed connection to")) { // ref :300-310
      ev.mergeInto("[agent][parse_rule]", "VPNT-Closed")
      ev.mergeInto("[event][code]", "VPN Tunneling")
      Dissect(ev, "event_description",
        "%{[[event][action]]} %{+[[event][action]]} to %{[[source][nat][ip]]} after %{[[event][duration]]} %{?data}, with %{[[source][bytes]]} bytes read and %{[[destination][bytes]]} bytes written")
    } else if (d0.contains("Logout from")) { // ref :311-320
      ev.mergeInto("[agent][parse_rule]", "Logout")
      Dissect(ev, "event_description", "%{[[event][code]]} from %{?data} (session:%{[[trace][id]]})")
    } else { // ref :321-330
      ev.mergeInto("[agent][parse_rule]", "RULE 16")
      Dissect(ev, "event_description", "%{[[rule][description]]}")
    }
    // ref :331-443 — classification ladder (on the post-gsub description)
    val d = desc(ev)
    if (d.contains("Primary authentication failed") || d.contains("Login failed")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 17")
      ev.mergeInto("[event][code]", "login")
      ev.mergeInto("[event][action]", "failed")
      ev.mergeInto("[rule][category]", "Audit/Authentication Failure")
    } else if (d.contains("Primary authentication successful") || d.contains("Logout from") || d.contains("login succeeded")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 18")
      ev.mergeInto("[rule][category]", "Audit/Authentication Success")
    } else if (d.contains("User Accounts modified")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 19")
      ev.mergeInto("[rule][category]", "Audit/Account Modified")
    } else if (d.contains("Remote address for")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 20")
      ev.mergeInto("[rule][category]", "Audit/Configuration")
    } else if (d.contains("NTP server") && d.contains("unreachable")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 21")
      ev.mergeInto("[rule][category]", "Ops/Error")
    } else if (d.contains("OCSP") || d.contains("Key Exchange number") ||
      d.contains("Number of concurrent users") ||
      ev.getString("message").exists(_.contains("Sending logMessageTrap")) ||
      d.contains("Number of NCP connections") || d.contains("Transport mode switched")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 22")
      ev.mergeInto("[rule][category]", "Audit/Information")
    } else if (d.contains("Closed connection to") ||
      (d.contains("VPN Tunneling") && !d.contains("Session"))) {
      ev.mergeInto("[agent][parse_rule]", "RULE 23")
      ev.mergeInto("[rule][category]", "Ops/Network Traffic")
    } else if (d.contains("Testing Password realm") ||
      (d.contains("Host Checker policy") && d.contains("failed on"))) {
      ev.mergeInto("[agent][parse_rule]", "RULE 24")
      ev.mergeInto("[rule][category]", "Audit/Other Audit Failure")
    } else if ((d.contains("Host Checker policy") && d.contains("passed on")) ||
      (d.contains("Session") && d.contains("user"))) {
      ev.mergeInto("[agent][parse_rule]", "RULE 25")
      ev.mergeInto("[rule][category]", "Audit/Other Audit Success")
    } else if (d.contains("Host Checker time out") || d.contains("Max session timeout ")) {
      ev.mergeInto("[agent][parse_rule]", "RULE 26")
      ev.mergeInto("[rule][category]", "Ops/Warning")
    } else {
      ev.mergeInto("[agent][parse_rule]", "RULE 27")
      ev.mergeInto("[rule][category]", "Others")
    }
    Mutate.gsub(ev, "[log][date_time]", "'", "") // ref :444-446
    if (Dates(ev, "[event][created]", createdFormats, "[event][created_ms]",
      timezone = "GMT", locale = "en")) // ref :447-452
      ev.remove("[event][created]")
    Seq("[log][date_time]", "event_description", "actual_msg", "msg", "event_info")
      .foreach(ev.remove) // ref :453-455
  }
}
