package graft.rules

import graft.model.Event
import graft.parse._

/** juniper.fw_traffic — semantic port of
  * config/processors/syslog_security_juniper.fw.conf (370 LoC, 24 parse
  * rules over the junos structured-syslog families). Mirrored quirks:
  *  - the APPTRACK umbrella (RULE 2) stacks with its CLOSE/CREATE refinement
  *    (RULE 3/RULE 4) — parse_rule becomes "RULE 2,RULE 3" etc.; the IKE
  *    umbrella does the same with RULE 17 + 18/19.
  *  - the final rename block addresses "source.idk_id"/"destination.idk_id"
  *    as FLAT dotted keys, but the dissects captured nested
  *    [source][idk_id]/[destination][idk_id] — both renames are dead.
  *  - RULE 12 captures admin-status and operational-status into the SAME
  *    [rule][ruleset] slot — the second capture wins.
  *  - RULE 14's trigger probes [message], not [actual_msg].
  *  - RULE 20 ("%" fallback) SKIPS its event.created capture (`%{?...}`), so
  *    created falls back to the enrichment-03 default.
  *  - [destination][nat][ip] containing a letter is dropped (ref :352-358).
  */
object JuniperRules {

  private val head =
    "%{?data} %{[[event][created]]} %{?hostname} %{[[rule][name]]} [%{[[source][user][name]]} "

  private def rule(ev: Event, name: String, category: String): Unit = {
    Mutate.addField(ev, "[agent][parse_rule]", name)
    if (category != null) Mutate.addField(ev, "[rule][category]", category)
  }

  def fwTraffic(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "juniper")
    ev.set("[event][dataset]", "juniper.fw_traffic")
    Mutate.strip(ev, "message")
    Mutate.gsub(ev, "message", "\"", "'")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    val msg = ev.getString("message").getOrElse("")
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("RT_FLOW_SESSION_DENY")) {
      rule(ev, "RULE 1", "Ops/Network Deny")
      Dissect(ev, "actual_msg", head +
        "source-address='%{[[source][ip]]}' source-port='%{[[source][port]]}' destination-address='%{[[destination][ip]]}' destination-port='%{[[destination][port]]}' service-name='%{[[service][name]]}' protocol-id='%{[[network][iana_number]]}' icmp-type='%{[[network][type]]}' policy-name='%{[[rule][id]]}' source-zone-name='%{[[source][domain]]}' destination-zone-name='%{[[destination][domain]]}' application='%{?application_name}' nested-application='%{[[network][application]]}' username='%{[[user][name]]}' roles='%{?roles}' packet-incoming-interface='%{?packet_incoming_interface}' encrypted='%{?is_encrypted}' reason='%{[[event][action]]}'] %{?[[rule][description]]}")
    } else if (am.contains("APPTRACK_SESSION_CREATE") || am.contains("APPTRACK_SESSION_CLOSE")) {
      rule(ev, "RULE 2", null)
      Dissect(ev, "actual_msg", head +
        "source-address='%{[[source][ip]]}' source-port='%{[[source][port]]}' destination-address='%{[[destination][ip]]}' destination-port='%{[[destination][port]]}' service-name='%{[[service][name]]}' nat-source-address='%{[[source][nat][ip]]}' nat-source-port='%{[[source][nat][port]]}' nat-destination-address='%{[[destination][nat][ip]]}' nat-destination-port='%{[[destination][nat][port]]}' src-nat-rule-name='%{[[source][nat][rule_name]]}' dst-nat-rule-name='%{[[destination][nat][rule_name]]}' protocol-id='%{[[network][iana_number]]}' policy-name='%{[[rule][id]]}' source-zone-name='%{[[source][domain]]}' destination-zone-name='%{[[destination][domain]]}' session-id-32='%{[[service][id]]}' username='%{[[user][name]]}' encrypted='%{?is_encrypted}'] %{[[rule][description]]}")
      if (ev.getString("[rule][name]").exists(_.contains("APPTRACK_SESSION_CLOSE")))
        rule(ev, "RULE 3", "Ops/Information")
      else
        rule(ev, "RULE 4", "Ops/Network Traffic")
    } else if (am.contains("RT_ALG_WRN_CFG_NEED")) {
      rule(ev, "RULE 5", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "name='%{name}' message='%{[[event][message]]}'] %{[[rule][description]]}")
    } else if (am.contains("WEBFILTER_URL_PERMITTED")) {
      rule(ev, "RULE 6", "Ops/Network Allow")
      Dissect(ev, "actual_msg", head +
        "source-address='%{[[source][ip]]}' source-port='%{[[source][port]]}' destination-address='%{[[destination][ip]]}' destination-port='%{[[destination][port]]}' name='%{name}' error-message='%{[[error][message]]}' profile-name='%{?profile_name}' object-name='%{?object_name}' pathname='%{[[url][path]]}' username='%{[[user][name]]}' roles='%{?roles}'] %{[[rule][description]]}")
    } else if (am.contains("WEBFILTER_REQUEST_NOT_CHECKED")) {
      rule(ev, "RULE 7", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "error-message='%{[[error][message]]}'] %{[[rule][description]]}")
    } else if (am.contains("WEB_AUTH_FAIL")) {
      rule(ev, "RULE 8", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head + "username='%{[[user][name]]}'] %{[[rule][description]]}")
    } else if (am.contains("SNMPD_AUTH_FAILURE")) {
      rule(ev, "RULE 9", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "function-name='%{function_name}' message='%{[[event][original]]}' source-address='%{[[source][ip]]}' destination-address='%{[[destination][ip]]}' index1='%{index_1}'] %{[[rule][description]]}")
    } else if (am.contains("SNMPD_AUTH_RESTRICTED_ADDRESS")) {
      rule(ev, "RULE 10", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "function-name='%{function_name}' source-address='%{[[source][ip]]}'] %{[[rule][description]]}")
    } else if (am.contains("KMD_PM_SA_ESTABLISHED")) {
      rule(ev, "RULE 11", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "local-address='%{[[source][ip]]}' remote-address='%{[[destination][ip]]}' local-initiator='%{[[source][address]]}' remote-responder='%{[[destination][address]]}' argument1='%{[[network][direction]]}' index1='%{index_1}' index2='%{index_2}' mode='%{[[process][name]]}' type='%{[[service][type]]}' traffic-selector-name='%{?traffic_selector_name}'] %{[[rule][description]]}")
    } else if (am.contains("SNMP_TRAP_LINK_UP") || am.contains("SNMP_TRAP_LINK_DOWN")) {
      rule(ev, "RULE 12", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "snmp-interface-index='%{[[observer][ingress][interface][id]]}' admin-status='%{[[rule][ruleset]]}' operational-status='%{[[rule][ruleset]]}' interface-name='%{[[observer][ingress][interface][name]]}'] %{[[rule][description]]}")
    } else if (am.contains("KMD_VPN_UP_ALARM_USER") || am.contains("KMD_VPN_DOWN_ALARM_USER")) {
      rule(ev, "RULE 13", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "vpn-name='%{vpn_name}' remote-address='%{[[destination][ip]]}' local-address='%{[[source][ip]]}' gateway-name='%{gateway_name}' group-name='%{[[group][name]]}' tunnel-id='%{?tunnel_id}' interface-name='%{[[observer][ingress][interface][name]]}' internal-ip='%{[[host][ip]]}' name='%{[[host][hostname]]}' peer-name='%{?peer_name}' client-name='%{[[source][address]]}' vrrp-group-id='%{[[group][id]]}' traffic-selector-name='%{?traffic_selector_name}' traffic-selector-cfg-local-id='%{?traffic_selector_cfg_source_id}' traffic-selector-cfg-remote-id='%{?traffic_selector_cfg-destination-id}'] %{[[rule][description]]}")
    } else if (msg.contains("RT_FLOW_SESSION_CLOSE")) { // probes [message]
      rule(ev, "RULE 14", "Ops/Information")
      Dissect(ev, "actual_msg", head +
        "reason='%{[[event][action]]}' source-address='%{[[source][ip]]}' source-port='%{[[source][port]]}' destination-address='%{[[destination][ip]]}' destination-port='%{[[destination][port]]}' service-name='%{[[service][name]]}' nat-source-address='%{[[source][nat][ip]]}' nat-source-port='%{[[source][nat][port]]}' nat-destination-address='%{[[destination][nat][ip]]}' nat-destination-port='%{[[destination][nat][port]]}' src-nat-rule-name='%{[[source][nat][rule_name]]}' dst-nat-rule-name='%{[[destination][nat][rule_name]]}' protocol-id='%{[[network][iana_number]]}' policy-name='%{[[rule][id]]}' source-zone-name='%{[[source][domain]]}' destination-zone-name='%{[[destination][domain]]}' session-id-32='%{[[service][id]]}' packets-from-client='%{[[source][packets]]}' bytes-from-client='%{[[source][bytes]]}' packets-from-server='%{[[destination][packets]]}' bytes-from-server='%{[[destination][bytes]]}' elapsed-time='%{[[event][duration]]}' application='%{?application_name}' nested-application='%{[[network][application]]}' username='%{[[user][name]]}' roles='%{?roles}' packet-incoming-interface='%{?packet_incoming_interface}' encrypted='%{?is_encrypted}'] %{[[rule][description]]}")
    } else if (am.contains("RT_FLOW_SESSION_CREATE")) {
      rule(ev, "RULE 15", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "source-address='%{[[source][ip]]}' source-port='%{[[source][port]]}' destination-address='%{[[destination][ip]]}' destination-port='%{[[destination][port]]}' service-name='%{[[service][name]]}' nat-source-address='%{[[source][nat][ip]]}' nat-source-port='%{[[source][nat][port]]}' nat-destination-address='%{[[destination][nat][ip]]}' nat-destination-port='%{[[destination][nat][port]]}' src-nat-rule-name='%{[[source][nat][rule_name]]}' dst-nat-rule-name='%{[[destination][nat][rule_name]]}' protocol-id='%{[[network][iana_number]]}' policy-name='%{[[rule][id]]}' source-zone-name='%{[[source][domain]]}' destination-zone-name='%{[[destination][domain]]}' session-id-32='%{[[service][id]]}' username='%{[[user][name]]}' roles='%{?roles}' packet-incoming-interface='%{?packet_incoming_interface}' application='%{?application_name}' nested-application='%{[network][application]}' encrypted='%{?is_encrypted}'] %{[[rule][description]]}")
    } else if (am.contains("APPTRACK_SESSION_VOL_UPDATE")) {
      rule(ev, "RULE 16", "Ops/Network Traffic")
      Dissect(ev, "actual_msg", head +
        "source-address='%{[[source][ip]]}' source-port='%{[[source][port]]}' destination-address='%{[[destination][ip]]}' destination-port='%{[[destination][port]]}' service-name='%{[[service][name]]}' application='%{?application_name}' nested-application='%{[[network][application]]}' nat-source-address='%{[[source][nat][ip]]}' nat-source-port='%{[[source][nat][port]]}' nat-destination-address='%{[[destination][nat][ip]]}' nat-destination-port='%{[[destination][nat][port]]}' src-nat-rule-name='%{[[source][nat][rule_name]]}' dst-nat-rule-name='%{[[destination][nat][rule_name]]}' protocol-id='%{[[network][iana_number]]}' policy-name='%{[[rule][id]]}' source-zone-name='%{[[source][domain]]}' destination-zone-name='%{[[destination][domain]]}' session-id-32='%{[[service][id]]}' packets-from-client='%{[[source][packets]]}' bytes-from-client='%{[[source][bytes]]}' packets-from-server='%{[[destination][packets]]}' bytes-from-server='%{[[destination][bytes]]}' elapsed-time='%{[[event][duration]]}' username='%{[[user][name]]}' roles='%{?roles}' encrypted='%{?is_encrypted}'] %{[[rule][description]]}")
    } else if (am.contains("IKE negotiation failed with error")) {
      rule(ev, "RULE 17", null)
      Dissect(ev, "actual_msg",
        "%{?data} %{[[event][created]]} %{?hostname} %{?data} %{?data} %{?data} %{?data} %{event_action}: SA %{?sa} IKE Version: %{ike_version}, VPN: %{vpn_name} Gateway: %{gateway_name}, Local: %{[[source][ip]]}/%{[[source][port]]}, Remote: %{[[destination][ip]]}/%{[[destination][port]]}, Local IKE-ID: %{[[source][idk_id]]}, Remote IKE-ID: %{[[destination][idk_id]]}, VR-ID: %{?vr_id}")
      if (ev.getString("event_action").exists(_.contains(":"))) {
        rule(ev, "RULE 18", null)
        Dissect(ev, "event_action", "%{?data}: %{[[rule][name]]}")
      } else {
        rule(ev, "RULE 19", null)
        Mutate.addField(ev, "[rule][name]", "%{event_action}")
      }
      Mutate.addField(ev, "[rule][category]", "Ops/Network Traffic")
    } else if (am.contains("%")) {
      rule(ev, "RULE 20", "Ops/Network Traffic")
      Dissect(ev, "actual_msg",
        "%{?data} %{?[[event][created]]}: %{?hostname} %{[[rule][description]]}")
    } else {
      rule(ev, "RULE 21", null)
      Dissect(ev, "actual_msg",
        "%{?data} %{[[event][created]]} %{?hostname} %{[[rule][description]]}")
      val rd = ev.getString("[rule][description]").getOrElse("")
      if (rd.contains("(root)")) rule(ev, "RULE 22", "Audit/Access Success")
      else if (rd.contains("last message repeated")) rule(ev, "RULE 23", "Ops/Information")
      else rule(ev, "RULE 24", "Ops/Network Traffic")
    }
    Dates(ev, "[event][created]", Seq("yyyy-MM-dd'T'HH:mm:ss.SSSZ"),
      "[event][created_ms]", timezone = "GMT", locale = "en")
    ev.remove("[event][created]")
    // dead dotted-key renames kept verbatim (the dissected fields are nested)
    ev.rename("source.idk_id", "[network][name]")
    ev.rename("destination.idk_id", "[destination][nat][ip]")
    ev.rename("ike_version", "[network][iana_number]")
    ev.rename("vpn_name", "[network][name]")
    Seq("event_action", "[client][as][number]", "[client][as][organization][name]",
      "[destination][as][number]", "[destination][as][organization][name]",
      "[server][as][number]", "[server][as][organization][name]",
      "[source][as][number]", "[source][as][organization][name]",
      "gateway_name", "index_1", "index_2", "actual_msg", "profile_name",
      "[source][nat][rule_name]", "[destination][nat][rule_name]").foreach(ev.remove(_))
    if (ev.getString("[destination][nat][ip]").exists(_.contains("a")))
      ev.remove("[destination][nat][ip]")
    if (ev.has("[host][hostname]")) ev.copyField("[host][hostname]", "[host][name]")
  }
}
