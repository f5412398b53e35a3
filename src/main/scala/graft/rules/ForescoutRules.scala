package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, Kv, Mutate, SyslogPri}

/** forescout.counteract_nac — semantic port of
  * config/processors/syslog_security_forescout.counteract.nac.conf (332
  * lines): syslog header + pri, then the CounterAct branch family — the
  * NAC-policy/application-status group (RULEs 1-8), the standalone threat
  * Log kv (RULE 9/10), and the custom-syslog-action JSON event (RULE 11)
  * with its ~24 inventory renames — followed by the severity→category
  * translate and the host.hostname replicate into host.name /
  * log.source.hostname.
  *
  * Notes: [event][duration] (RULE 6) is parsed, stripped and then deleted
  * by the conf's own remove_field (ref :305) — it never surfaces; the kv
  * `field_split => " ,"` decode is realized as `", "` pair split + value
  * trim (the plugin scanner's \s* tolerance); "RULE 8 " keeps its
  * reference trailing space (ref :203). */
object ForescoutRules {

  private val r11Grok = // ref :254-256
    "^(?<[event][start]>\\w+\\s+\\w+\\s+\\d+:\\d+:\\d+)\\s+(?<[source][address]>.*?)\\s(?<[process][name]>.*?)\\[(?<[source][port]>\\d+)]: (?<json_data>.*?)$"

  private val sevDict: Map[String, String] = Map( // ref :308-321
    "ERRR" -> "Security/Failed Activity", "INFO" -> "Security/Activity",
    "WARN" -> "Security/Other", "Lost" -> "Security/Failed Activity",
    "Failed" -> "Security/Failed Activity", "6" -> "Security/Failed Activity",
    "3" -> "Security/Failed Activity")

  private def cactKvAndRenames(ev: Event): Unit = { // ref :57-70 / :221-233
    Kv.withPattern(ev, "somedata", ", ", ':', target = "cact", trimValue = " ")
    ev.rename("[cact][Type]", "[service][type]")
    ev.rename("[cact][Source]", "[source][ip]")
    ev.rename("[cact][Target]", "[destination][ip]")
    ev.rename("[cact][Vendor]", "[host][type]")
    ev.rename("[cact][Severity]", "[event][severity_name]")
  }

  def counteract(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "forescout") // ref :9-13
    ev.set("[event][dataset]", "forescout.counteract_nac")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :14-18
    SyslogPri(ev) // ref :19-22
    val am0 = ev.getString("actual_msg").getOrElse("")
    if (am0.contains(": NAC Policy Log:") || am0.contains("Application status")) { // ref :23-211
      ev.mergeInto("[agent][parse_rule]", "RULE 1")
      Mutate.gsub(ev, "actual_msg", "\\r", "")
      Mutate.gsub(ev, "actual_msg", "[\"]", "")
      Dissect(ev, "actual_msg",
        "%{[[event][start]]->} %{+[[event][start]]} %{+[[event][start]]} %{rest_msg}")
      val am = ev.getString("actual_msg").getOrElse("")
      if (am.contains(": Log:")) { // ref :36-71
        if (am.contains(" CounterAct - ")) {
          ev.mergeInto("[agent][parse_rule]", "RULE 2")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} CounterAct - %{[[host][hostname]]}[%{[[source][port]]}]: %{?[[check][del]]}. %{?del}: %{?del1}: %{[[rule][ruleset]]} %{?del} %{somedata}")
        } else {
          ev.mergeInto("[agent][parse_rule]", "RULE 3")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} Counteract - %{[[host][hostname]]->} %{?[[check][del]]}. %{?del}: %{?del1}: %{[[rule][ruleset]]} %{?del} %{somedata}")
        }
        cactKvAndRenames(ev)
      } else if (am.contains("Application status") && am.contains("EM connection status:") &&
        am.contains("Assigned hosts:") && am.contains("Engine status:")) { // ref :72-111
        ev.mergeInto("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "rest_msg", "%{?data} %{chk_data} %{?data}")
        if (ev.getString("chk_data").contains("-")) { // Option.contains: exact == "-" (ref :81)
          ev.mergeInto("[agent][parse_rule]", "RULE 4 (1)")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} - %{[[host][hostname]]}[%{[[source][port]]}]: Application status: %{[[service][state]]};Connected clients: %{[[source][address]]};EM connection status: %{[[event][action]]};Assigned hosts: %{?[[hosts][assigned]]};Engine status: %{[[rule][name]]};Installed Plugins: %{?installed_plugins}")
        } else if (ev.getString("rest_msg").exists(_.contains("Recovery EM:"))) {
          ev.mergeInto("[agent][parse_rule]", "RULE 4 (2)")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} %{?data} -%{[[host][hostname]]} %{?data}: Application status: %{[[service][state]]};Connected clients: %{[[source][address]]};Recovery EM: %{[[source][ip]]};EM connection status: %{[[event][action]]};Assigned hosts: %{?[[hosts][assigned]]};Engine status: %{[[rule][name]]};Installed Plugins: %{?installed_plugins}")
        } else {
          ev.mergeInto("[agent][parse_rule]", "RULE 4 (3)")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} %{[[host][hostname]]}[%{[[process][pid]]}]: Application status: %{[[service][state]]};Connected clients: %{[[source][address]]};EM connection status: %{[[event][action]]};Assigned hosts: %{?[[hosts][assigned]]};Engine status: %{[[rule][name]]};Installed Plugins: %{?installed_plugins}")
        }
      } else if (am.contains("Application status") && am.contains("Attacked Services:")) { // ref :112-127
        ev.mergeInto("[agent][parse_rule]", "RULE 4 (a)")
        Dissect(ev, "rest_msg",
          "%{[[source][address]]} - %{[[host][hostname]]}[%{[[source][port]]}]: Application status: %{[[service][state]]};%{kv_msg}")
        Kv(ev, "kv_msg", ';', ':', target = "fsnac")
      } else if (am.contains(": NAC Policy ")) { // ref :128-200
        ev.mergeInto("[agent][parse_rule]", "RULE 5")
        Dissect(ev, "rest_msg", "%{?data} %{?data} %{chk_data} %{?data}")
        val chk = ev.getString("chk_data").getOrElse("")
        val rm = ev.getString("rest_msg").getOrElse("")
        if (chk == "-") {
          ev.mergeInto("[agent][parse_rule]", "RULE 5 (a)")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} %{?data} - %{[[host][hostname]]}[%{[[source][port]]}]: NAC Policy Log: Source: %{[[source][ip]]}, Rule: %{?[[rule][details]]} , Match: %{?[[rule][description]]}, Category: %{?category}, %{rest_msg1}")
        } else if (rm.contains("MAC Address-") && !chk.startsWith("-")) {
          ev.mergeInto("[agent][parse_rule]", "RULE 5 (b)")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} %{[[host][hostname]]}[%{[[source][port]]}]: NAC Policy Log: Source: MAC Address-%{[[source][mac]]}, Rule: %{?[[rule][details]]} , Match: %{?[[rule][description]]}, Category: %{?category}, %{rest_msg1}")
        } else if (rm.contains("MAC Address-") && chk.startsWith("-")) {
          ev.mergeInto("[agent][parse_rule]", "RULE 5 (c)")
          Dissect(ev, "rest_msg",
            "%{[[source][address]]} %{?data} -%{[[host][hostname]]} %{?data}: NAC Policy Log: Source: MAC Address-%{[[source][mac]]}, Rule: %{?[[rule][details]]} , Match: %{?[[rule][description]]}, Category: %{?category}, %{rest_msg1}")
        }
        val r1 = ev.getString("rest_msg1").getOrElse("")
        if (r1.contains("Duration :") || r1.contains("Duration:")) { // ref :167-176
          ev.mergeInto("[agent][parse_rule]", "RULE 6")
          Dissect(ev, "rest_msg1", "%{msg} Duration: %{[[event][duration]]}")
        }
        if (r1.contains("MAC Address changed from") && r1.contains("Duration:")) { // ref :177-186
          ev.mergeInto("[agent][parse_rule]", "RULE 7")
          Dissect(ev, "rest_msg1",
            "%{msg} MAC Address changed from %{[[source][mac]]} to %{[[destination][mac]]}. %{?data}")
        }
        if (r1.contains("MAC Address changed from") && !r1.contains("Duration:")) { // ref :187-196
          ev.mergeInto("[agent][parse_rule]", "RULE 7")
          Dissect(ev, "rest_msg1",
            "%{msg} MAC Address changed from %{[[source][mac]]} to %{[[destination][mac]]}")
        }
        Mutate.strip(ev, "[event][duration]")
      } else { // ref :201-210
        ev.mergeInto("[agent][parse_rule]", "RULE 8 ") // trailing space: ref :203
        Dissect(ev, "rest_msg",
          "%{[[source][address]]} CounterAct - %{[[host][hostname]]}[%{[[source][port]]}]: %{[[event][original]]}")
      }
    } else if (am0.contains(":") && am0.contains("Log:") && am0.contains("CounterAct -") &&
      am0.contains("Source:") && am0.contains("Target:")) { // ref :212-234
      ev.mergeInto("[agent][parse_rule]", "RULE 9")
      Dissect(ev, "actual_msg",
        "%{[[event][start]]->} %{+[[event][start]]} %{+[[event][start]]} %{[[source][address]]} CounterAct - %{[[host][hostname]]}[%{[[source][port]]}]: %{?[[check][del]]}. %{?del}: %{?del1}: %{[[rule][ruleset]]} %{?del} %{somedata}")
      cactKvAndRenames(ev)
    } else if (am0.contains(":") && am0.contains("Log:") && am0.contains("CounterAct -") &&
      am0.contains("Source:")) { // ref :235-244
      ev.mergeInto("[agent][parse_rule]", "RULE 10")
      Dissect(ev, "actual_msg",
        "%{[[event][start]]->} %{+[[event][start]]} %{+[[event][start]]} %{[[source][address]]} CounterAct - %{[[host][hostname]]}[%{[[source][port]]}]: %{?[[check][del]]} Source: %{[[source][ip]]}, %{?data}")
    } else if (am0.matches("(?is)^.*?Non (\\w+ )?Device Detected.*")) { // ref :249-290
      ev.mergeInto("[agent][parse_rule]", "RULE 11")
      ev.remove("host")
      Grok(ev, "actual_msg", Seq(r11Grok))
      Mutate.lowercase(ev, "json_data")
      JsonOps.parse(ev, "json_data", "tmp_data")
      ev.rename("[tmp_data][rule_name]", "[rule][name]")
      ev.rename("[tmp_data][action]", "[event][action]")
      ev.rename("[tmp_data][project_name]", "[package][name]")
      ev.rename("[tmp_data][online]", "[event][type]")
      ev.rename("[tmp_data][netbiosname]", "[host][name]")
      ev.rename("[tmp_data][ip]", "[source][ip]")
      ev.rename("[tmp_data][segment_path]", "[package][path]")
      ev.rename("[tmp_data][user_name]", "[user][name]")
      ev.rename("[tmp_data][mac]", "[source][mac]")
      ev.rename("[tmp_data][dns_hostname]", "[host][domain]")
      ev.rename("[tmp_data][dhcp_hostname]", "[network][name]")
      ev.rename("[tmp_data][nic_vendor]", "[observer][vendor]")
      ev.rename("[tmp_data][ad_display_name]", "[user][full_name]")
      ev.rename("[tmp_data][ad_username]", "[source][user][name]")
      ev.rename("[tmp_data][sw_ip_port]", "[observer][ingress][interface][name]")
      ev.rename("[tmp_data][sw_port_alias]", "[observer][ingress][interface][alias]")
      ev.rename("[tmp_data][num_of_hosts_on_port]", "[observer][ingress][interface][host_count]")
      ev.rename("[tmp_data][function]", "[event][category]")
      ev.rename("[tmp_data][os]", "[host][os][full]")
      ev.rename("[tmp_data][vendor_model]", "[observer][product]")
      ev.rename("[tmp_data][wlan_ap_name]", "[observer][ingress][vlan][name]")
      ev.rename("[tmp_data][wlan_ctp_ip]", "[observer][ip]")
      ev.rename("[tmp_data][wlan_ssid]", "[host][id]")
      ev.rename("[tmp_data][serial_number]", "[host][serial]")
    }
    if (ev.getString("[source][ip]").exists(_.contains("MAC Address"))) { // ref :291-296
      ev.mergeInto("[agent][parse_rule]", "Invalid IP value")
      ev.remove("[source][ip]")
    }
    if (Dates(ev, "[event][start]", // ref :297-302
      Seq("MMM dd HH:mm:ss", "MMM dd HH:mm:ss.SSS ZZZ", "MMM dd HH:mm:ss.SSS", "MMM  dd HH:mm:ss"),
      "[event][start_ms]", timezone = "GMT", locale = "en", defaultYear = ctx.tsYear))
      ev.remove("[event][start]")
    Seq("tmp_data", "actual_msg", "[log][date]", "server.host", "msg", "kv_msg", // ref :304-306
      "chk_data", "[event][duration]", "cact", "somedata", "fsnac", "rest_msg",
      "rest_msg1", "json_data").foreach(ev.remove)
    ev.getString("[event][severity_name]").foreach { sev => // ref :308-321
      ev.set("[rule][category]", sevDict.getOrElse(sev, "Others"))
    }
    ev.getString("[host][hostname]").foreach { h => // ref :322-328
      if (h != "") {
        Mutate.replace(ev, "[host][name]", "%{[host][hostname]}")
        Mutate.replace(ev, "[log][source][hostname]", "%{[host][hostname]}")
      }
    }
  }
}
