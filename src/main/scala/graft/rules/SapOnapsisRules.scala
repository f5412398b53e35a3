package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate, SyslogPri}
import scala.collection.mutable

/** sap.onapsis — semantic port of syslog_security_sap.onapsis.conf (130
  * lines; the SURVEY §2.3 date-format-list exhibit, ref :102-108).
  *
  * Flow: header grok + syslog_pri (:17-25); the heartbeat / no-`{name=}`
  * conditional (:30-36) whose `drop {}` is COMMENTED OUT in the reference —
  * heartbeat events get `[rule][category] = "hearbeat"` (reference typo,
  * mirrored) and then CONTINUE into the dissect, which fails on them; the
  * `%{[[log][date_time]]} {%{?data}} %{msg}` dissect (:37-41); the
  * `{"incident_type":` JSON branch (:43-110): json → [sap], the NO-OP
  * `lowercase => ["sap"]` on a hash (:48-50, mutate logs an error and leaves
  * the value), 19 renames to ECS, the alarm_profile_matches ruby collector
  * that OVERRIDES the renamed success value with the non-empty alarm-name
  * list (:71-86), the src ip-vs-hostname split whose hostname arm writes the
  * reference's `[source][adress]` TYPO verbatim (:89-97), the erp_host
  * if/else whose two arms are IDENTICAL — both rename to [destination][ip]
  * (:98-106, mirrored as an unconditional rename), and the 5-format date on
  * [event][created] in GMT (:107-112); the else-branch mega-grok (:114-118)
  * whose underscore capture names (destination_ip, source_ip, …) land as
  * TOP-LEVEL fields — no ECS mapping, never flattened; remove_field of
  * [sap]/[log][date_time]/msg/actual_msg (:120-122); and the 4-entry
  * event.type → rule.category translate with fallback "Others" (:123-133,
  * default no-override: heartbeat rows keep 'hearbeat'; source missing →
  * filter no-ops, so else-branch rows stay NULL).
  *
  * parse_rule is NEVER set by this conf — every row flattens as
  * "not parsed", successful or not (mirrored).
  */
object SapOnapsisRules {

  private val hbRe = java.util.regex.Pattern.compile("\"event_id\": \"HeartBeat")
  private val structRe = java.util.regex.Pattern.compile("^.*? \\{name=.*?\\} .*?$")
  private val ipv4ish = java.util.regex.Pattern.compile("\\d+\\.\\d+\\.\\d+\\.\\d+")

  private val sapRenames = Seq( // ref :51-70
    "[sap][event_type]" -> "[event][type]",
    "[sap][protocol]" -> "[network][protocol]",
    "[sap][event_id]" -> "[event][id]",
    "[sap][username]" -> "[user][name]",
    "[sap][erp_time]" -> "[event][created]",
    "[sap][incident_detail]" -> "[event][original]",
    "[sap][success]" -> "[rule][ruleset]",
    "[sap][sid]" -> "[service][id]",
    "[sap][reason]" -> "[rule][description]",
    "[sap][source_port]" -> "[source][port]",
    "[sap][user_type]" -> "[user_agent][original]",
    "[sap][system_type]" -> "[package][name]",
    "[sap][asset_name]" -> "[service][node][name]",
    "[sap][incident_name]" -> "[rule][name]",
    "[sap][client]" -> "[host][type]",
    "[sap][sev]" -> "[event][severity]",
    "[sap][incident_type]" -> "[process][name]",
    "[sap][modified]" -> "[destination][user][name]")

  private val elseGrok = // ref :115-118, verbatim incl. the \s spacings
    """.*?dst=(?<destination_ip>.*?)\s.*?erpHost=(?<source_ip>.*?)\s.*?eventType=(?<event_type>.*?)\s.*?incidentDetail=(?<event_original>.*?)incidentName.*?protocol=(?<network_protocol>.*?)\s.*?reason=(?<rule_description>.*?)\ssourcePort=(?<source_port>.*?)\s.*?success=(?<rule_ruleset>.*?)\s.*?systemType=(?<package_name>.*?)\sterminalSource=(?<source_address>.*?)\s.*?usrName=(?<user_name>.*?)\s.*?userType=(?<user_agent_original>.*?)\salarmProfileMatches=.*?alarm_name": "(?<rule_name>.*?)",.*?eventId=(?<event_id>\w+)"""

  private val typeDict = Map( // ref :126-131
    "UserLogin" -> "Audit/Access Success",
    "UserUnlocked" -> "Audit/Access Granted",
    "SystemChangeGlobalSettingUpdate" -> "Audit/Other",
    "ClientSpecificSettingsAllowance" -> "Audit/Other")

  def onapsis(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "sap") // ref :9-12
    ev.set("[event][dataset]", "sap.onapsis")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :17-21
    SyslogPri(ev) // ref :22-25
    val am = ev.getString("actual_msg").getOrElse("")
    if (hbRe.matcher(am).find() || !structRe.matcher(am).find()) // ref :30-36
      ev.set("[rule][category]", "hearbeat") // drop{} commented out in ref
    Dissect(ev, "actual_msg", "%{[[log][date_time]]} {%{?data}} %{msg}") // ref :37-41
    val msg = ev.getString("msg").getOrElse("")
    if (msg.startsWith("{\"incident_type\":")) { // ref :43
      graft.parse.JsonOps.parse(ev, "msg", "sap") // ref :44-47
      Mutate.lowercase(ev, "sap") // :48-50 — hash value: Logstash no-op, mirrored
      sapRenames.foreach { case (from, to) => ev.rename(from, to) } // :51-70
      // :71-86 — non-empty alarm names override the renamed success value
      ev.valueOrNull("[sap][alarm_profile_matches]") match {
        case a: mutable.ArrayBuffer[Any @unchecked] =>
          val names = mutable.ArrayBuffer.empty[Any]
          a.foreach {
            case m: Event.FMap =>
              val v = m.get("alarm_name")
              if (v != "") names += v // nil-pushing `!= ''` mirrored
            case _ => ()
          }
          if (names.nonEmpty) ev.set("[rule][ruleset]", names)
        case _ => ()
      }
      ev.getString("[sap][src]").foreach { src => // :89-97
        if (ipv4ish.matcher(src).find()) ev.rename("[sap][src]", "[source][ip]")
        else ev.rename("[sap][src]", "[source][adress]") // reference typo, verbatim
      }
      ev.rename("[sap][erp_host]", "[destination][ip]") // :98-106 — both arms identical
      if (Dates(ev, "[event][created]", // :107-112
        Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm:ss.SSS",
          "MMM dd HH:mm:ss.SSS", "MMM dd HH:mm:ss", "ISO8601"),
        "[event][created_ms]", timezone = "GMT"))
        ev.remove("[event][created]")
    } else {
      Grok(ev, "msg", Seq(elseGrok)) // :114-118 — top-level underscore captures
    }
    Seq("sap", "[log][date_time]", "msg", "actual_msg").foreach(ev.remove) // :120-122
    // :123-133 — translate, default no-override + fallback
    if (!ev.has("[rule][category]"))
      ev.getString("[event][type]").foreach { t =>
        ev.set("[rule][category]", typeDict.getOrElse(t, "Others"))
      }
  }
}
