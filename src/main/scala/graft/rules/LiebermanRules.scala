package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate, SyslogPri}

/** lieberman.pass_manager — semantic port of
  * config/processors/syslog_audit_lieberman.random.pass.mgr.conf (320
  * lines): one XML-attribute event dissect in four shape variants
  * (OpResult vs other × self-closing vs map-context payload) plus 19
  * map-context key extractors stacked onto parse_rule, the swapped
  * `yyyy-dd-MM` dtPostTime date (reference bug, kept verbatim), and the
  * Description→user.name add_field that array-promotes (and thus hides)
  * user.name whenever sLoginName already set it. The :304 renames read
  * top-level names the dissects never create — all no-ops, mirrored by
  * simply attempting them. */
object LiebermanRules {

  private val eventHead =
    "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{?repeated} " +
      "<Event CompactMode='%{compact_mode}' sEventType='%{[[service][type]]}' " +
      "dwBasicEventType='%{[[rule][id]]}' dwAppSpecificEventID='%{[[event][id]]}' " +
      "sEventID='%{[[event][action]]}' sOriginatingApplicationName='%{?[[source][user_agent][name]]}' " +
      "sOriginatingApplicationComponent='%{[[agent][type]]}' " +
      "sOriginatingApplicationVersion='%{[[agent][version]]}' " +
      "sOriginatingSystem='%{[[source][address]]}' sOriginatingAccount='%{[[source][user][name]]}' " +
      "dtPostTime='%{[[event][start]]}' sMessage='%{[[rule][description]]}'"

  private val loginTail =
    " sIpAddress='%{[[source][ip]]}' sLoginName='%{[[user][name]]}' sManagerName='%{manager_name}'"

  /** (gate-substring, parse_rule, target field of the value capture). */
  private val mapKeys: Seq[(String, String, String)] = Seq( // ref :84-273
    ("key='ExecutionContext_SystemName'", "RULE 7", "?ec_system_name"),
    ("key='ExecutionContext_ProcessRunAsUsername'", "RULE 8", "?ec_process_user_name"),
    ("key='ExecutionContext_AppSessionID'", "RULE 9", "?ec_app_session_id"),
    ("key='ExecutionContext_AppLoginUsername'", "RULE 10", "?ec_app_login_user"),
    ("key='JobComment'", "RULE 11", "[[rule][ruleset]]"),
    ("key='JobID'", "RULE 12", "?job_id"),
    ("key='TargetSystem'", "RULE 13", "?target_system"),
    ("key='AccountStoreTarget'", "RULE 14", "[[destination][address]]"),
    ("key='RawData_Namespace''", "RULE 15", "?raw_data_namespace"), // ref :164 doubled quote
    ("key='AccountStoreIdentifier'", "RULE 16", "account_store_identifier"),
    ("key='AccountTargetName'", "RULE 17", "[[process][name]]"),
    ("key='AccountStoreType'", "RULE 18", "[[host][os][family]]"),
    ("key='ConnectionTargetName'", "RULE 19", "[[destination][address]]"),
    ("key='sNamespace'", "RULE 20", "?[[source][host][name]]"),
    ("key='sSystemName'", "RULE 21", "?[[destination][host][group][name]]"),
    ("key='sAccountName'", "RULE 22", "?[[destination][host][group][domain]]"),
    ("key='PropagationName'", "RULE 23", "propogation_name"),
    ("key='SharedCredentialAccountName'", "RULE 24", "[[user][name]]"),
    ("key='SharedCredentialListName'", "RULE 25", "[[group][name]]"))

  def passManager(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "lieberman") // ref :9-12
    ev.set("[event][dataset]", "lieberman.pass_manager")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    if (ev.getString("actual_msg").getOrElse("") == "") { // ref :22-27
      ev.set("[agent][parse_rule]", "RULE 1 (dropped)")
      return Dropped
    }
    Pending(Seq(ev), passManagerBody)
  }

  private def passManagerBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.mergeInto("[agent][parse_rule]", "RULE 2") // ref :28-35
    Mutate.strip(ev, "actual_msg")
    Mutate.gsub(ev, "actual_msg", "\\\"", "'")
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("sEventType='OpResult'")) { // ref :36-58
      if (am.contains("</Event>")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 3")
        Dissect(ev, "actual_msg", eventHead + ">%{map_context}</Event>")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "actual_msg", eventHead + "/>")
      }
    } else { // ref :59-82
      if (am.contains("</Event>")) {
        ev.mergeInto("[agent][parse_rule]", "RULE 5")
        Dissect(ev, "actual_msg", eventHead + loginTail + ">%{map_context}</Event>")
      } else {
        ev.mergeInto("[agent][parse_rule]", "RULE 6")
        Dissect(ev, "actual_msg", eventHead + loginTail + "/>")
      }
    }
    val mc = ev.getString("map_context").getOrElse("")
    mapKeys.foreach { case (gate, rule, target) => // ref :84-273
      if (mc.contains(gate)) {
        ev.mergeInto("[agent][parse_rule]", rule)
        Dissect(ev, "map_context", s"%{extra} $gate value='%{$target}'%{extra}")
      }
    }
    Mutate.gsub(ev, "[log][date_time]", "'", "") // ref :274-276
    if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss", "MMM d HH:mm:ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en", defaultYear = ctx.tsYear))
      ev.remove("[event][created]") // ref :277-282
    if (Dates(ev, "[event][start]", Seq("yyyy-dd-MM'T'HH:mm:ss"), // ref :283-288 — swapped dd-MM kept
      "[event][start_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][start]")
    ev.mergeInto("[rule][category]", "Audit/Information") // ref :289-293
    if (ev.getString("[rule][description]").exists(_.contains("Description"))) { // ref :294-303
      Dissect(ev, "[rule][description]", "%{?data}'%{tmp_user_name}' (Description%{?data}")
      Mutate.addField(ev, "[user][name]", "%{tmp_user_name}") // array-promotes if already set
    }
    Seq("sEventID" -> "[event][action]", "sOriginatingApplicationName " -> "[service][name]",
      "sIpAddress" -> "[source][ip]", "sLoginName" -> "[source][user][id]",
      "performed account operation on:" -> "[group][name]",
      "sOriginatingAccount" -> "[host][user][name]",
      "sOriginatingSystem" -> "[observer][hostname]",
      "Description" -> "[rule][description]", "sMessage" -> "[rule][description]")
      .foreach { case (f, t) => ev.rename(f, t) } // ref :304-313 — top-level names: all no-ops
    Seq("[log][date_time]", "extra", "map_context", "compact_mode", "manager_name",
      "account_store_identifier", "propogation_name", "actual_msg", "tmp_user_name")
      .foreach(ev.remove) // ref :314
  }
}
