package graft.rules

import graft.model.Event
import graft.parse.{Dissect, Grok, Mutate, SyslogPri}

/** cisco.wireless.control.system — semantic port of
  * syslog_audit_cisco.wireless.control.system.conf (173 lines; dataset name
  * is `cisco.wireless.controller`, :9-12).
  *
  * Flow: module/dataset + strip + header grok + syslog_pri (:9-24); the
  * `host: task: rest` dissect (:25-29); the rest-has-a-colon split (:30):
  * RULE 1 re-dissects actual_msg as `id: created: %name: description`
  * (:31-39) and then branches on `[event_description]` — a field NOTHING
  * ever sets, so the RULE 1(a) user/Source/localport sub-dissect (:40-52)
  * is DEAD and every RULE 1 row takes the RULE 1(b) arm whose
  * `event_description` rename is a no-op (:54-59); the colon-less arm is
  * RULE 2, rule.description = the whole rest_msg (:61-70). The
  * `(?:%{MAC:[host][mac]})?` grok (:71-76) is fully optional — it captures
  * only when the description STARTS with a MAC (the empty alternative wins
  * at offset 0 otherwise); host.mac is NOT on the e15 standardize list
  * (only source/destination mac are), so a dotted Cisco MAC stays dotted.
  * Then the 10-arm rule.name substring cascade (:77-157) stacks a third
  * parse_rule entry and sets rule.category (RULE 2 rows have no rule.name,
  * fall through every arm, and land on RULE 11 Ops/information); finally
  * remove_field of [log][date_time]/rest_msg/[event][created]/actual_msg
  * (:160-162) — event.created is REMOVED without a date{} parse, so
  * event_created_ms is enrichment 03's ingest default on every row.
  */
object CiscoWlcRules {

  private val categories = Seq( // ref :77-157, in cascade order
    ("USER_DEL_FAILED" :: Nil, "RULE 3", "Audit/Access Failure"),
    ("ENTRY_DELETED" :: "ENTRY_CHANGED" :: "ENTRY_CREATED" :: Nil,
      "RULE 4", "Audit/Access Success"),
    ("WPA_SEND_STATE_ERR" :: Nil, "RULE 5", "Audit/Authentication Failure"),
    ("ABORT_AUTH" :: "AUTH_ADMIN_USER" :: Nil,
      "RULE 6", "Audit/Authentication Success"),
    ("REBOOT_INFO" :: Nil, "RULE 7", "Audit/Configuration"),
    ("CONFLICT_IN_ASS_REQ" :: Nil, "RULE 8", "Ops/Critical"),
    ("ANCHOR_DENIED" :: "CONFLICT_DETECTED" :: "PREAUTH_FAILURE" ::
      "CHECK_SUPP_RATES_FAILED" :: "ASSOCREQ_PROC_FAILED" ::
      "INVALID_REPLAY_CTR" :: "MOBILITYUSER_STATECREATE_FAILED" ::
      "HANDSHAKE_FAILURE" :: Nil, "RULE 9", "Ops/Error"),
    ("GUEST_ASSIGNED_IP" :: "MOBILE_EXCLUDED" :: "MOBILE_NOT_EXCLUDED" ::
      "RADIUS_OVERRIDE_DISABLED" :: "SCOPE_NOT_FOUND" ::
      "ARPDATA_QUEUE_OVERLOAD" :: "ESTABLISHED_TO_PEER" ::
      "USER_NAME_CREATED" :: "MUTEX_UNLOCK_FAILED" :: "REPLAY_ERR" ::
      "SIG_ALARM_OFF_CONT" :: "BUFFER_POOL_EARLY_WARNING" :: Nil,
      "RULE 10", "Ops/warning"))

  def wlc(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.wireless.controller")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :16-20
    SyslogPri(ev) // ref :21-24
    Dissect(ev, "actual_msg", "%{[[source][address]]}: %{?somedata}: %{rest_msg}") // ref :25-29
    if (ev.getString("rest_msg").exists(_.contains(":"))) { // ref :30
      ev.mergeInto("[agent][parse_rule]", "RULE 1") // ref :31-39
      ev.remove("[source][address]")
      Dissect(ev, "actual_msg",
        "%{[[event][id]]}: %{[[event][created]]}: %%{[[rule][name]]}: %{[[rule][description]]}")
      // :40-52 — [event_description] is never set anywhere: RULE 1(a) dead
      ev.mergeInto("[agent][parse_rule]", "RULE 1(b)") // ref :54-59
      ev.rename("event_description", "[rule][description]") // no-op (absent)
    } else {
      ev.mergeInto("[agent][parse_rule]", "RULE 2") // ref :61-70
      Dissect(ev, "rest_msg", "%{[[rule][description]]}")
    }
    Grok(ev, "[rule][description]", Seq("(?:%{MAC:[host][mac]})?")) // ref :71-76
    val rn = ev.getString("[rule][name]").getOrElse("")
    categories.find { case (needles, _, _) => needles.exists(rn.contains) } match {
      case Some((_, rule, cat)) => // ref :77-145
        ev.mergeInto("[agent][parse_rule]", rule)
        ev.set("[rule][category]", cat)
      case None => // ref :147-156
        ev.mergeInto("[agent][parse_rule]", "RULE 11")
        ev.set("[rule][category]", "Ops/information")
    }
    Seq("[log][date_time]", "rest_msg", "[event][created]", "actual_msg") // ref :160-162
      .foreach(ev.remove)
  }
}
