package graft.rules

import graft.model.Event
import graft.parse.{Grok, Mutate, SyslogPri}

/** cisco.aci — semantic port of syslog_audit_cisco.aci.conf (176 lines).
  *
  * Flow: module/dataset, header grok, syslog_pri WITHOUT pri removal (pri
  * is dropped by the final remove_field instead) (:9-20); the SYSTEM_MSG
  * body grok with the optional `(?:\[%{WORD:lifecycle}])?` bracket (:23-26)
  * — 5 bracket groups → alert, 4 → event (:28-43); then THREE dead limbs
  * mirrored as dead code, each provable from the conf text alone:
  *   1. the observer-name gsub + rename read `[tmp][host]`, which no grok
  *      ever captures — observer.hostname is NEVER set (:46-52,81);
  *   2. the nexus branch guards on `"[sys]" in [tmp][rule]` (:56-69), but
  *      `[tmp][rule]` is a lazy DATA capture whose expansion past one
  *      bracket group requires the following `\[%{WORD}\]` det_severity
  *      group to REJECT the intervening bracket — and "sys" is a WORD, so
  *      the det group always claims it first: rule can never contain the
  *      substring "[sys]". The whole nexus re-parse (and with it
  *      [tmp][module], so the event.type rename at :82 too) is dead;
  *   3. both event.category translates (:97-117): the fault arm needs
  *      `[event][kind] == "fault"` but kind is only ever alert/event, and
  *      the else arm's source [log][syslog][facility][name] is only written
  *      by the dead nexus branch — event.category is always NULL.
  * Step 5 renames (:72-84) write the MESSAGE-text severity/facility into
  * [log][syslog][...], which enrichment 04 later CLOBBERS with the
  * pri-derived values (pri wins — the engine-wide e04 semantics), so the
  * flattened codes are pri-derived on every row while step 7's
  * `%{[[log][syslog][severity][code]]}` sprintf (:141) still sees the
  * message-text value at parse time. The cisco_aci.json error dictionary is
  * a MISSING LARGE BLOB in the reference (.MISSING_LARGE_BLOBS:1) — the
  * entries here are synthesized with the shape the conf dereferences
  * (type/explanation/remediation/messages/severity, :120-151). Not-found
  * codes take the fallback-string branch (:129-145): parse-the-fallback,
  * REMOVE it, rebuild from add_fields + the [tmp][rule] rename. On rows
  * where the body grok failed, step 7b/8's sprintf templates stay
  * unresolved and enrichment 94 deletes the `%{...}` literals. Step 8
  * (:154-168): network.name = hostname stripped from the first digit-run
  * (`([a-z]*)([0-9].*)` → `\1`), service.type = hostname with the last
  * `-[a-z]*` segment's prefix dropped (`(.*)-([a-z]*)` → `\2`, digits
  * survive — "aci-leaf101" → "leaf101").
  */
object CiscoAciRules {

  private val bodyGrok =
    """%{SYSLOGTIMESTAMP:[[tmp][dateoriginal]]} %{GREEDYDATA:[[tmp][device]]} \%LOG_LOCAL%{INT:[[tmp][loglocal]]}-%{INT:[[tmp][severity]]}-SYSTEM_MSG \[%{WORD:[[tmp][code]]}](?:\[%{WORD:[[tmp][lifecycle]]}])?\[%{DATA:[[tmp][rule]]}]\[%{WORD:[[tmp][det_severity]]}\]\[%{DATA:[[tmp][effected_dn]]}] %{GREEDYDATA:[[tmp][error_message]]}"""

  private val nexusGrok = // ref :59-61 — dead (see scaladoc), kept verbatim
    """%{SYSLOGTIMESTAMP:[[tmp][nexus_date]]} \%%{WORD:[[tmp][nexus_loglocal]]}-%{INT:[[tmp][nexus_severity]]}-%{WORD:[[tmp][nexus_module]]}:\s%{GREEDYDATA:[[tmp][nexus_errormessage]]}"""

  /** Synthesized stand-in for the unshipped cisco_aci.json (see scaladoc). */
  private val errorDict: Map[String, Map[String, String]] = Map(
    "F0103" -> Map(
      "type" -> "environmental",
      "explanation" -> "Fan tray fault has been raised",
      "remediation" -> "Reseat or replace the fan tray",
      "messages" -> "Fan speed below threshold",
      "severity" -> "3"),
    "E4204936" -> Map(
      "type" -> "config",
      "explanation" -> "Controller configuration was modified",
      "remediation" -> "Review the audit log entry",
      "messages" -> "Config change committed",
      "severity" -> "5"))

  private val fallbackJson = """{"key1":"not_found"}"""

  private val renames = Seq( // ref :72-84
    "[tmp][device]" -> "[host][hostname]",
    "[tmp][code]" -> "[error][code]",
    "[tmp][msg_type]" -> "[event][kind]",
    "[tmp][det_severity]" -> "[log][level]",
    "[tmp][severity]" -> "[log][syslog][severity][code]",
    "[tmp][error_message]" -> "[error][message]",
    "[tmp][host]" -> "[observer][hostname]", // dead: [tmp][host] never set
    "[tmp][module]" -> "[event][type]", // dead: nexus update is a no-op
    "[tmp][lifecycle]" -> "[event][action]",
    "[tmp][loglocal]" -> "[log][syslog][facility][code]",
    "[tmp][nexus_loglocal]" -> "[log][syslog][facility][name]")

  def aci(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.aci")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev, removeField = false) // ref :18-20 — pri removed at :172
    Grok(ev, "actual_msg", Seq(bodyGrok)) // ref :23-26
    ev.set("[tmp][msg_type]", // ref :28-43
      if (ev.has("[tmp][lifecycle]")) "alert" else "event")
    // :46-52 — gsub on the never-captured [tmp][host]: no-op, mirrored
    if (ev.getString("[tmp][rule]").exists(_.contains("[sys]"))) { // ref :56-69 dead
      Grok(ev, "[tmp][error_message]", Seq(nexusGrok))
      Mutate.update(ev, "[tmp][severity]", "%{[[tmp][nexus_severity]]}")
      Mutate.update(ev, "[tmp][module]", "%{[[tmp][nexus_module]]}")
      Mutate.update(ev, "[tmp][error_message]", "%{[[tmp][nexus_errormessage]]}")
    }
    renames.foreach { case (from, to) => ev.rename(from, to) } // ref :72-84
    ev.rename("[tmp][effected_dn]", "[labels][effected_dn]") // ref :87-92
    if (ev.getString("[event][kind]").contains("fault")) { // ref :97-105 dead arm
      ev.getString("[event][action]").foreach { a =>
        if (a == "link-state-change") ev.set("[event][category]", "host")
      }
    } else { // ref :106-117 — source only written by the dead nexus branch
      ev.getString("[log][syslog][facility][name]").foreach { f =>
        if (f == "LOG_AUTH") ev.set("[event][category]", "authentication")
      }
    }
    ev.getString("[error][code]").foreach { code => // ref :120-128
      errorDict.get(code) match {
        case Some(entry) =>
          val m = new Event.FMap
          entry.foreach { case (k, v) => m.put(k, v) }
          ev.set("[tmp][error_translation]", m)
        case None => ev.set("[tmp][error_translation]", fallbackJson)
      }
    }
    if (ev.getString("[tmp][error_translation]").contains(fallbackJson)) { // ref :129-145
      // :131-138 — json-parse the fallback into itself, then remove_field:
      // net effect is plain removal (the fallback is valid JSON, no tag)
      ev.remove("[tmp][error_translation]")
      Mutate.addField(ev, "[tmp][error_translation][type]", "not_found_alert_type")
      Mutate.addField(ev, "[tmp][error_translation][remediation]", "not_found_recommendation")
      Mutate.addField(ev, "[tmp][error_translation][messages]", "%{[[error][message]]}")
      Mutate.addField(ev, "[tmp][error_translation][severity]", "%{[[log][syslog][severity][code]]}")
      ev.rename("[tmp][rule]", "[tmp][error_translation][explanation]")
    }
    Mutate.addField(ev, "[error][type]", "%{[[tmp][error_translation][type]]}") // ref :148-154
    Mutate.addField(ev, "[event][reason]", "%{[[tmp][error_translation][explanation]]}")
    Mutate.addField(ev, "[event][recommendation]", "%{[[tmp][error_translation][remediation]]}")
    Mutate.addField(ev, "[event][message]", "%{[[tmp][error_translation][messages]]}")
    Mutate.addField(ev, "[event][severity]", "%{[[tmp][error_translation][severity]]}")
    if (!ev.has("[network][name]")) // ref :157-161
      Mutate.addField(ev, "[network][name]", "%{[[host][hostname]]}")
    Mutate.addField(ev, "[service][type]", "%{[[host][hostname]]}") // ref :162-164
    Mutate.gsub(ev, "[service][type]", "(.*)-([a-z]*)", "$2") // ref :165-168
    Mutate.gsub(ev, "[network][name]", "([a-z]*)([0-9].*)", "$1")
    Seq("[tmp]", "pri", "actual_msg").foreach(ev.remove) // ref :171-173
  }
}
