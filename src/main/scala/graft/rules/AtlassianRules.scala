package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, Mutate}

/** Atlassian jira pair (filebeat-shipped flat files):
  *   - jira (access/session log) — flat_file_atlassian_jira.conf
  *   - jira.audit (double-encoded audit JSON) — flat_file_atlassian_jira_audit.conf
  */
object AtlassianRules {

  // ---------------------------------------------------------------- jira
  /** ref flat_file_atlassian_jira.conf:9-93. Quirks mirrored:
    *  - [event][module] defaults to "atlassian_jira" (:13-16) and the
    *    envelope's [fields][event][module], when present, renames OVER it.
    *  - the two session groks re-use the throwaway group name `data`
    *    repeatedly (Ruby allows duplicate named groups).
    *  - action1/action2 only exist on the grok-1 path; their sprintf
    *    rebuild (:62-67) joins them with a space, and any dash in the
    *    resulting [event][action] is gsub-stripped (:68-72).
    *  - [file][name] of "/" or "-" from grok 2 is dropped (:57-61);
    *    a [url][path] of "/" drops the whole [url] tree (:73-77).
    *  - the rename of top-level [host][ip] (:18) probes a field the
    *    pipeline input never sets — dead, kept. */
  def jira(ev: Event, ctx: ParseCtx): Unit = {
    JsonOps.parse(ev, "message", "tmp") // ref :9-12
    ev.set("[event][module]", "atlassian_jira") // ref :13-16
    ev.set("[event][dataset]", "jira")
    ev.rename("[host][ip]", "[log][source][ip]") // ref :17-30 — dead
    ev.rename("[tmp][fields][event][module]", "[event][module]")
    ev.rename("[tmp][log][file][path]", "[log][file][path]")
    ev.rename("[tmp][@timestamp]", "[event][created]")
    ev.rename("[tmp][agent][id]", "[agent][id]")
    ev.rename("[tmp][agent][ephemeral_id]", "[agent][ephemeral_id]")
    ev.rename("[tmp][agent][type]", "[agent][type]")
    ev.rename("[tmp][agent][version]", "[agent][version]")
    ev.rename("[tmp][host][name]", "[host][hostname]")
    ev.rename("[tmp][message]", "[event][original]")
    ev.copyField("[host][hostname]", "[log][source][hostname]")
    val orig = ev.getString("[event][original]").getOrElse("")
    if (orig.contains("destroyed")) { // ref :31-46
      if (orig.contains("Container"))
        Dissect(ev, "[event][original]",
          "%{} %{} %{[[process][thread][name]]->} %{[[event][action]]} %{?data} " +
            "%{+[[event][action]]} for '%{[[user][name]]}'")
      else
        Grok(ev, "[event][original]",
          Seq("^(?<data>.*? .*?) (?<[process][thread][name]>.*?) ((?<data>.*?) (?<data>.*?) " +
            "(?<data>.*?) (?<[source][ip]>.*),(?<[network][forwarded_ip]>.*) (?<[url][path]>.*?) )?" +
            "(?<action1>.*?) \\[(?<data>.*)\\] (?<action2>.*) for '(?<[user][name]>.*?)'$"),
          Seq("_grokfailure_1"))
    } else if (orig.contains("created")) { // ref :47-61
      Grok(ev, "[event][original]",
        Seq("^(?<data>.*? .*?) (?<[process][thread][name]>.*?) ((?<[user][name]>.*?) (?<data>.*?) " +
          "(?<[file][name]>.*?) (?<[source][ip]>.*),(?<[network][forwarded_ip]>.*?) (?<[url][path]>.*?) )?" +
          "(?<[event][action]>.*?) \\[(?<data>.*)\\]$"),
        Seq("_grokfailure_2"))
      if (ev.getString("[file][name]").exists(v => v == "/" || v == "-"))
        ev.remove("[file][name]")
    }
    if (ev.has("action1") && ev.has("action2")) { // ref :62-67
      Mutate.strip(ev, "action1")
      Mutate.strip(ev, "action2")
      Mutate.addField(ev, "[event][action]", "%{action1} %{action2}")
    }
    if (ev.getString("[event][action]").exists(_.contains("-"))) // ref :68-72
      Mutate.gsub(ev, "[event][action]", "\\-", "")
    if (ev.getString("[url][path]").contains("/")) ev.remove("url") // ref :73-77 (== "/")
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss,SSSZZ", "ISO8601"), // ref :78-86
      "[event][created_ms]", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    for (f <- Seq("tmp", "action1", "action2", "data")) ev.remove(f) // ref :87-89
  }

  // ---------------------------------------------------------- jira.audit
  /** ref flat_file_atlassian_jira_audit.conf:9-81. Quirks mirrored:
    *  - the audit record arrives DOUBLE-encoded: json(message)→tmp, then
    *    json([tmp][message])→tmp_msg (:13-20).
    *  - the ruby changedValues fold (:21-30) builds user_dct[key] = to.
    *  - [log][source][hostname] (a filebeat "ip-10-0-5-9" style name) is
    *    COPIED into both [log][source][ip] and [host][ip] (:34-35), and only
    *    [host][ip] gets the ip-/dash gsub repair (:61-64) — the
    *    log.source.ip copy keeps the raw "ip-…" form.
    *  - [user][name] falls back to affectedObjects[0][name] only when the
    *    Username changedValue is absent (:55-59). */
  def jiraAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "jira") // ref :9-12
    ev.set("[event][dataset]", "jira.audit")
    JsonOps.parse(ev, "message", "tmp") // ref :13-16
    JsonOps.parse(ev, "[tmp][message]", "tmp_msg") // ref :17-20
    val dct = new Event.FMap() // ref :21-30
    ev.get("[tmp_msg][changedValues]") match {
      case Some(a: scala.collection.mutable.ArrayBuffer[Any @unchecked]) =>
        a.foreach {
          case m: Event.FMap =>
            val k = m.get("key"); val to = m.get("to")
            if (k != null) dct.put(k.toString, to)
          case _ => ()
        }
      case _ => ()
    }
    ev.set("user_dct", dct)
    ev.rename("[tmp][host][name]", "[log][source][hostname]") // ref :32-52
    ev.rename("[host][ip]", "[log][source][ip]") // dead (input never sets host)
    ev.copyField("[log][source][hostname]", "[log][source][ip]")
    ev.copyField("[log][source][hostname]", "[host][ip]")
    ev.rename("[tmp][@timestamp]", "[event][created]")
    ev.rename("[tmp][agent][id]", "[agent][id]")
    ev.rename("[tmp][agent][ephemeral_id]", "[agent][ephemeral_id]")
    ev.rename("[tmp][agent][type]", "[agent][type]")
    ev.rename("[tmp][agent][version]", "[agent][version]")
    ev.rename("[tmp][log][file][path]", "[log][file][path]")
    ev.rename("[tmp_msg][affectedObjects][0][id]", "[user][id]")
    ev.rename("[tmp_msg][auditType][action]", "[event][action]")
    ev.rename("[tmp_msg][auditType][category]", "[event][category]")
    ev.rename("[tmp_msg][system]", "[url][full]")
    ev.rename("[user_dct][Email]", "[user][email]")
    ev.rename("[user_dct][Full name]", "[user][full_name]")
    ev.rename("[user_dct][Username]", "[user][name]")
    if (!ev.has("[user][name]")) // ref :55-59
      ev.rename("[tmp_msg][affectedObjects][0][name]", "[user][name]")
    Mutate.gsub(ev, "[host][ip]", "ip-", "") // ref :61-64
    Mutate.gsub(ev, "[host][ip]", "\\-", ".")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :65-73
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    for (f <- Seq("tmp", "tmp_msg", "user_dct")) ev.remove(f) // ref :74-76
  }
}
