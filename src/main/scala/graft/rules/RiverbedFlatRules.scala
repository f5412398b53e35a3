package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Mutate}

/** The riverbed flat-file quartet (all stamped module "cisco" by the
  * reference):
  *   - cisco.riverbed.audit     — flat_file_audit_riverbed.audit.conf
  *   - cisco.riverbed.vnes_analytics — flat_file_audit_riverbed.vnes_analytics.conf
  *   - cisco.riverbed.scportal  — flat_file_audit_riverbed.scportal.conf
  *   - cisco.riverbed.opnetreport — flat_file_audit_riverbed.opnetreport.conf
  */
object RiverbedFlatRules {

  // ------------------------------------------------- cisco.riverbed.audit
  /** ref flat_file_audit_riverbed.audit.conf:9-66. Quirks mirrored:
    *  - the second mutate block writes `strip` before `gsub` (:17-21) but
    *    Logstash's fixed intra-mutate order runs gsub FIRST — we apply
    *    gsub('["]' -> "") then strip (indistinguishable on sane input,
    *    ordered faithfully anyway); the duplicate '[""]' gsub is a no-op.
    *  - every capture except [user][name] and RULE 1's [host][hostname] is
    *    discarded by the remove_field sweep (:55-58) — including
    *    [action][name], [allowed][status] and RULE 3's [resource][name].
    *  - [log][date] is sprintf-built (:50-53) and removed one block later:
    *    NO date filter ever runs, so event.created stays the default.
    *  - the "_LOGIN" branch (:31) is case-sensitive and only reachable when
    *    neither "LogIn" nor "LogOut" matched first. */
  def audit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.riverbed.audit")
    Mutate.gsub(ev, "message", "\\t", " ") // ref :13-16
    Mutate.gsub(ev, "message", "\\r", " ")
    Mutate.gsub(ev, "message", "[\"]", "") // ref :17-21 (gsub precedes strip)
    Mutate.gsub(ev, "message", "[\"\"]", "")
    Mutate.strip(ev, "message")
    val msg = ev.getString("message").getOrElse("")
    if (msg.contains("LogIn") || msg.contains("LogOut")) { // ref :22-30
      ev.set("[agent][parse_rule]", "RULE 1")
      Dissect(ev, "message",
        "%{[[datetime][msg]]} %{month} %{day} %{time} %{zone} %{year} " +
          "%{[[action][name]]} %{[[user][msg]]}:%{[[user][name]]} " +
          "%{[[host][msg]]}:%{[[host][hostname]]} %{[[allowed][msg]]}:%{[[allowed][status]]}")
    } else if (msg.contains("_LOGIN")) { // ref :31-41
      ev.set("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "message",
        "%{[[datetime][msg]]} %{month} %{day} %{time} %{zone} %{year} " +
          "%{[[action][name]]} %{[[user][msg]]}:%{[[user][name]]} " +
          "%{[[allowed][msg]]}:%{[[allowed][status]]}")
    } else { // ref :42-52
      ev.set("[agent][parse_rule]", "RULE 3")
      Dissect(ev, "message",
        "%{[[datetime][msg]]} %{month} %{day} %{time} %{zone} %{year} " +
          "%{[[action][name]]} %{[[user][msg]]}:%{[[user][name]]} " +
          "%{[[allowed][msg]]}:%{[[allowed][status]]} %{[[resource][msg]]}:%{[[resource][name]]}")
    }
    Mutate.addField(ev, "[log][date]", "%{day}-%{month}-%{year} %{time}") // ref :50-53 — dead
    for (f <- Seq("month", "[datetime][msg]", "day", "year", "[log][date]", // ref :55-58
                  "[allowed][msg]", "[action][name]", "[user][msg]", "[host][msg]",
                  "[resource][name]", "[allowed][status]", "[resource][msg]", "time", "zone"))
      ev.remove(f)
  }

  // ------------------------------------- cisco.riverbed.vnes_analytics
  /** ref flat_file_audit_riverbed.vnes_analytics.conf:9-44. Quirks mirrored:
    *  - the login dissect (:20-25) ends `method: %{}[[rule][category]]}` —
    *    a broken field reference left OUTSIDE the token, so the tail is an
    *    empty skip capture followed by the LITERAL text
    *    "[[rule][category]]}"; any normal log line fails with the custom
    *    tag "dissect 2 failure" and [rule][category] is never captured.
    *  - the ip grok (:26-32) is `%{IPV4:[source][ip]}.` — the trailing dot
    *    means the dissected ip must carry a sentence period or the grok
    *    fails with "grok 1 failure" (also tagged when dissect 2 already
    *    failed and `ip` is absent).
    *  - neither custom failure tag matches the _dissectfailure /
    *    _grokparsefailure families, so parse_ok stays true.
    *  - the date format "YYYY/MM/DD" (:34-39) is Joda week-year +
    *    day-of-year; consistent only while month == January. */
  def vnes(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.riverbed.vnes_analytics")
    Dissect(ev, "message",
      "%{[[event][created]]} %{+[[event][created]]} %{[[log][level]]} - %{rest_msg}",
      Seq("dissect 1 failure")) // ref :13-18
    if (ev.getString("rest_msg").exists(_.contains("log in attempt"))) { // ref :19-33
      Dissect(ev, "rest_msg",
        "[%{?data}] %{[[rule][description]]} from %{ip} -- user: %{[[user][name]]}. method: %{}[[rule][category]]}",
        Seq("dissect 2 failure"))
      Grok(ev, "ip", Seq("%{IPV4:[source][ip]}\\."), Seq("grok 1 failure"))
    }
    if (Dates(ev, "[event][created]", Seq("YYYY/MM/DD HH:mm:ss"), // ref :34-39
      "[event][created_ms]", timezone = "GMT", locale = "en"))
      ev.remove("[event][created]") // target == source: string replaced
    ev.remove("rest_msg") // ref :40-42
    ev.remove("ip")
  }

  // ------------------------------------------- cisco.riverbed.scportal
  /** ref flat_file_audit_riverbed.scportal.conf:9-85. Quirks mirrored:
    *  - RULE 1 (:13-18): python-dict lines naming appmodel/workflow/
    *    environment/monitoring/data_sources are DROPPED (the
    *    "RULE 1 (to be dropped)" parse_rule is unobservable).
    *  - RULE 2's dissect (:19-27) skips every dict VALUE and captures the
    *    quoted KEY TEXT "'source'" into [source][address]; the leading
    *    plain `%{hostname}` capture stays as a top-level non-ECS field.
    *  - RULE 3 (:28-44): " at  " double-space delimiter; the parsed
    *    MM/dd/yyyy HH:mm:ss.SS start time replaces [event][start].
    *  - RULE 4's mapping (:45-54) requires a double space before and a
    *    TRAILING space after the description; its yyyy-MM-dd date (:59-62)
    *    targets @timestamp, which enrichment 04_timestamp.conf clobbers —
    *    parsed-and-discarded, only the failure tag could survive.
    *  - the fields.organization.name / observerip renames (:66-70,:78-82)
    *    probe top-level fields the pipeline never sets — dead, kept. */
  def scportal(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.riverbed.scportal")
    val msg = ev.getString("message").getOrElse("")
    val dictWords = Seq("appmodel", "workflow", "environment", "monitoring", "data_sources")
    if (msg.contains("{'") && dictWords.exists(msg.contains)) return Dropped // ref :13-18
    Pending(Seq(ev), scportalBody(msg))
  }

  private def scportalBody(msg: String)(ev: Event, ctx: ParseCtx): Unit = {
    if (msg.contains("{'")) { // ref :19-27
      ev.set("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "message",
        "%{hostname} %{[[host][hostname]]},%{?model}: %{?[[model][name]]},%{?objtype}: %{?[[obj][typename]]}," +
          "%{?product}: %{?[[product][name]]},%{?runtime}: %{?[[runtime][id]]},%{?schema}: %{?[[schema][hash]]}," +
          "%{?serial}: %{?[[serial][id]]},%{[[source][address]]}: %{?[[source][name]]}," +
          "%{?systemtime}: %{?[[system][time]]},%{?version}: %{?[[version][id]]}")
    } else if (msg.startsWith("Start")) { // ref :28-44
      ev.set("[agent][parse_rule]", "RULE 3")
      Dissect(ev, "message", "%{[[event][action]]} at  %{time} %{?msg4} %{?msg5} %{date}")
      Mutate.gsub(ev, "date", "\\r", "")
      Mutate.addField(ev, "[event][start]", "%{date} %{time}")
    } else { // ref :45-54
      ev.set("[agent][parse_rule]", "RULE 4")
      Dissect(ev, "message",
        "%{[[log][date]]},%{[[process][pid]]} [%{[[rule][category]]}] %{[[log][level]]}  %{[[rule][description]]} ")
    }
    if (Dates(ev, "[event][start]", Seq("MM/dd/yyyy HH:mm:ss.SS"), // ref :55-58
      "[event][start_ms]")) ev.remove("[event][start]")
    Dates(ev, "[log][date]", Seq("yyyy-MM-dd HH:mm:ss"), "[log][date_ts_dead]") // ref :59-62 — @timestamp target
    ev.remove("[log][date_ts_dead]")
    ev.remove("[log][date]") // ref :63-65
    ev.remove("time")
    ev.remove("date")
    ev.rename("fields.organization.name", "[organization][name]") // ref :66-70 — dead
    ev.rename("fields.temp.observerip", "[observer][name]")
    if (ev.getString("[host][hostname]").exists(_.nonEmpty)) // ref :72-77
      ev.copyField("[host][hostname]", "[host][name]")
    ev.rename("observerip", "[log][source][hostname]") // ref :78-82 — dead
  }

  // --------------------------------------- cisco.riverbed.opnetreport
  /** ref flat_file_audit_riverbed.opnetreport.conf:9-104. Quirks mirrored:
    *  - the RULE 1 guard is the LITERAL prefix "^2019" (:13) and RULE 2's
    *    is a contains-2019 (:31) — the year is hard-coded; 2020+ reports
    *    fall through to RULE 5.
    *  - RULE 1 keeps the sprintf [log][date] string (:23-27) — unlike every
    *    sibling it is NOT in the remove list; no date filter parses it.
    *  - RULE 2 captures the session token into [event][start] (:40) — a
    *    non-date value — and parses its rebuilt MMM-dd-yyyy [log][date]
    *    into @timestamp (:49-53), which enrichment 04 clobbers: dead.
    *  - RULE 2/3/5 remove the top-level "host" field the pipeline input
    *    never sets — dead, kept. */
  def opnetreport(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.riverbed.opnetreport")
    val msg = ev.getString("message").getOrElse("")
    if (msg.startsWith("2019")) { // ref :13-30
      ev.set("[agent][parse_rule]", "RULE 1")
      Dissect(ev, "message", "%{date} %{time} %{[[event][original]]}")
      Mutate.addField(ev, "[log][date]", "%{date} %{time}")
      ev.remove("date")
      ev.remove("time")
    } else if (msg.contains("2019")) { // ref :31-58
      ev.set("[agent][parse_rule]", "RULE 2")
      Mutate.gsub(ev, "message", "[\\r]", "")
      Dissect(ev, "message",
        "%{[[log][level]]} [%{?[[network][log]]},%{[[event][start]]} %{timemsg}: " +
          "%{day} %{month} %{date} %{time} %{[[event][timezone]]} %{year}]")
      Mutate.addField(ev, "[log][date]", "%{month}-%{date}-%{year} %{time}")
      Dates(ev, "[log][date]", Seq("MMM-dd-yyyy HH:mm:ss"), "[log][date_ts_dead]") // @timestamp target
      ev.remove("[log][date_ts_dead]")
      for (f <- Seq("day", "month", "year", "time", "timemsg", "date", "[log][date]", "host"))
        ev.remove(f)
    } else if (msg.contains("Maintenance")) { // ref :59-73
      ev.set("[agent][parse_rule]", "RULE 3")
      Mutate.gsub(ev, "message", "[\\r]", "")
      Dissect(ev, "message", "%{[[log][level]]} [%{?[[network][log]]},%{[[event][original]]}")
      ev.remove("host")
    } else if (msg.startsWith("log4j")) { // ref :74-89
      ev.set("[agent][parse_rule]", "RULE 4")
      Dissect(ev, "message", "%{msg} %{[[event][original]]}")
      Dissect(ev, "msg", "%{msg1}:%{[[log][level]]}")
      ev.remove("msg1")
      ev.remove("msg")
    } else { // ref :90-102
      ev.set("[agent][parse_rule]", "RULE 5")
      Mutate.gsub(ev, "message", "[\\r]", "")
      Dissect(ev, "message", "%{[[log][level]]} [%{?[[network][log]]},%{?[[event][log]]}: %{[[file][path]]}]")
    }
  }
}
