package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** Security-ops syslog trio:
  *   - beyondtrust.secure_remote_mngt (bomgar) — syslog_security_bomgar.conf
  *   - tufin.fw_acl_manager — syslog_security_tufin.conf
  *   - hp.nnm_audit — syslog_security_hp.network.node.mgr.conf
  */
object SecOpsRules {

  private val bomgarCategory = Map( // ref syslog_security_bomgar.conf:52-63
    "logout" -> "Audit/Access Revoked", "login" -> "Audit/Authentication Success",
    "other" -> "Audit/Other")

  // ------------------------------------------------------------- bomgar
  /** ref syslog_security_bomgar.conf:9-79. Quirks mirrored:
    *  - the header dissect captures a UNIX clock STRING into [event][start]
    *    that nothing parses — enrichment 02 removes it and tags
    *    _dateparsefailure_es on every event.
    *  - [destination][address] is captured twice: the header position and
    *    the kv `target=` rename, which overwrites it.
    *  - [event][created] comes from the kv `when=` UNIX field (:66-73);
    *    failures drop the field (:74-78). */
  def bomgar(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "beyondtrust") // ref :10-13
    ev.set("[event][dataset]", "beyondtrust.secure_remote_mngt")
    Mutate.strip(ev, "message") // ref :14-16
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :17-21
    SyslogPri(ev) // ref :22-25
    Dissect(ev, "actual_msg", // ref :26-30
      "%{?data} %{[[event][start]]} %{[[destination][address]]} %{[[host][geo][country_iso_code]]} " +
        "%{[[event][id]]} - [meta sequenceId=%{?data}] 1427:01:01:%{rest_msg}")
    Kv(ev, "rest_msg", ';', '=', target = "tmp") // ref :31-37
    ev.rename("[tmp][event]", "[event][action]") // ref :38-50
    ev.rename("[tmp][reason]", "[rule][ruleset]")
    ev.rename("[tmp][site]", "[host][hostname]")
    ev.rename("[tmp][status]", "[event][outcome]")
    ev.rename("[tmp][target]", "[destination][address]")
    ev.rename("[tmp][when]", "[event][created]")
    ev.rename("[tmp][who]", "[user][name]")
    ev.rename("[tmp][who_ip]", "[source][ip]")
    for (f <- Seq("rest_msg", "[log][date]", "actual_msg", "tmp")) ev.remove(f)
    Mutate.strip(ev, "[source][ip]")
    ev.getString("[event][action]") match { // ref :52-63
      case Some(a) => ev.set("[rule][category]", bomgarCategory.getOrElse(a, "Others"))
      case None => ()
    }
    ev.copyField("[host][hostname]", "[log][source][hostname]") // ref :64-66
    if (Dates(ev, "[event][created]", Seq("UNIX"), "[event][created_ms]", // ref :67-73
      timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]") // ref :74-78
  }

  // -------------------------------------------------------------- tufin
  /** ref syslog_security_tufin.conf:9-101. Quirks mirrored:
    *  - RULE 3 stacks onto RULE 2 via add_field (array → "RULE 2,RULE 3")
    *    and its `[SC (]` char-class gsub strips every S/C/space/paren from
    *    [user][id].
    *  - the KERN-branch remove list (:66-68) names "[[event][message]]" and
    *    "[[revision][del]]" — broken double-bracket refs that remove
    *    NOTHING; only the global list (:81-83) drops [event][message].
    *  - the classification translate (:85-97) reads [event][severity_name],
    *    a field no rule ever writes — source missing means the fallback is
    *    never applied, so [rule][category] stays empty on every event.
    *  - RULE 5's date (:76-79) probes [log][date], also never set. */
  def tufin(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "tufin") // ref :9-12
    ev.set("[event][dataset]", "tufin.fw_acl_manager")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("KERN:NOTE")) { // ref :22
      if (am.contains("Automatic Policy Fetched:")) { // ref :23-31
        ev.set("[agent][parse_rule]", "RULE 1")
        Dissect(ev, "actual_msg",
          "%{subject}: revision %{[[revision][del]]} on %{[[destination][domain]]}; " +
            "revision ticket ids:%{[[revision][ticket][id]]}, %{[[event][message]]}:")
      } else if (am.contains(" Policy")) { // ref :32-52
        ev.set("[agent][parse_rule]", "RULE 2")
        Dissect(ev, "actual_msg",
          "%{subject}: %{version} %{revision} on %{[[destination][domain]]}; " +
            "%{[[revision][del]]}: %{[[revision][ticket][id]]}, %{last} %{modified} %{by} " +
            "%{[[user][id]]}, %{[[event][message]]}")
        if (ev.getString("[user][id]").exists(_.contains("SC"))) {
          Mutate.addField(ev, "[agent][parse_rule]", "RULE 3")
          Mutate.gsub(ev, "[user][id]", "[SC (]", "")
          Mutate.gsub(ev, "[user][id]", "[)]", "")
        }
      } else { // ref :53-62
        ev.set("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "actual_msg",
          "%{subject}, %{[[server][address]]} %{[[observer][name]]}(%{[[source][ip]]}): " +
            "%{[[destination][host][name]]} %{[[destination][ip]]} (%{[[destination][port]]}): " +
            "%{[[event][message]]}")
      }
      for (f <- Seq("[log][date]", "month", "day", "year", "time", "server", "last", // ref :64-68
                    "modified", "by", "[event][type]")) ev.remove(f)
      // "[[event][message]]"/"[[revision][del]]" in the ref list are broken refs — no-ops
    } else if (am.contains("USER:INFO")) { // ref :69-80
      ev.set("[agent][parse_rule]", "RULE 5")
      Dissect(ev, "actual_msg",
        "%{[[rt][month]]} %{[[rt][day]]} %{[[rt][time]]} %{[[server][host][name]]} " +
          "%{subject}: %{[[event][message]]}")
      Dates(ev, "[log][date]", Seq("ISO8601"), "[log][date_ts_dead]") // @timestamp target, never set
      ev.remove("[log][date_ts_dead]")
    }
    for (f <- Seq("[log][date]", "month", "day", "year", "time", "[rt][day]", // ref :81-83
                  "[rt][month]", "[rt][year]", "[rt][time]", "actual_msg",
                  "[event][message]", "subject")) ev.remove(f)
    // ref :85-97: translate on [event][severity_name] — never populated, so
    // the filter (and its "Others" fallback) never fires
    ev.getString("[event][severity_name]").foreach { sev =>
      val cat = Map("ERRR" -> "Security Failed Activity", "INFO" -> "Security Activity",
        "WARN" -> "Security Other", "NOTE" -> "Security Other").getOrElse(sev, "Others")
      ev.set("[rule][category]", cat)
    }
  }

  // ------------------------------------------------------- hp.nnm_audit
  /** ref syslog_security_hp.network.node.mgr.conf:9-80. Quirks mirrored:
    *  - dissect 2's mapping embeds a REAL newline + tab (the conf comment
    *    says so) splitting the action line from the k:v block, which kv
    *    then splits on "\n\t" with "\t"-trimmed values. BUT the header
    *    grok's `.*$` is line-anchored in Ruby exactly as here: a multiline
    *    NNMi block reaching the pipeline as one message loses everything
    *    after the first line, so dissect 2 ALWAYS fails ("dissect_2") and
    *    the kv + branch renames (:43-70) are dead on line-framed transport
    *    — in the reference just as in this port.
    *  - the space-joined two-token clock ("2024-01-15 04:22:33.123") never
    *    parses as ISO8601: the date filter tags _dateparsefailure and the
    *    e02 walk then removes the string with _dateparsefailure_ec —
    *    [event][created] always falls back to the pipeline default.
    *  - failed logins would strip the @realm off [client][user][name]
    *    (:52-57); the agent.hostname/type renames (:22-26) probe fields the
    *    pipeline input never sets — dead, kept. */
  def hpNnm(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "hp") // ref :9-12
    ev.set("[event][dataset]", "hp.nnm_audit")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-16
    SyslogPri(ev) // ref :17-20
    ev.rename("[agent][hostname]", "[host][hostname]") // ref :21-26 — dead
    ev.rename("type", "[agent][type]") // dead
    ev.copyField("[host][hostname]", "[log][source][hostname]")
    Dissect(ev, "actual_msg", // ref :27-33
      "%{[[event][created]]->} %{+[[event][created]]} %{?[[log][level]]} [%{?data}] %{rest_msg}",
      Seq("dissect_1"))
    Dissect(ev, "rest_msg", // ref :34-42 — literal newline+tab in the mapping
      "(tomcat-exec-%{?data}) %{[[event][action]]}\n\t%{rest_msg2}",
      Seq("dissect_2"))
    Kv.withPattern(ev, "rest_msg2", "\n\t", ':', target = "parsed_kv", // ref :43-49
      trimValue = "\t")
    if (ev.getString("[event][action]").exists(a => a.contains("failed") || a.contains("Failed"))) { // ref :50-62
      ev.rename("[parsed_kv][User]", "[client][user][name]")
      ev.rename("[parsed_kv][Remote Host]", "[destination][address]")
      ev.rename("[parsed_kv][Remote Port]", "[destination][port]")
      if (ev.getString("[client][user][name]").exists(_.contains("@")))
        Dissect(ev, "[client][user][name]", "%{[[client][user][name]]}@%{?data}")
    } else { // ref :63-70
      ev.rename("[parsed_kv][User Account]", "[client][user][name]")
      ev.rename("[parsed_kv][NNMi Role]", "[client][user][roles]")
      ev.rename("[parsed_kv][Client Host]", "[client][address]")
      ev.rename("[parsed_kv][Client Port]", "[client][port]")
    }
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]")) // ref :71-74
      ev.remove("[event][created]")
    for (f <- Seq("rest_msg", "rest_msg2", "parsed_kv", "actual_msg")) ev.remove(f) // ref :76-78
  }
}
