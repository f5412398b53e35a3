package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, JsonOps, Mutate, SyslogPri}

/** Wireless / edge-device syslog quartet:
  *   - ubiquiti.wireless.bridge.session — syslog_audit_ubiquiti.wireless_bridge.conf
  *   - ubiquiti.controller — syslog_audit_ubiquiti.controller_session_logs.conf
  *   - cisco.wireless.access_point — syslog_audit_cisco.wireless.ap.conf
  *   - cisco.waas — syslog_security_cisco.waas.conf
  */
object WirelessEdgeRules {

  // ------------------------------------- ubiquiti.wireless.bridge.session
  /** ref syslog_audit_ubiquiti.wireless_bridge.conf:9-99. Quirks mirrored:
    *  - the "\n\t" -> "," then "\t" -> "" gsubs (:22-25) rebuild dropbear's
    *    folded multi-line frames before any dissect.
    *  - all three branch dissects skip the 3-token timestamp with a padded
    *    first skip (`%{?data->}`, double-space day alignment); only the
    *    else-branch captures the program token into [observer][type].
    *  - the bad-password / child / login refinements dissect a COPY (`tmp`)
    *    of [rule][description]; bad-password re-dissects [source][ip] onto
    *    itself when it carries a :port suffix.
    *  - the trailing ISO8601 date (:90-97) probes [event][created], which
    *    this conf never sets — a permanent no-op, kept as written. */
  def ubiquitiBridge(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "ubiquiti") // ref :9-12
    ev.set("[event][dataset]", "ubiquiti.wireless.bridge.session")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev) // ref :18-21
    Mutate.gsub(ev, "actual_msg", "\\n\\t", ",") // ref :22-25
    Mutate.gsub(ev, "actual_msg", "\\t", "")
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains("init: ")) // ref :27-34
      Dissect(ev, "actual_msg",
        "%{?data->} %{?data} %{?data} init: %{[[rule][description]]}", Seq("_dissectfailure_init"))
    else if (am.contains("wireless: ")) // ref :35-42
      Dissect(ev, "actual_msg",
        "%{?data->} %{?data} %{?data} wireless: %{[[rule][description]]}", Seq("_dissectfailure_wireless"))
    else // ref :43-50
      Dissect(ev, "actual_msg",
        "%{?data->} %{?data} %{?data} %{[[observer][type]]}: %{[[rule][description]]}")
    val desc = ev.getString("[rule][description]").getOrElse("")
    if (desc.contains("Bad password attempt")) { // ref :51-65
      ev.copyField("[rule][description]", "tmp")
      Dissect(ev, "tmp",
        "Bad password attempt for '%{[[user][name]]}' from %{[[source][ip]]}",
        Seq("_dissectfailure_bad_pw"))
      if (ev.getString("[source][ip]").exists(_.contains(":")))
        Dissect(ev, "[source][ip]", "%{[[source][ip]]}:%{[[source][port]]}")
    } else if (desc.contains("Child ")) { // ref :66-74
      ev.copyField("[rule][description]", "tmp")
      Dissect(ev, "tmp", "Child connection from %{[[source][ip]]}:%{[[source][port]]}",
        Seq("_dissectfailure_child_connec"))
    } else if (desc.contains("Login attempt")) { // ref :75-83
      ev.copyField("[rule][description]", "tmp")
      Dissect(ev, "tmp", "Login attempt for nonexistent user from %{[[source][ip]]}:%{[[source][port]]}",
        Seq("_dissectfailure_login_attempt"))
    }
    ev.remove("tmp") // ref :85-87
    ev.remove("actual_msg")
    Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]", // ref :88-95 — dead probe
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec"))
  }

  // ------------------------------------------------ ubiquiti.controller
  /** ref syslog_audit_ubiquiti.controller_session_logs.conf:9-81. Quirks:
    *  - the filebeat envelope renames (:27-39) route [fields][event][module]
    *    into [event][provider] and [fields][event][dataset] into
    *    [event][category]; [ubiq][host][name] becomes [host][hostname].
    *  - the internal-need hostname guard copies to [host][name] (:70-75) and
    *    the NEXT mutate renames [host][name] away to [log][source][hostname]
    *    (:76-80) — host.name always ends up empty.
    *  - date format "yyy.MM.dd-HH:mm:ss.SSS" (:63-69): a 3-y year run.
    *  - the "penalizing" refinement (:50-60) dissects a copy; user.name is
    *    the token right after "penalizing". */
  def ubiquitiController(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "ubiquiti") // ref :9-12
    ev.set("[event][dataset]", "ubiquiti.controller")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :14-18
    SyslogPri(ev) // ref :19-22
    JsonOps.parse(ev, "message", "ubiq") // ref :23-26
    ev.rename("[ubiq][log][offset]", "[log][offset]") // ref :27-39
    ev.rename("[ubiq][log][file][path]", "[log][file][path]")
    ev.rename("[ubiq][message]", "[event][description]")
    ev.rename("[ubiq][fields][observer][product]", "[observer][product]")
    ev.rename("[ubiq][fields][observer][type]", "[observer][type]")
    ev.rename("[ubiq][fields][observer][vendor]", "[observer][vendor]")
    ev.rename("[ubiq][fields][organization][name]", "[organization][name]")
    ev.rename("[ubiq][fields][event][module]", "[event][provider]")
    ev.rename("[ubiq][fields][event][dataset]", "[event][category]")
    ev.rename("[ubiq][host][name]", "[host][hostname]")
    ev.rename("[ubiq][ecs][version]", "[ecs][version]")
    Dissect(ev, "[event][description]", // ref :41-46
      "%{[[event][created]]} [%{[[service][name]]}] %{[[event][type]]}: %{[[rule][description]]}")
    if (ev.getString("[rule][description]").exists(_.contains("unsuccessful login attempts"))) { // ref :47-57
      ev.copyField("[rule][description]", "tmp")
      Dissect(ev, "tmp", "penalizing %{[[user][name]]} %{?data}")
    }
    ev.remove("ubiq") // ref :58-60
    ev.remove("tmp")
    ev.remove("actual_msg")
    if (Dates(ev, "[event][created]", Seq("yyy.MM.dd-HH:mm:ss.SSS"), // ref :61-69
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.getString("[host][hostname]").exists(_.nonEmpty)) // ref :70-75
      ev.copyField("[host][hostname]", "[host][name]")
    ev.rename("[host][name]", "[log][source][hostname]") // ref :76-80
  }

  // ------------------------------------- cisco.wireless.access_point
  /** ref syslog_audit_cisco.wireless.ap.conf:9-103. Quirks mirrored:
    *  - RULE 2's guard `!~ ": *"` (:36) matches any colon, so RULE 2 only
    *    sees colon-less payloads — on which its own `%{?pid}: ` mapping
    *    always fails; the else then sprintf-copies the MISSING eventcreated
    *    (`"%{eventcreated}"` stays literal) and the date filter tags
    *    _dateparsefailure_ec on it — both tags mirrored.
    *  - the eventcreated refinements append parse_rule onto the existing
    *    value (Logstash add_field array promotion → "RULE 3,RULE 4").
    *  - `%{?[[process][pid]]}` in RULE 1 (:30) is a SKIP — the pid is
    *    discarded despite its ECS-looking name.
    *  - the ` \w+$` gsub (:85-89) would strip a trailing bare word off
    *    [event][created]; fraction/second endings never match it. */
  def ciscoWirelessAp(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.wireless.access_point")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :16-20
    SyslogPri(ev) // ref :21-24
    val am = ev.getString("actual_msg").getOrElse("")
    if (am.contains(" UTC:")) { // ref :26-35
      ev.set("[agent][parse_rule]", "RULE 1")
      Dissect(ev, "actual_msg",
        "%{?[[process][pid]]}: %{eventcreated->} %{+eventcreated} %{+eventcreated} " +
          "%{?[[event][timezone]]}: %{?data}-%{?data2}-%{[[rule][name]]}: %{[[rule][description]]}")
    } else if (!am.contains(":")) { // ref :36-45 — `!~ ": *"` ≡ no colon at all
      ev.set("[agent][parse_rule]", "RULE 2")
      Dissect(ev, "actual_msg",
        "%{?pid}: %{eventcreated->} %{+eventcreated} %{+eventcreated}: " +
          "%{?data}-%{?data2}-%{[[rule][name]]}: %{[[event][action]]}")
    } else { // ref :46-55
      ev.set("[agent][parse_rule]", "RULE 3")
      Dissect(ev, "actual_msg",
        "%{?pid}: %{eventcreated->} %{+eventcreated} %{+eventcreated}: " +
          "%{?data}-%{?data2}-%{[[rule][name]]}: %{[[event][action]]}")
    }
    val ec = ev.getString("eventcreated")
    if (ec.exists(_.contains(": "))) { // ref :56-64
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 4")
      Dissect(ev, "eventcreated",
        "%{?data} %{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]}")
    } else if (ec.exists(_.contains("*"))) { // ref :65-73
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 5")
      Dissect(ev, "eventcreated",
        "*%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]}")
    } else {
      Mutate.addField(ev, "[event][created]", "%{eventcreated}") // ref :74-78
    }
    for (f <- Seq("actual_msg", "[log][date]", "[event][type]", "eventcreated")) // ref :79-82
      ev.remove(f)
    Mutate.gsub(ev, "[event][created]", " \\w+$", "") // ref :84-88
    if (Dates(ev, "[event][created]", // ref :90-96
      Seq("MMM dd yyyy HH:mm:ss", "MMM dd yyyy HH:mm:ss.SSS", "yyyy-mm-dd HH:mm:ss",
        "yyyy-mm-dd HH:mm:ss.SSS", "MMM dd HH:mm:ss", "MMM dd HH:mm:ss.SSS",
        "yyyy/MM/dd 'at' HH:mm:ss", "MMM d HH:mm:ss"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear))
      ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]") // ref :97-101
  }

  // --------------------------------------------------------- cisco.waas
  /** ref syslog_security_cisco.waas.conf:9-86. Quirks mirrored:
    *  - rest_msg is LOWERCASED (:31-33) before the rule probes, so every
    *    rule-dissect capture (users, ips, descriptions) is pre-lowercased
    *    while the 4-token [event][created] keeps its case.
    *  - rule 1 re-captures [service][type] from rest_msg, OVERWRITING the
    *    main dissect's value.
    *  - rule 2 and "other" share one mapping; only the parse_rule and the
    *    failure tag differ.
    *  - a payload that fails the main dissect still walks the else branch
    *    and collects _dissectfailure_other on the missing rest_msg. */
  def ciscoWaas(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cisco") // ref :9-12
    ev.set("[event][dataset]", "cisco.waas")
    Mutate.gsub(ev, "message", "  ", " ") // ref :13-16 (gsub precedes strip)
    Mutate.strip(ev, "message")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :17-21
    SyslogPri(ev) // ref :22-25
    Dissect(ev, "actual_msg", // ref :26-31
      "%{[[event][created]]} %{+[[event][created]]} %{+[[event][created]]} %{+[[event][created]]} " +
        "%{[[service][type]]}: %{[[event][code]]}: %{rest_msg}")
    Mutate.lowercase(ev, "rest_msg") // ref :32-34
    val rm = ev.getString("rest_msg").getOrElse("")
    if (rm.contains("authentication failure")) { // ref :35-45
      ev.set("[agent][parse_rule]", "rule 1")
      Dissect(ev, "rest_msg",
        "%{[[service][type]]}: %{[[event][action]]}; logname=%{[[user][name]]} " +
          "uid=%{[[user][id]]} %{?data} rhost=%{[[source][ip]]}", Seq("_dissectfailure_rule_1"))
    } else if (rm.contains("packet flags are incorrect")) { // ref :46-56
      ev.set("[agent][parse_rule]", "rule 2")
      Dissect(ev, "rest_msg",
        "%{[[source][ip]]}:%{[[source][port]]} - %{[[destination][ip]]}:%{[[destination][port]]} - " +
          "%{[[rule][description]]}", Seq("_dissectfailure_rule_2"))
    } else { // ref :57-67
      ev.set("[agent][parse_rule]", "other")
      Dissect(ev, "rest_msg",
        "%{[[source][ip]]}:%{[[source][port]]} - %{[[destination][ip]]}:%{[[destination][port]]} - " +
          "%{[[rule][description]]}", Seq("_dissectfailure_other"))
    }
    if (Dates(ev, "[event][created]", Seq("yyyy MMM d HH:mm:ss"), // ref :68-75
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]") // ref :76-80
    ev.remove("rest_msg") // ref :81-83
    ev.remove("actual_msg")
  }
}
