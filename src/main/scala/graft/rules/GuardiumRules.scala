package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** guardium.db — semantic port of
  * config/processors/syslog_security_guardium.db.conf (423 lines): quote-
  * stripped syslog line, three-token created dissect, then a branch on
  * GuardiumSniffer vs alarm-forwarder messages. The alarm path (RULE 1)
  * dissects `proc[pid]:` and kv-decodes the quote-stripped alarm payload
  * into [gurd] with ~20 ECS renames; "Alert Name" payloads (RULE 1(a))
  * instead feed the STAP/flat-log/restart sub-rules.
  *
  * Mirrored reference accidents:
  *  - rest_message whitespace is collapsed (`(\s+)` → " ", ref :36) BEFORE
  *    the RULE 5 gate `":  subject"` (two spaces, ref :320) — the entire
  *    GuardiumSniffer RULE 5 branch is unreachable, so sniffer messages get
  *    NO parse_rule ('not parsed') with parse_ok true;
  *  - the ORACLE / MS SQL Server special-casing (ref :231-238) reads
  *    [gurd][Server Type] AFTER the big mutate renamed it away — both
  *    branches are dead and the generic else always runs;
  *  - [error][message] is added under [error] and then `remove_field
  *    ["[error]"]` deletes it with its parent (ref :219-229) — only
  *    [file][path] survives the error split;
  *  - RULE 2(a)'s grok targets the [tmp] ARRAY (ref :100-103) — ported with
  *    scalar-read semantics (fails on arrays), matching only the shapes the
  *    conf's own example produces.
  */
object GuardiumRules {

  private val createdFormats = // ref :370
    Seq("yyyy-MM-dd'T'HH:mm:ss.SSSZ", "yyyy-mm-dd HH:mm:ss", "yyyy-mm-dd HH:mm:ss.SSS",
      "MMM dd HH:mm:ss", "MMM dd HH:mm:ss ZZZ", "yyyy-MM-dd'T'HH:mm:ssZ")

  private def rm(ev: Event): String = ev.getString("rest_message").getOrElse("")

  def guardium(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "guardium") // ref :9-12
    ev.set("[event][dataset]", "guardium.db")
    Mutate.strip(ev, "message") // ref :16-19
    Mutate.gsub(ev, "message", "[\"]", "")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :20-24
    SyslogPri(ev) // ref :25-28
    Dissect(ev, "actual_msg", // ref :29-34
      "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} %{?data} %{rest_message}",
      Seq("_dissectfailure_1"))
    Mutate.gsub(ev, "rest_message", "(\\s+)", " ") // ref :35-37
    val r0 = rm(ev)
    if (!r0.contains("GuardiumSniffer[")) { // ref :38
      if (r0.contains("[") && r0.contains("]:")) { // ref :39-296 — RULE 1 alarm path
        ev.mergeInto("[agent][parse_rule]", "RULE 1")
        if (r0.contains("{") || r0.contains("}"))
          Mutate.gsub(ev, "rest_message", "[\\{}]", "") // ref :44-48
        Dissect(ev, "rest_message",
          "%{[[process][name]]}[%{[[process][pid]]}]: %{json_msg}", Seq("_dissectfailure_2"))
        Mutate.gsub(ev, "json_msg", "[\\{}]", "") // ref :55-57
        if (ev.getString("json_msg").exists(_.contains("Alert Name"))) { // ref :58-158
          ev.mergeInto("[agent][parse_rule]", "RULE 1(a)")
          Mutate.gsub(ev, "json_msg", "#015#012", ",")
          Mutate.gsub(ev, "json_msg", "#012#012", ",")
          Kv(ev, "json_msg", ',', ':', target = "guard_alert")
          ev.rename("[guard_alert][Alert Name]", "alert_name")
          if (ev.has("alert_name")) {
            Dissect(ev, "alert_name",
              "%{[[rule][name]]} Alert Description:%{?data}", Seq("_dissectfailure_11"))
            ev.remove("alert_name")
          }
          val r = rm(ev)
          if (r.contains("Count #012")) { // ref :86-113 — RULE 2(a)
            ev.mergeInto("[agent][parse_rule]", "RULE 2(a)")
            Grok(ev, "rest_message", Seq("^.*?Count #012(?<tmp>.*?)$"), Seq("grok_failure_1"))
            Mutate.splitField(ev, "tmp", "#012")
            // ref :100-103 — grok over the [tmp] ARRAY: scalar-read port,
            // tags grok_failure_2 for multi-line shapes
            Grok(ev, "tmp", Seq("^(?<[host][hostname]>.*?)\\s+((?<[database][name]>.*?)\\s+)?(?<[rule][category]>.*?)\\s+(?<date>.*?)\\s+(?<time>.*?)\\s+(?<[observer][hostname]>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)\\s+(?<data>.*?)$"),
              Seq("grok_failure_2"))
            if (!ev.has("[tmp][1]"))
              Mutate.addField(ev, "[event][end]", "%{date} %{time}")
            else
              Mutate.addField(ev, "[event][end]", "%{[date][0]} %{[time][0]}")
          }
          if (rm(ev).contains("STAP No Traffic")) { // ref :114-124 — RULE 2(b)
            ev.mergeInto("[agent][parse_rule]", "RULE 2(b)")
            Dissect(ev, "rest_message",
              "%{?data} #012%{[server][ip]} %{[event][end]} %{+[event][end]} %{[event][sequence]}",
              Seq("_dissectfailure_12"))
          }
          if (rm(ev).contains("Flat log request")) { // ref :125-135 — RULE 2(c)
            ev.mergeInto("[agent][parse_rule]", "RULE 2(c)")
            Dissect(ev, "rest_message",
              "%{?data} #012%{[event][duration]} %{[network][packets]}", Seq("_dissectfailure_13"))
          }
          if (rm(ev).contains("Sniffer restart aler")) { // ref :136-146 — RULE 2(d)
            ev.mergeInto("[agent][parse_rule]", "RULE 2(d)")
            Dissect(ev, "rest_message",
              "%{?data} #012%{[event][duration]} %{[process][thread][id]}", Seq("_dissectfailure_14"))
          }
          if (rm(ev).contains("Failed Another aggregation")) { // ref :147-157 — RULE 2(e)
            ev.mergeInto("[agent][parse_rule]", "RULE 2(e)")
            Dissect(ev, "rest_message",
              "%{?data} #012%{[event][type]} %{[event][start]} %{+[event][start]} %{[event][outcome]} %{[event][reason]}. %{?data}",
              Seq("_dissectfailure_13"))
          }
        } else { // ref :159-218 — RULE 1(b) forwarder alarm kv
          ev.mergeInto("[agent][parse_rule]", "RULE 1(b)")
          Kv(ev, "json_msg", ',', ':', target = "gurd")
          ev.rename("[gurd][error]", "error")
          ev.rename("[gurd][agent][name]", "[agent][name]")
          ev.rename("[gurd][Alert based on rule ID]", "[rule][name]")
          ev.rename("[gurd][Rule #]", "[rule][id]")
          ev.rename("[gurd][violationID]", "[event][id]")
          ev.rename("[gurd][Server Type]", "[event][module]")
          ev.rename("[gurd][Severity]", "[event][severity_name]")
          ev.rename("[gurd][Client IP]", "[source][ip]")
          ev.rename("[gurd][Client]", "[source][address]")
          ev.rename("[gurd][Client PORT]", "[source][port]")
          ev.rename("[gurd][OSUser]", "[source][user][name]")
          ev.rename("[gurd][Server IP]", "[destination][ip]")
          ev.rename("[gurd][Server]", "[destination][address]")
          ev.rename("[gurd][Server Port]", "[destination][port]")
          ev.rename("[gurd][Requestype]", "[service][name]")
          ev.rename("[gurd][Net Protocol]", "[network][protocol]")
          ev.rename("[gurd][Application User Name]", "[host][user][name]")
          ev.rename("[gurd][Database Name]", "[database][name]")
          ev.rename("[gurd][Source Program]", "[process][name]")
          ev.rename("[gurd][EPOC Event Occurred]", "[event][start]")
        }
        if (ev.has("error")) { // ref :219-229 — message dies with [error]; path survives
          Mutate.splitField(ev, "error", ":")
          // both sprintf templates resolve against the split array before
          // either add_field lands (writing [error][message] replaces the
          // [error] array, so sequential resolution would see a stale tree)
          val msgV = Mutate.sprintf(ev, "%{[[error][0]]}")
          val fpV = Mutate.sprintf(ev, "%{[[error][1]]}")
          ev.set("[error][message]", msgV)
          ev.set("[file][path]", fpV)
          ev.remove("error") // takes [error][message] with it (the ref's own quirk)
          Mutate.strip(ev, "[file][path]")
        }
        // ref :231-244 — [gurd][Server Type] was renamed away above: the
        // ORACLE / MS SQL SERVER arms are dead, the else always runs
        if (ev.getString("[gurd][Server Type]").contains("ORACLE")) {
          ev.rename("[gurd][Service Name]", "[database][name]")
        } else if (ev.getString("[gurd][Server Type]").contains("MS SQL SERVER")) {
          ev.rename("[gurd][Database Name]", "[database][name]")
        } else {
          ev.rename("[gurd][Service Name]", "[service][type]")
          ev.rename("[gurd][Database Name]", "[database][name]")
        }
        if (ev.getString("[gurd][DB User]").exists(_.contains("\\"))) { // ref :246-258
          Grok(ev, "[gurd][DB User]",
            Seq("(?<[user][domain]>.*?)\\\\(?<[user][name]>.*?)$"), Seq("grok_failure_3"))
        } else {
          ev.rename("[gurd][DB User]", "[user][name]")
        }
        ev.remove("gurd") // ref :259-261
        if (ev.has("destination_ip")) { // ref :263-273 — top-level field, never set
          Dissect(ev, "destination_ip",
            "%{[[destination][ip]]} (%{[[destination][address]]})", Seq("_dissectfailure_3"))
          ev.remove("destination_ip")
        }
        if (ev.has("source_ip")) { // ref :274-284
          Dissect(ev, "source_ip",
            "%{[[source][ip]]} (%{[[source][address]]})", Seq("_dissectfailure_4"))
          ev.remove("destination_ip")
        }
        if (ev.getString("[process][title]").exists(_.contains("port"))) { // ref :285-295
          ev.mergeInto("[agent][parse_rule]", "RULE 2")
          Dissect(ev, "rest_message", "%{?data} port %{[[source][port]]}", Seq("_dissectfailure_5"))
        }
      } else if (r0.contains("run-parts") && r0.contains("[")) { // ref :297-307 — RULE 3
        ev.mergeInto("[agent][parse_rule]", "RULE 3")
        Grok(ev, "rest_message",
          Seq("%{DATA:[[process][name]]}\\[%{NUMBER:[[process][pid]]}(?:\\])? %{GREEDYDATA:[[process][title]]}"))
      } else if (r0.contains(": pam_unix")) { // ref :308-318 — RULE 4
        ev.mergeInto("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "rest_message",
          "%{[[process][name]]}: pam_unix(%{?data}:session): %{[[process][title]]}",
          Seq("_dissectfailure_6"))
      }
    } else if (r0.contains(":  subject") && r0.contains("Alert based on rule ID")) {
      // ref :320-356 — RULE 5: the ":  subject" two-space gate can never
      // match the whitespace-collapsed rest_message → dead branch, kept
      // verbatim for totality
      ev.mergeInto("[agent][parse_rule]", "RULE 5")
      Dissect(ev, "rest_message",
        "%{[[process][name]]}[%{[[process][pid]]}]:  subject %{[[process][title]]}, %{?data}Category: %{msg}",
        Seq("_dissectfailure_7"))
      ev.mergeInto("[agent][parse_rule]", "RULE 5(a)")
      Mutate.gsub(ev, "msg", "\\\\n", " ")
      Mutate.gsub(ev, "msg", "[\\\\]", "")
      val m = ev.getString("msg").getOrElse("")
      if (m.contains("Authorization Code:") && m.contains("Request Type:") &&
        m.contains("SQL Status:") && m.contains("Last Error:")) {
        ev.addTag("inside if")
        Dissect(ev, "msg",
          "%{?category_name} %{?data}: %{?classification} Severity MED%{?severity_MED} %{?data} # %{[[rule][description]]} ]%{?data}: %{?request_info} Server Type:%{?destination_type} %{?data}: %{[[source][ip]]} %{?data}: %{[[destination][ip]]} %{?data}: %{[[source][port]]} %{?data}: %{[[destination][port]]} %{?data}:%{[[service][name]]} %{?data}: %{[[database][name]]} %{?data}: %{[[network][protocol]]} %{?data}: %{?db_protocol} %{?data}: %{?db_protocolversion} %{?data}: %{[[database][user][name]]} %{?data}: %{[[user][name]]} %{?data}: %{[[file][path]]} %{?data}: %{?[[autherzation][code]]} %{?data}: %{request_type} %{?data}: %{[[error][message]]]} %{?data}: %{?sql_name} %{?data}: %{?sql_status} %{?data}",
          Seq("_dissectfailure_8"))
      } else {
        Dissect(ev, "msg",
          "%{?category_name} %{?data}: %{?classification} Severity MED%{?severity_MED} %{?data} # %{[[rule][description]]} ]%{?data}: %{?request_info} Server Type:%{?destination_type} %{?data}: %{[[source][ip]]} %{?data}: %{[[destination][ip]]} %{?data}: %{[[source][port]]} %{?data}: %{[[destination][port]]} %{?data}:%{[[service][name]]} %{?data}: %{[[database][name]]} %{?data}: %{[network][protocol]} %{?data}: %{?db.protocol} %{?data}: %{?[[protocol][version]]} %{?data}: %{[[database][user][name]]} %{?data}: %{[[user][name]]} %{?data}",
          Seq("_dissectfailure_9"))
      }
    } else if (ev.getString("[process][title]").exists(_.contains("#"))) { // ref :357-367
      Dissect(ev, "[process][title]", "%{[[rule][name]]}#", Seq("_dissectfailure_10"))
      ev.remove("[process][title]")
    }
    if (ev.has("[event][created]")) { // ref :368-381
      if (Dates(ev, "[event][created]", createdFormats, "[event][created_ms]",
        timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec"),
        defaultYear = ctx.tsYear))
        ev.remove("[event][created]")
      // ref :376 checks the WRONG tag name ("_dateparsefailure") — the
      // failed string is left for the 02 coercion pass to scrub
    }
    if (ev.has("[event][start]")) { // ref :382-395
      if (Dates(ev, "[event][start]", Seq("UNIX_MS", "UNIX", "yyyy-mm-dd HH:mm:ss"),
        "[event][start_ms]", timezone = "GMT", locale = "en",
        tagOnFailure = Seq("_dateparsefailure_es")))
        ev.remove("[event][start]")
      if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]")
    }
    if (ev.has("[event][end]")) { // ref :396-409
      if (Dates(ev, "[event][end]", Seq("UNIX_MS", "UNIX", "yyyy-MM-dd HH:mm:ss"),
        "[event][end_ms]", timezone = "GMT", locale = "en",
        tagOnFailure = Seq("_dateparsefailure_ee")))
        ev.remove("[event][end]")
      if (ev.hasTag("_dateparsefailure_ee")) ev.remove("[event][end]")
    }
    Seq("[log][date_time]", "msg", "actual_msg", "json_msg", "guard_alert", // ref :410-412
      "rest_message", "alert_details", "tmp", "data", "date", "time").foreach(ev.remove)
    ev.getString("[host][hostname]").foreach { h => // ref :413-419
      if (h != "") {
        ev.copyField("[host][hostname]", "[host][name]")
        ev.copyField("[host][hostname]", "[log][source][hostname]")
      }
    }
  }
}
