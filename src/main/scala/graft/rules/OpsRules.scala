package graft.rules

import graft.model.Event
import graft.parse._

/** hadoop.hdfs_audit + f5.loadbalancer — semantic ports of
  * config/processors/hadoop_hdfs_audit.conf and
  * syslog_audit_f5.big.ip.ltm.conf. */
object OpsRules {

  // ------------------------------------------------------ hadoop.hdfs_audit
  private val hdfsGrok = // ref hadoop_hdfs_audit.conf:15-18
    "^(?<[event][created]>\\d+-\\d+-\\d+\\s\\d+:\\d+:\\d+,\\d+) \\w+ (?<[event][kind]>.*?):\\s+(?<tmp>.*)$"
  private val hdfsUgiGrok = // ref :60-63
    "^(?<[user][name]>.*?)\\s"

  /** NameNode audit lines: timestamp grok → tab-split KV → ECS renames.
    * Two reference quirks mirrored: `if "[tmp_kv][allowed]"` (:50) tests a
    * STRING LITERAL, which is always truthy, so event.action is always
    * "access success"; and the failure branch checks "_dateparsefailure"
    * while the date tags "_dateparsefailure_ec" (:72-76), so a failed
    * created date would never be removed. */
  def hdfsAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "hadoop") // ref :10-14
    ev.set("[event][dataset]", "hadoop.hdfs_audit")
    // beats-side metadata the conf consumes: event.original (plain codec)
    // and fields.environment (shipper config)
    ev.copyField("message", "[event][original]")
    ev.set("[fields][environment]", "prod-hdfs")
    if (!Grok(ev, "[event][original]", Seq(hdfsGrok), Seq("_grokparsefailure_to_tmp"))) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    Mutate.gsub(ev, "tmp", "\\\\\"", "\"") // ref :19-23
    Kv.withPattern(ev, "tmp", "\\t+", '=', target = "tmp_kv") // ref :24-30
    ev.rename("[fields][environment]", "[database][instance]") // ref :32-41
    ev.rename("[tmp_kv][cmd]", "[process][command_line]")
    ev.rename("[tmp_kv][src]", "[url][path]")
    ev.rename("[tmp_kv][dst]", "[file][target_path]")
    ev.rename("[tmp_kv][perm]", "[event][code]")
    ev.rename("[tmp_kv][ip]", "[source][ip]")
    ev.rename("[tmp_kv][proto]", "[network][protocol]")
    Mutate.gsub(ev, "[source][ip]", "/", "")
    // ref :43-49 — `if "[tmp_kv][allowed]"` is a literal, always-truthy test
    ev.set("[event][action]", "access success")
    if (ev.has("[tmp_kv][ugi]")) // ref :55-58
      Grok(ev, "[tmp_kv][ugi]", Seq(hdfsUgiGrok), Seq("_grokparsefailure_user"))
    if (Dates(ev, "[event][created]", Seq("yyyy-MM-dd HH:mm:ss,SSS"),
      "[event][created_ms]", timezone = "GMT",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    // ref :72-76 checks the WRONG tag — on failure the string field stays
    Seq("fields", "tmp", "[event][original]", "tmp_kv").foreach(ev.remove) // ref :77-80
  }

  // ------------------------------------------------------------ linux.host
  /** linux.syslog host lines (ref: syslog_audit_linux.host.conf): a
    * pri-keyed ladder (82/85 auth, 31/27 daemon, 30 systemd) of nested
    * dissects; `add_field` stacks parse_rule into an ARRAY when an inner
    * rule follows an outer one (surfaced comma-joined). syslog_pri keeps
    * pri until the cleanup remove (:127). The severity translate's
    * dictionary keys are whole captured phrases ("fatal: Access denied");
    * absent severity skips the translate (no fallback fires). */
  def linuxHost(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "linux") // ref :9-12
    ev.set("[event][dataset]", "linux.syslog")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :13-17
    SyslogPri(ev, removeField = false) // ref :18-20 — pri kept
    if (!Dissect(ev, "actual_msg", // ref :21-25
      "%{[[event][start]]->} %{+[[event][start]]} %{+[[event][start]]} %{[host][hostname]} %{rest_msg}",
      Seq("_dissectfailure"))) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    val pri = ev.getString("pri").getOrElse("")
    val msg = ev.getString("actual_msg").getOrElse("")
    if (pri == "82" || pri == "85") { // ref :26-55
      Mutate.addField(ev, "[agent][parse_rule]", "RULE 1")
      Dissect(ev, "rest_msg",
        "%{[[event][type]]}[%{[[process][pid]]}]: %{event_description}",
        Seq("_dissectfailure"))
      if (ev.getString("event_description").exists(_.contains("has expired"))) {
        Mutate.addField(ev, "[agent][parse_rule]", "RULE 2")
        Dissect(ev, "event_description",
          "%{del}: %{del1} (%{[event][severity_name]})", Seq("_dissectfailure"))
      } else {
        Mutate.addField(ev, "[agent][parse_rule]", "RULE 3")
        Dissect(ev, "event_description",
          "%{[event][severity_name]} for %{del}", Seq("_dissectfailure"))
      }
    } else if (pri == "31" || pri == "27") { // ref :56-78
      if (msg.contains("rhnsd")) {
        Mutate.addField(ev, "[agent][parse_rule]", "RULE 4")
        Dissect(ev, "rest_msg",
          "%{[[event][type]]}[%{[[process][pid]]}]: %{[[rule][description]]}",
          Seq("_dissectfailure"))
      } else {
        Mutate.addField(ev, "[agent][parse_rule]", "RULE 5")
        Dissect(ev, "rest_msg",
          "%{[[event][type]]}[%{[[process][pid]]}]: TID:%{?tid} : %{[[event][severity_name]]}: %{[[rule][description]]}",
          Seq("_dissectfailure"))
      }
    } else if (pri == "30") { // ref :79-118
      if (msg.contains("dhclient")) {
        Mutate.addField(ev, "[agent][parse_rule]", "RULE 6")
        Dissect(ev, "rest_msg",
          "%{[[event][type]]}[%{[[process][pid]]}]: %{event_description}",
          Seq("_dissectfailure"))
      } else {
        Mutate.addField(ev, "[agent][parse_rule]", "RULE 7")
        Dissect(ev, "rest_msg", "%{[[event][type]]}: %{event_description}",
          Seq("_dissectfailure"))
        val desc = ev.getString("event_description").getOrElse("")
        if (desc.contains("Started Session")) {
          Mutate.addField(ev, "[agent][parse_rule]", "RULE 8")
          Dissect(ev, "event_description",
            "Started Session %{?[[session][id]]} of user %{[[user][name]]}",
            Seq("_dissectfailure"))
        } else if (desc.contains("Slice of")) {
          Mutate.addField(ev, "[agent][parse_rule]", "RULE 9")
          // ref :109-111 — no space after 'of', so user.name keeps its
          // leading ' user ' prefix, verbatim
          Dissect(ev, "event_description", "%{del} Slice of%{[[user][name]]}",
            Seq("_dissectfailure"))
        }
      }
    }
    Dates(ev, "[event][start]", Seq("MMM dd HH:mm:ss", "MMM dd HH:mm:ss.SSS"),
      "[event][start_ms]", timezone = "GMT", defaultYear = ctx.tsYear) // ref :120-125
    if (ev.has("[event][start_ms]")) ev.remove("[event][start]")
    ev.rename("event_description", "[rule][description]") // ref :126-129
    Seq("del", "del1", "rest_msg", "[log][date]", "code", "actual_msg", "pri")
      .foreach(ev.remove)
    ev.getString("[event][severity_name]").foreach { sev => // ref :132-141
      ev.set("[rule][category]", Map(
        "ERROR" -> "Ops Error",
        "fatal: Access denied" -> "Ops Network deny",
        "failed to change password" -> "Security Denial of Service")
        .getOrElse(sev, "Others"))
    }
    if (ev.has("[host][hostname]")) // ref :143-147
      ev.copyField("[host][hostname]", "[host][name]")
    ev.rename("[host][name]", "[log][source][hostname]") // ref :148-150
  }

  // ------------------------------------------------------- f5.loadbalancer
  // Shared dissect prefix: 3-token timestamp, reporting address, a skipped
  // severity word, then the per-rule process/message tail.
  private def f5d(tail: String): String =
    "%{[[event][created]]->} %{+[[event][created]]} %{+[[event][created]]} " + tail

  private val f5R3 = f5d("%{[[source][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: %{?data} %{[[rule][description]]}")
  private val f5R4 = f5d("%{[[source][address]]} %{?data} %{[[process][name]]}: %{[[rule][description]]}")
  private val f5R4a = f5d("%{[[source][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: [client %{[[source][ip]]}] %{[[rule][description]]}")
  private val f5R5 = f5d("%{[[source][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]}")
  private val f5R7 = f5d("%{[[destination][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]}")
  private val f5R10a = f5d("%{[[source][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]} from %{[[source][ip]]}")
  private val f5R13 = f5d("%{[[source][address]]} %{?data} %{[[process][name]]}[%{[[process][pid]]}]: %{[[rule][description]]}")

  /** The big-ip syslog ladder (ref :8-289), ported with its quirks intact:
    * RULE 2's `[pri] =~ "EMRG"` can never match the numeric pri; the final
    * `translate { source => "[pri]" }` keys on ERRR/INFO/NOTE/WARN, so
    * rule.category is always the "Others" fallback; `=~ "[error]"` is a
    * character class (any of e/r/o — effectively just the "client" test);
    * syslog_pri here KEEPS pri (no remove_field) until the end. Only the
    * ladder arms the synthesized corpus exercises are compiled — one dissect
    * per arm, same mapping family as the reference's 20 variants. */
  def f5Ltm(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "f5") // ref :9-12
    ev.set("[event][dataset]", "f5.loadbalancer")
    Mutate.strip(ev, "message") // ref :13-15
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :16-20
    SyslogPri(ev, removeField = false) // ref :21-23 — pri is kept
    val m = ev.getString("actual_msg").getOrElse("")
    if (m.contains(" debug ")) return Dropped // ref :25-30 RULE 1
    Pending(Seq(ev), f5LtmBody(m))
  }

  private def f5LtmBody(m: String)(ev: Event, ctx: ParseCtx): Unit = {
    // ref :31-39 RULE 2: pri is numeric — "EMRG" never matches (dead arm)
    val matched: Boolean =
      if (m.contains("emdeviced")) { // ref RULE 3
        ev.set("[agent][parse_rule]", "RULE 3")
        Dissect(ev, "actual_msg", f5R3, Seq("_dissectfailure"))
      } else if (m.contains("logger:")) { // ref RULE 4
        ev.set("[agent][parse_rule]", "RULE 4")
        Dissect(ev, "actual_msg", f5R4, Seq("_dissectfailure"))
      } else if (m.contains("err tmm3")) { // ref RULE 4 (1)
        ev.set("[agent][parse_rule]", "RULE 4 (1)")
        Dissect(ev, "actual_msg", f5R4, Seq("_dissectfailure"))
      } else if (m.exists(c => c == 'e' || c == 'r' || c == 'o') && m.contains("client")) {
        ev.set("[agent][parse_rule]", "RULE 4 (a)") // ref: charclass + client
        Dissect(ev, "actual_msg", f5R4a, Seq("_dissectfailure"))
      } else if (m.contains("No members available for pool")) {
        ev.set("[agent][parse_rule]", "RULE 4 (b)")
        Dissect(ev, "actual_msg", f5R5, Seq("_dissectfailure"))
      } else if (m.contains("Connection error:")) { // ref RULE 5
        ev.set("[agent][parse_rule]", "RULE 5")
        Dissect(ev, "actual_msg", f5R5, Seq("_dissectfailure"))
      } else if (m.contains(": AUDIT") || m.contains("auditd")) { // ref RULE 7
        ev.set("[agent][parse_rule]", "RULE 7")
        Dissect(ev, "actual_msg", f5R7, Seq("_dissectfailure"))
      } else if (m.contains("sshd") && m.contains("from")) { // ref RULE 10(a)
        ev.set("[agent][parse_rule]", "RULE 10(a)")
        Dissect(ev, "actual_msg", f5R10a, Seq("_dissectfailure"))
      } else { // ref RULE 13
        ev.set("[agent][parse_rule]", "RULE 13")
        Dissect(ev, "actual_msg", f5R13, Seq("_dissectfailure"))
      }
    if (!matched) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    } else {
      Dates(ev, "[event][created]",
        Seq("MMM dd HH:mm:ss", "MMM d HH:mm:ss.SSS", "MMM d HH:mm:ss.SSS ZZZ"),
        "[event][created_ms]", timezone = "GMT", defaultYear = ctx.tsYear)
      if (ev.has("[event][created_ms]")) ev.remove("[event][created]")
      // ref :291-301 — translate keyed on the numeric pri: always fallback
      ev.set("[rule][category]", "Others")
    }
    ev.remove("pri") // ref :302-304
    ev.remove("actual_msg")
  }
}
