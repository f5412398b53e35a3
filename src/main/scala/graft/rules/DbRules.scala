package graft.rules

import graft.model.Event
import graft.parse._

/** github.audit (GHE) + citrix.session — semantic ports of
  * config/processors/api_audit_aws.ghe.conf and
  * db_audit_citrix.session.conf. */
object DbRules {

  // ------------------------------------------------------------ github.audit
  /** GHE haproxy-style JSON audit lines (ref: api_audit_aws.ghe.conf:8-45):
    * flat renames + a year-less syslog-style date with remove-on-failure. */
  def githubAudit(ev: Event, ctx: ParseCtx): Unit = {
    if (!JsonOps.parse(ev, "message", "tmp")) { // ref :9-12
      ev.set("[event][module]", "github")
      ev.set("[event][dataset]", "github.audit")
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "github") // ref :13-29
    ev.set("[event][dataset]", "github.audit")
    ev.rename("[tmp][server_name]", "[server][address]")
    ev.rename("[tmp][client_port]", "[client][port]")
    ev.rename("[tmp][bytes_read]", "[http][request][bytes]")
    ev.rename("[tmp][http_request]", "[url][query]")
    ev.rename("[tmp][http_version]", "[http][version]")
    ev.rename("[tmp][client_ip]", "[client][ip]")
    ev.rename("[tmp][http_status_code]", "[http][response][status_code]")
    ev.rename("[tmp][http_verb]", "[http][request][method]")
    ev.rename("[tmp][ident]", "[service][name]")
    ev.rename("[tmp][timestamp]", "[event][created]")
    ev.rename("[tmp][host]", "[log][source][hostname]")
    ev.rename("[tmp][pid]", "[process][pid]")
    ev.rename("[tmp][message]", "[rule][description]")
    ev.remove("tmp") // ref :30-32
    if (ev.has("[event][created]")) { // ref :34-45
      if (Dates(ev, "[event][created]", Seq("MMM dd HH:mm:ss", "MMM  dd HH:mm:ss"),
        "[event][created_ms]", tagOnFailure = Seq("_dateparsefailure_ec"),
        defaultYear = ctx.tsYear)) ev.remove("[event][created]")
      else if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    }
  }

  // -------------------------------------------------------- proofpoint.trap
  /** TRAP incident JSON (ref: log_security_proofpoint.trap.conf:8-104):
    * renames (several array-valued — event_ids, event_sources, hosts.cnc —
    * which flatten to null/arrays exactly as an ES mapping would see them)
    * plus the :39-78 ruby block over users / quarantine_results /
    * incident_field_values. Ruby quirk kept: the recipient test
    * `item['recipient'] != '' or 'null'` parses as `(x != '') or 'null'`
    * and 'null' is truthy, so EVERY recipient is collected, empties
    * included. */
  def proofpointTrap(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "proofpoint") // ref :9-13
    ev.set("[event][dataset]", "proofpoint.trap")
    ev.set("[log][source][hostname]", "api_proofpoint_trap")
    if (!JsonOps.parse(ev, "message", "tmp")) { // ref :14-17
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.rename("[tmp][summary]", "[event][reason]") // ref :18-38
    ev.rename("[tmp][event_sources]", "[event][category]")
    ev.rename("[tmp][created_at]", "[event][created]")
    ev.rename("[tmp][event_ids]", "[event][id]")
    ev.rename("[tmp][hosts][cnc]", "[related][ip]")
    ev.rename("[tmp][hosts][attacker]", "[threat][list][ioc]")
    ev.rename("[tmp][hosts][forensics]", "[threat][list][event_analysis]")
    ev.rename("[tmp][description]", "[rule][description]")
    ev.rename("[tmp][id]", "[trace][id]")
    ev.rename("[tmp][score]", "[event][risk_score]")
    ev.rename("[tmp][state]", "[event][outcome]")
    ev.rename("[tmp][closed_at]", "[event][end]")
    ev.rename("[tmp][updated_at]", "[event][modified]")
    ev.rename("[tmp][team]", "[team][name]")
    ev.rename("[tmp][assignee]", "[assignee][user][name]")
    ev.rename("[tmp][event_count]", "[event][sequence]")
    ev.rename("[tmp][close_detail]", "[event][recommendation]")
    ev.rename("[tmp][failed_quarantines]", "[event][risk_score_norm]")
    // ref :39-78 — the msgparts ruby block
    import scala.collection.mutable
    ev.get("[tmp][users]").foreach {
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        val users = a.collect { case s: String if s != "" => s: Any }
        if (users.nonEmpty)
          ev.set("[source][user][name]", users)
      case _ => ()
    }
    ev.get("[tmp][quarantine_results]").foreach {
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        val emails = mutable.ArrayBuffer.empty[Any]
        a.foreach {
          case m: Event.FMap =>
            // `!= '' or 'null'` — always true in ruby; every recipient lands
            val r = m.get("recipient")
            if (r != null) emails += r
          case _ => ()
        }
        if (emails.nonEmpty) ev.set("[user][email]", emails)
      case _ => ()
    }
    ev.get("[tmp][incident_field_values]").foreach {
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        a.foreach {
          case m: Event.FMap =>
            (m.get("name"), m.get("value")) match {
              case ("Classification", v) if v != null => ev.set("[threat][list][category]", v)
              case ("Attack Vector", v) if v != null => ev.set("[threat][list][attribute_tag]", v)
              case ("Severity", v) if v != null => ev.set("[event][severity_name]", v)
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    ev.remove("tmp") // ref :80-82
    def dateRm(f: String, target: String, tag: String): Unit = {
      Dates(ev, f, Seq("yyyy-MM-dd'T'HH:mm:ss'Z'"), target,
        timezone = "GMT", tagOnFailure = Seq(tag))
      if (ev.has(target)) ev.remove(f)
    }
    dateRm("[event][created]", "[event][created_ms]", "_dateparsefailure_ec") // ref :83-103
    dateRm("[event][end]", "[event][end_ms]", "_dateparsefailure_ee")
    dateRm("[event][modified]", "[event][modified_ms]", "_dateparsefailure_em")
  }

  // ---------------------------------------------------------- citrix.session
  /** Citrix session DB rows (ref: db_audit_citrix.session.conf:8-64): the
    * jdbc input delivers `message` as a MAP of columns; fields are COPIED
    * (not renamed) onto ECS, three ISO dates target start/ingested/created,
    * and a final ruby renders message back to its string form — so the
    * copied source values remain inside the message payload too. */
  def citrixSession(ev: Event, ctx: ParseCtx): Unit = {
    // jdbc-input stand-in: the datagram is the row as JSON; message becomes
    // the parsed map (what the input codec hands the pipeline)
    if (!JsonOps.parse(ev, "message", "message")) {
      ev.set("[event][module]", "citrix")
      ev.set("[event][dataset]", "citrix.session")
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    ev.set("[event][module]", "citrix") // ref :13-17
    ev.set("[event][dataset]", "citrix.session")
    ev.copyField("[message][clientname]", "[source][address]") // ref :18-37
    ev.copyField("[message][clientaddress]", "[source][ip]")
    ev.copyField("[message][username]", "[source][user][id]")
    ev.copyField("[message][usr_full_name]", "[source][user][full_name]")
    ev.copyField("[message][usr_domain]", "[source][user][domain]")
    ev.copyField("[message][connectedviaipaddress]", "[source][nat][ip]")
    ev.copyField("[message][launchedviahostname]", "[destination][address]")
    ev.copyField("[message][launchedviaipaddress]", "[destination][nat][ip]")
    ev.copyField("[message][publishedname]", "[service][ephemeral_id]")
    ev.copyField("[message][enabled]", "[event][code]")
    ev.copyField("[message][protocol]", "[network][protocol]")
    ev.copyField("[message][clientplatform]", "[host][os][name]")
    ev.copyField("[message][id]", "[event][id]")
    ev.copyField("[message][applicationtype]", "[service][type]")
    ev.copyField("[message][browsername]", "[user_agent][name]")
    ev.copyField("[message][connectedviahostname]", "[server][address]")
    ev.copyField("[message][clientversion]", "[host][os][version]")
    ev.copyField("[message][name]", "[service][name]")
    // ref :41-60 — the sss/'t' pattern variants fail; ISO8601 catches both
    Dates(ev, "[message][logonstartdate]",
      Seq("yyyy-MM-dd'T'HH:mm:ss.sss'Z'", "yyyy-MM-dd't'HH:mm:ss.sss'z'", "ISO8601"),
      "[event][start_ms]", timezone = "GMT")
    Dates(ev, "[message][establishmentdate]",
      Seq("yyyy-MM-dd'T'HH:mm:ss.sss'Z'", "yyyy-MM-dd't'HH:mm:ss.sss'z'", "ISO8601"),
      "[event][ingested_ms]", timezone = "GMT")
    Dates(ev, "[message][createddate]",
      Seq("yyyy-MM-dd'T'HH:mm:ss.sss'Z'", "yyyy-MM-dd't'HH:mm:ss.sss'z'", "ISO8601"),
      "[event][created_ms]", timezone = "GMT")
    JsonOps.encode(ev, "message", "message") // ref :61-63 ruby to_s
  }
}
