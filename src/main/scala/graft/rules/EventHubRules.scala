package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** The remaining event_hub_audit_azure.* members — semantic ports of
  * config/processors/event_hub_audit_azure.event_hub_{audit, azureaudit,
  * riskyuser, operational, emailevents, userriskevents, securityincident,
  * anomalies, interactive_signin}.conf.
  *
  * Three envelope styles exist in the family:
  *
  *  - style A ("insights" members: audit, operational) — NO message
  *    lowercase; `json → azure`; `if [azure][records][0]` split into a
  *    per-member target + `json_encode target → message`; the per-record
  *    hostname is `%{[target][tenantId]}`. A bare (non-envelope) object
  *    never sets the target, so every rename no-ops and the hostname stays
  *    an unresolved sprintf literal (scrubbed to null by enrichment 94) —
  *    mirrored.
  *  - style B (azureaudit, riskyuser, emailevents, userriskevents,
  *    securityincident) — message LOWERCASED first; envelope detected by
  *    the literal prefix `{"records": [`; split target `az`, message
  *    replaced by `%{az}` (rendered as the record's JSON, the same
  *    interpretation the azure.officeactivity port established); bare
  *    objects parse straight into `az`.
  *  - style C (anomalies) — lowercase; `split` with NO target (in-place
  *    element replacement of [tmp][records]) + `json_encode tmp → message`.
  *
  * interactive_signin is its own beast: input host/event removal, a
  * message-unescape gsub chain, the guardduty-style recursive key-downcase
  * ruby, a networkLocationDetails ruby whose camelCase item probes are DEAD
  * (the keys were just downcased, so it pushes Ruby nils — mirrored), the
  * `%{az}` + json_encode double-encode of message, and a date gsub whose
  * `.SSS`-anchored capture DESTROYS parseability of millisecond timestamps
  * (strips the zone, leaving a space-separated local time ISO8601 rejects)
  * while second-resolution stamps pass through and parse — all mirrored.
  */
object EventHubRules {

  private def failParse(ev: Event): ParseOutcome = {
    ev.set("[agent][parse_rule]", "not parsed")
    ev.addTag("_parse_failure")
    Parsed(Seq(ev))
  }

  /** Clone the event minus `drop` top-level keys, with `target` = record. */
  private def subFor(ev: Event, drop: Set[String], target: String, rec: Any): Event = {
    val sub = new Event
    ev.root.forEach((k, v) => if (!drop.contains(k)) sub.root.put(k, Event.deepCopy(v)))
    ev.tags.foreach(sub.addTag)
    sub.set(target, Event.deepCopy(rec))
    sub
  }

  // ------------------------------------------------------------- style A
  /** audit/operational envelope: returns per-record events (target set,
    * message re-encoded, per-record tenant hostname) or the single
    * no-target event for bare objects. */
  private def styleA(ev: Event, dataset: String, topic: String, target: String)
                    (per: Event => Unit): ParseOutcome = {
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", dataset)
    ev.set("[kafka][topic]", topic)
    ev.set("[agent][name]", "azure.eventhub")
    if (!JsonOps.parse(ev, "message", "azure")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    val records = ev.get("[azure][records]") match {
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => Some(a.toVector)
      case _ => None
    }
    records match {
      case Some(rs) =>
        Pending(rs.map(subFor(ev, Set("azure"), target, _)), { (sub, _) =>
          JsonOps.encode(sub, target, "message")
          Mutate.addField(sub, "[log][source][hostname]", s"%{[$target][tenantId]}")
          per(sub)
          sub.remove(target)
        })
      case None => // bare object: target never set — renames no-op, hostname
        // stays the unresolved literal (94 scrubs it to null)
        Pending(Seq(ev), { (ev, _) =>
          Mutate.addField(ev, "[log][source][hostname]", s"%{[$target][tenantId]}")
          per(ev)
          ev.remove("azure")
        })
    }
  }

  // ------------------------------------------------------------- style B
  /** lowercase + `{"records": [` prefix envelope; `per` receives each event
    * with the record at [az] (message already replaced for split rows). */
  private def styleB(ev: Event)(per: Event => Unit): ParseOutcome = {
    Mutate.lowercase(ev, "message")
    val msg = ev.stringOrNull("message")
    val isEnv = msg != null && msg.startsWith("{\"records\": [")
    val ok =
      if (isEnv) JsonOps.parse(ev, "message", "tmp")
      else JsonOps.parse(ev, "message", "az") // skip_on_invalid_json
    if (!ok) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    if (isEnv) {
      val records = ev.get("[tmp][records]") match {
        case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => a.toVector
        case _ => Vector(new Event.FMap())
      }
      Pending(records.map(subFor(ev, Set("tmp"), "az", _)), { (sub, _) =>
        JsonOps.encode(sub, "az", "message") // replace => "%{az}"
        per(sub)
        sub.remove("az"); sub.remove("tmp")
      })
    } else Pending(Seq(ev), { (ev, _) =>
      per(ev)
      ev.remove("az"); ev.remove("tmp")
    })
  }

  private def dateRm(ev: Event, f: String, fmts: Seq[String], tag: String): Unit =
    if (Dates(ev, f, fmts, f.dropRight(1) + "_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq(tag))) ev.remove(f)

  // ------------------------------- azure.eventhub.insights_audit (style A)
  /** ref event_hub_audit_azure.event_hub_audit.conf. Mirrored quirks: the
    * `[azaudit][correlationID]` rename is dead (data key is correlationId);
    * `[properties][targetResources][type]` probes an array without an index
    * (dead); the `unregister device` comparison only matches the literal
    * lowercase form; `[app][appid]` (lowercase) is absent in camelCase data
    * so its `!= ""` check passes and the appId branch always runs. */
  def ehAudit(ev: Event, ctx: ParseCtx): ParseOutcome =
    styleA(ev, "azure.eventhub.insights_audit", "api_azure.eventhub.insights_audit",
      "azaudit") { sub =>
      sub.rename("[azaudit][properties][initiatedBy][app][displayName]", "[user][name]")
      sub.rename("[azaudit][operationName]", "[rule][name]")
      sub.rename("[azaudit][operationVersion]", "[rule][version]")
      sub.rename("[azaudit][category]", "[rule][category]")
      sub.rename("[azaudit][tenantId]", "[rule][id]")
      sub.rename("[azaudit][resultType]", "[event][action]")
      sub.rename("[azaudit][resultSignature]", "[error][code]")
      sub.rename("[azaudit][resultDescription]", "[rule][description]")
      sub.rename("[azaudit][correlationID]", "[event][id]") // dead: data has correlationId
      sub.rename("[azaudit][level]", "[log][level]")
      sub.rename("[azaudit][properties][targetResources][type]", "[observer][type]") // dead: array
      sub.rename("[azaudit][callerIpAddress]", "[source][ip]")
      sub.rename("[azaudit][properties][initiatedBy][user][userPrincipalName]", "[source][user][email]")
      sub.rename("[azaudit][properties][targetResources][0][userPrincipalName]", "[user][email]")
      sub.rename("[azaudit][properties][targetResources][0][id]", "[destination][user][id]")
      sub.rename("[azaudit][identity]", "[file][group]")
      sub.rename("[azaudit][properties][category]", "[event][kind]")
      sub.rename("[azaudit][properties][resultReason]", "[event][reason]")
      // ref :60-76 — collect non-empty modifiedProperties[].newValue
      sub.get("[azaudit][properties][targetResources]") match {
        case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
          val nv = mutable.ArrayBuffer.empty[Any]
          a.foreach {
            case item: Event.FMap => item.get("modifiedProperties") match {
              case mp: mutable.ArrayBuffer[Any @unchecked] =>
                mp.foreach {
                  case m: Event.FMap =>
                    val v = m.get("newValue")
                    if (v != null && v != "") nv += v
                  case _ => ()
                }
              case _ => ()
            }
            case _ => ()
          }
          if (nv.nonEmpty) sub.set("[group][name]", nv)
        case _ => ()
      }
      // ref :79-98 — unregister-device extraction vs initiatedBy user id
      if (sub.stringOrNull("[rule][name]") == "unregister device") {
        sub.get("[azaudit][properties][additionalDetails]") match {
          case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
            a.foreach {
              case item: Event.FMap if item.get("key") == "additionalinfo" =>
                val v = item.get("value") match { case s: String => s; case _ => "" }
                val m = java.util.regex.Pattern.compile("(?<=for user )(.*?)(?=\\.)").matcher(v)
                if (m.find()) sub.set("[user][id]", m.group(1))
                else sub.addTag("newvalue1_ruby_block") // saveid nil → NoMethodError
              case _ => ()
            }
          case _ => ()
        }
      } else {
        sub.rename("[azaudit][properties][initiatedBy][user][id]", "[user][id]")
      }
      // ref :99-107 — absent lowercase `appid` != "" is true → appId branch
      if (sub.stringOrNull("[azaudit][properties][initiatedBy][app][appid]") != "")
        sub.rename("[azaudit][properties][initiatedBy][app][appId]", "[service][id]")
      else
        sub.rename("[azaudit][properties][initiatedBy][app][servicePrincipalId]", "[service][id]")
    }

  // ------------------------- azure.eventhub.insights_operational (style A)
  /** ref event_hub_audit_azure.event_hub_operational.conf:31-48. Both
    * [properties][operationName] and top-level [operationName] land on
    * [rule][name] (top wins when both exist), same for category. */
  def ehOperational(ev: Event, ctx: ParseCtx): ParseOutcome =
    styleA(ev, "azure.eventhub.insights_operational",
      "api_azure.eventhub.insights_operational", "azops") { sub =>
      sub.rename("[azops][properties][operationName]", "[rule][name]")
      sub.rename("[azops][properties][Version]", "[rule][version]")
      sub.rename("[azops][properties][category]", "[rule][category]")
      sub.rename("[azops][properties][Status]", "[service][status]")
      sub.rename("[azops][properties][resultType]", "[event][action]")
      sub.rename("[azops][properties][ErrorCode]", "[error][code]")
      sub.rename("[azops][properties][FailureMessage]", "[rule][description]")
      sub.rename("[azops][properties][EventId]", "[event][id]")
      sub.rename("[azops][properties][UserId]", "[user][id]")
      sub.rename("[azops][properties][level]", "[log][level]")
      sub.rename("[azops][operationName]", "[rule][name]") // top-level wins
      sub.rename("[azops][properties][OsVersion]", "[host][os][version]")
      sub.rename("[azops][properties][FailureReason]", "[rule][description]") // wins over FailureMessage
      sub.rename("[azops][category]", "[rule][category]") // top-level wins
      sub.rename("[azops][tenantId]", "[rule][id]")
      sub.rename("[azops][properties][Os]", "[host][os][name]")
    }

  // --------------------------------------------- azure.audit (style B)
  /** ref event_hub_audit_azure.event_hub_azureaudit.conf. The targetresources
    * ruby collects id/displayname/userprincipalname LISTS into
    * destination.user.* — always arrays, which flatten to null scalars. */
  def ehAzureaudit(ev: Event, ctx: ParseCtx): ParseOutcome = styleB(ev) { sub =>
    sub.set("[event][module]", "azure")
    sub.set("[event][dataset]", "azure.audit")
    Mutate.addField(sub, "[log][source][hostname]", "%{[az][tenantid]}")
    sub.rename("[az][aadoperationtype]", "[event][action]")
    sub.rename("[az][aadtenantid]", "[rule][id]")
    sub.rename("[az][activitydatetime]", "[event][created]")
    sub.rename("[az][activitydisplayname]", "[rule][name]")
    sub.rename("[az][category]", "[event][category]")
    sub.rename("[az][durationms]", "[event][duration]")
    sub.rename("[az][id]", "[event][id]")
    sub.rename("[az][initiatedby][user][id]", "[source][user][id]")
    sub.rename("[az][initiatedby][user][displayname]", "[source][user][name]")
    sub.rename("[az][initiatedby][user][userprincipalname]", "[source][user][email]")
    sub.rename("[az][initiatedby][user][ipaddress]", "[source][ip]")
    sub.rename("[az][level]", "[event][severity]")
    sub.rename("[az][operationversion]", "[rule][version]")
    sub.rename("[az][result]", "[event][outcome]")
    sub.rename("[az][resultdescription]", "[rule][description]")
    sub.rename("[az][timegenerated]", "[event][ingested]")
    sub.rename("[az][type]", "[event][type]")
    sub.get("[az][targetresources]") match { // ref :56-85 ruby lists
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
        val ids, names, emails = mutable.ArrayBuffer.empty[Any]
        a.foreach {
          case item: Event.FMap =>
            val i = item.get("id"); if (i != null && i != "") ids += i
            val n = item.get("displayname"); if (n != null && n != "") names += n
            val e = item.get("userprincipalname"); if (e != null && e != "") emails += e
          case _ => ()
        }
        if (ids.nonEmpty) sub.set("[destination][user][id]", ids)
        if (names.nonEmpty) sub.set("[destination][user][name]", names)
        if (emails.nonEmpty) sub.set("[destination][user][email]", emails)
      case _ => ()
    }
    sub.remove("az"); sub.remove("tmp")
    dateRm(sub, "[event][ingested]", Seq("ISO8601"), "_dateparsefailure_ei")
    dateRm(sub, "[event][created]", Seq("ISO8601"), "_dateparsefailure_ec")
  }

  // ------------------------------------------ azure.riskyuser (style B)
  /** ref event_hub_audit_azure.event_hub_riskyuser.conf. risklastupdateddatetime
    * lands on [event][end] with NO date block — 02's unparsed-date pass
    * removes it and tags _dateparsefailure_ee (mirrored). */
  def ehRiskyuser(ev: Event, ctx: ParseCtx): ParseOutcome = styleB(ev) { sub =>
    sub.set("[event][module]", "azure")
    sub.set("[event][dataset]", "azure.riskyuser")
    Mutate.addField(sub, "[log][source][hostname]", "%{[az][tenantid]}")
    sub.rename("[az][riskdetail]", "[rule][description]")
    sub.rename("[az][risklastupdateddatetime]", "[event][end]")
    sub.rename("[az][risklevel]", "[event][severity_name]")
    sub.rename("[az][riskstate]", "[event][outcome]")
    sub.rename("[az][userdisplayname]", "[user][name]")
    sub.rename("[az][userprincipalname]", "[user][email]")
    sub.rename("[az][timegenerated]", "[event][ingested]")
    sub.rename("[az][operationname]", "[rule][name]")
    sub.rename("[az][correlationid]", "[event][id]")
    sub.rename("[az][type]", "[event][type]")
    sub.remove("az"); sub.remove("tmp")
    dateRm(sub, "[event][ingested]", Seq("ISO8601"), "_dateparsefailure_ei")
  }

  // ---------------------------------------- azure.emailevents (style B)
  /** ref event_hub_audit_azure.event_hub_emailevents.conf — constant
    * hostname; url.original feeds the 06 url enrichment downstream. */
  def ehEmailevents(ev: Event, ctx: ParseCtx): ParseOutcome = styleB(ev) { sub =>
    sub.set("[event][module]", "azure")
    sub.set("[event][dataset]", "azure.emailevents")
    sub.set("[log][source][hostname]", "api_azure_emailevents")
    sub.rename("[az][reportid]", "[rule][id]")
    sub.rename("[az][timegenerated]", "[event][ingested]")
    sub.rename("[az][url]", "[url][original]")
    sub.rename("[az][urldomain]", "[url][domain]")
    sub.rename("[az][type]", "[event][type]")
    sub.rename("[az][filename]", "[file][name]")
    sub.rename("[az][filetype]", "[file][type]")
    sub.rename("[az][senderdisplayname]", "[source][user][name]")
    sub.rename("[az][senderfromaddress]", "[source][user][email]")
    sub.rename("[az][senderobjectid]", "[source][user][id]")
    sub.rename("[az][filesize]", "[file][size]")
    sub.rename("[az][recipientemailaddress]", "[destination][user][email]")
    sub.rename("[az][recipientobjectid]", "[database][user][id]")
    sub.remove("az"); sub.remove("tmp")
    dateRm(sub, "[event][ingested]", Seq("ISO8601"), "_dateparsefailure_ei")
  }

  // -------------------------------------- azure.userriskevents (style B)
  /** ref event_hub_audit_azure.event_hub_userriskevents.conf. */
  def ehUserriskevents(ev: Event, ctx: ParseCtx): ParseOutcome = styleB(ev) { sub =>
    sub.set("[event][module]", "azure")
    sub.set("[event][dataset]", "azure.userriskevents")
    Mutate.addField(sub, "[log][source][hostname]", "%{[az][tenantid]}")
    sub.rename("[az][id]", "[event][id]")
    sub.rename("[az][userid]", "[user][id]")
    sub.rename("[az][ipaddress]", "[client][ip]")
    sub.rename("[az][location][city]", "[source][geo][city_name]")
    sub.rename("[az][location][state]", "[source][geo][name]")
    sub.rename("[az][location][countryorregion]", "[source][geo][region_name]")
    sub.rename("[az][requestid]", "[transaction][id]")
    sub.rename("[az][riskdetail]", "[rule][description]")
    sub.rename("[az][riskeventtype]", "[event][kind]")
    sub.rename("[az][risklevel]", "[event][severity_name]")
    sub.rename("[az][riskstate]", "[event][outcome]")
    sub.rename("[az][source]", "[observer][product]")
    sub.rename("[az][tokenissuertype]", "[source][as][organization][name]")
    sub.rename("[az][userprincipalname]", "[user][email]")
    sub.rename("[az][timegenerated]", "[event][ingested]")
    sub.rename("[az][operationname]", "[rule][name]")
    sub.rename("[az][type]", "[event][type]")
    sub.remove("az"); sub.remove("tmp")
    dateRm(sub, "[event][ingested]", Seq("ISO8601"), "_dateparsefailure_ei")
  }

  // ------------------------------------ azure.securityincident (style B)
  /** ref event_hub_audit_azure.event_hub_securityincident.conf. */
  def ehSecurityincident(ev: Event, ctx: ParseCtx): ParseOutcome = styleB(ev) { sub =>
    sub.set("[event][module]", "azure")
    sub.set("[event][dataset]", "azure.securityincident")
    Mutate.addField(sub, "[log][source][hostname]", "%{[az][tenantid]}")
    sub.rename("[az][createdtime]", "[event][created]")
    sub.rename("[az][description]", "[rule][description]")
    sub.rename("[az][firstactivitytime]", "[event][start]")
    sub.rename("[az][incidentnumber]", "[event][id]")
    sub.rename("[az][incidentname]", "[rule][name]")
    sub.rename("[az][lastmodifiedtime]", "[event][modified]")
    sub.rename("[az][providername]", "[event][provider]")
    sub.rename("[az][severity]", "[event][severity_name]")
    sub.rename("[az][timegenerated]", "[event][ingested]")
    sub.rename("[az][type]", "[event][type]")
    sub.rename("[az][tenantid]", "[rule][id]")
    sub.rename("[az][title]", "[event][kind]")
    sub.remove("az"); sub.remove("tmp")
    dateRm(sub, "[event][created]", Seq("ISO8601"), "_dateparsefailure_ec")
    dateRm(sub, "[event][ingested]", Seq("ISO8601"), "_dateparsefailure_ei")
    dateRm(sub, "[event][start]", Seq("ISO8601"), "_dateparsefailure_es")
    dateRm(sub, "[event][modified]", Seq("ISO8601"), "_dateparsefailure_em")
  }

  // ---------------------------------------- azure.anomalies (style C)
  /** ref event_hub_audit_azure.event_hub_anomalies.conf — split WITHOUT a
    * target replaces [tmp][records] in place per element; the whole tmp is
    * then re-encoded as message. Quirks mirrored: [event][created]'s
    * failure tag is _dateparsefailure_es (reference copy-paste), and the
    * `[tactics][0] != ''` guard is also true when tactics is ABSENT
    * (nil != '' — the rename then no-ops). entities/extendedlinks are
    * arrays in real data, so their object-shaped probes are dead there;
    * object-shaped records exercise the live arm. */
  def ehAnomalies(ev: Event, ctx: ParseCtx): ParseOutcome = {
    Mutate.lowercase(ev, "message")
    if (!JsonOps.parse(ev, "message", "tmp")) return failParse(ev)
    ev.set("[agent][parse_rule]", "Rule 1")
    val records = ev.get("[tmp][records]") match {
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => Some(a.toVector)
      case _ => None
    }
    val subs = records match {
      case None => // split on a non-array: event passes through tagged, and
        // the json_encode after it still replaces message with the whole tmp
        ev.addTag("_split_type_failure")
        JsonOps.encode(ev, "tmp", "message")
        Vector(ev)
      case Some(rs) => rs.map { rec =>
        val sub = subFor(ev, Set("tmp"), "[tmp][records]", rec)
        JsonOps.encode(sub, "tmp", "message")
        sub
      }.toVector
    }
    Pending(subs, { (sub, _) =>
      sub.set("[event][module]", "azure")
      sub.set("[event][dataset]", "azure.anomalies")
      Mutate.addField(sub, "[log][source][hostname]", "%{[tmp][records][tenantid]}")
      sub.rename("[tmp][records][username]", "[user][name]")
      sub.rename("[tmp][records][userprincipalname]", "[user][email]")
      sub.rename("[tmp][records][userinsights][accountdisplayname]", "[user][full_name]")
      sub.rename("[tmp][records][userinsights][accountdomain]", "[user][domain]")
      sub.rename("[tmp][records][userinsights][accountobjectid]", "[user][id]")
      sub.rename("[tmp][records][timegenerated]", "[event][created]")
      sub.rename("[tmp][records][starttime]", "[event][start]")
      sub.rename("[tmp][records][endtime]", "[event][end]")
      sub.rename("[tmp][records][rulename]", "[rule][name]")
      sub.rename("[tmp][records][ruleid]", "[rule][id]")
      sub.rename("[tmp][records][extendedlinks][label]", "[event][kind]")
      sub.rename("[tmp][records][deviceinsights][useragentfamily]", "[user_agent][device][name]")
      sub.rename("[tmp][records][entities][address]", "[source][ip]")
      sub.rename("[tmp][records][anomalydetails][score]", "[event][risk_score]")
      if (sub.has("[tmp][records][activityinsights][actionuncommonlyperformedbyuser]"))
        sub.addTag("actionuncommonlyperformedbyuser")
      if (sub.has("[tmp][records][activityinsights][unusualnumberofaadconditionalaccessfailures]"))
        sub.addTag("unusualnumberofaadconditionalaccessfailures")
      if (sub.has("[tmp][records][activityinsights][unusualnumberoffailedsigninofthisuser]"))
        sub.addTag("unusualnumberoffailedsigninofthisuser")
      if (sub.stringOrNull("[tmp][records][tactics][0]") != "")
        sub.rename("[tmp][records][tactics]", "[threat][tactic][name]")
      if (sub.stringOrNull("[tmp][records][techniques][0]") != "")
        sub.rename("[tmp][records][techniques]", "[threat][technique][id]")
      dateRm(sub, "[event][created]", Seq("ISO8601"), "_dateparsefailure_es") // ref tag bug
      dateRm(sub, "[event][start]", Seq("ISO8601"), "_dateparsefailure_es")
      dateRm(sub, "[event][end]", Seq("ISO8601"), "_dateparsefailure_ee")
      sub.remove("tmp")
    })
  }

  // ---------------------------------- azure.interactivesignin (style D)
  private val signinGsubs = Vector(
    ("\\\\+\"", "\""), ("\"\\[", "["), ("\\]\"", "]"), ("\\}\"", "}"), ("\"\\{", "{"))

  /** ref event_hub_audit_azure.event_hub_interactive_signin.conf. */
  def ehInteractiveSignin(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.remove("host"); ev.remove("event") // ref :9-11
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.interactivesignin")
    signinGsubs.foreach { case (p, r) => Mutate.gsub(ev, "message", p, r) } // ref :15-21
    if (!JsonOps.parse(ev, "message", "tmp")) {
      ev.addTag("_jsonparsefailure_split_msg")
      ev.set("[agent][parse_rule]", "not parsed")
      return Parsed(Seq(ev))
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    val msg = ev.stringOrNull("message")
    val isEnv = msg != null && msg.matches("^\\{(\\s+)?\"records\".*")
    val subs =
      if (isEnv) {
        val records = ev.get("[tmp][records]") match {
          case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => a.toVector
          case _ => Vector(new Event.FMap())
        }
        records.map { rec =>
          val sub = subFor(ev, Set("tmp"), "az", rec)
          // replace message with %{az}, then json_encode message IN PLACE —
          // the double-encode (ref :37-44) leaves a JSON-string-quoted JSON
          JsonOps.encode(sub, "az", "message")
          JsonOps.encode(sub, "message", "message")
          sub
        }
      } else {
        ev.rename("tmp", "az")
        Vector(ev)
      }
    Pending(subs, { (sub, _) =>
      // ref :49-85 — recursive key-downcase (guardduty normalizer)
      Mutate.deepDowncaseKeys(sub,
        ignore = Set("path", "@timestamp", "@metadata", "host", "@version",
          "message", "tags"))
      // ref :88-110 — networkLocationDetails ruby: the camelCase item keys
      // were JUST downcased, so item['networkType']/['networkNames'] are
      // nil; nil != '' holds and the lists fill with nils (mirrored)
      sub.get("[az][networklocationdetails]") match {
        case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
          val types, names = mutable.ArrayBuffer.empty[Any]
          a.foreach {
            case item: Event.FMap =>
              val t = item.get("networkType"); if (t != "") types += t
              val n = item.get("networkNames"); if (n != "") names += n
            case _ => ()
          }
          if (types.nonEmpty) sub.set("[network][type]", types)
          if (names.nonEmpty) sub.set("[network][name]", names)
        case _ => ()
      }
      sub.rename("[az][tenantid]", "[cloud][account][id]")
      sub.rename("[az][timegenerated]", "[event][ingested]")
      sub.rename("[az][operationname]", "[event][reference]")
      sub.rename("[az][category]", "[event][category]")
      sub.rename("[az][durationms]", "[event][duration]")
      sub.rename("[az][resulttype]", "[error][code]")
      sub.rename("[az][correlationid]", "[event][id]")
      sub.rename("[az][identity]", "[file][group]")
      sub.rename("[az][createddatetime]", "[event][created]")
      sub.rename("[az][ipaddress]", "[source][ip]")
      sub.rename("[az][useragent]", "[user_agent][original]")
      sub.rename("[az][userprincipalname]", "[user][email]")
      sub.rename("[az][appdisplayname]", "[process][name]")
      sub.rename("[az][userid]", "[user][id]")
      sub.rename("[az][operationversion]", "[service][version]")
      sub.rename("[az][appid]", "[process][entity_id]")
      sub.rename("[az][status][failurereason]", "[event][reason]")
      sub.rename("[az][resultdescription]", "[error][message]")
      sub.rename("[az][autonomoussystemnumber]", "[source][as][number]")
      sub.rename("[az][userdisplayname]", "[user][full_name]")
      sub.rename("[az][conditionalaccessstatus]", "[event][action]")
      sub.rename("[az][resourceserviceprincipalid]", "[cloud][instance][id]")
      sub.rename("[az][status][additionaldetails]", "[rule][category]")
      sub.rename("[az][status][errorcode]", "[rule][id]")
      sub.rename("[az][authenticationrequirement]", "[event][kind]")
      sub.rename("[az][clientappused]", "[event][provider]")
      sub.rename("[az][resourcedisplayname]", "[group][name]")
      sub.rename("[az][type]", "[event][type]")
      sub.rename("[az][devicedetail][deviceid]", "[host][id]")
      sub.rename("[az][devicedetail][operatingsystem]", "[host][os][name]")
      sub.rename("[az][devicedetail][displayname]", "[host][hostname]")
      // index-less authenticationdetails renames are dead on the array;
      // the [0] forms move keys OUT of element 0 (ref :141-146)
      sub.rename("[az][authenticationdetails][authenticationmethod]", "[http][request][method]")
      sub.rename("[az][authenticationdetails][authenticationstepresultdetail]", "[rule][description]")
      sub.rename("[az][authenticationdetails][authenticationsteprequirement]", "[error][type]")
      sub.rename("[az][authenticationdetails][0][authenticationmethod]", "[http][request][method]")
      sub.rename("[az][authenticationdetails][0][authenticationstepresultdetail]", "[rule][description]")
      sub.rename("[az][authenticationdetails][0][authenticationsteprequirement]", "[error][type]")
      sub.rename("[az][devicedetail][browser]", "[process][parent][name]")
      sub.rename("[az][devicedetail][trusttype]", "[tls][version_protocol]")
      sub.rename("[az][authenticationdetails]", "[event][outcome]") // gutted element 0
      sub.rename("[az][conditionalaccesspolicies]", "[user][group][name]")
      sub.copyField("[az][authenticationprocessingdetails][0][key]", "[tls][cipher]")
      // ref :157-176 — json_encode both, then merge the metadata markers
      // into event.outcome (string → 3-element array → null scalar column)
      if (sub.has("[event][outcome]")) JsonOps.encode(sub, "[event][outcome]", "[event][outcome]")
      if (sub.has("[user][group][name]")) JsonOps.encode(sub, "[user][group][name]", "[user][group][name]")
      if (sub.has("[event][outcome]")) {
        sub.mergeInto("[event][outcome]", "host_is_not_managed")
        sub.mergeInto("[event][outcome]", "host_is_iscompliant")
      }
      Mutate.addField(sub, "[log][source][hostname]", "%{[host][hostname]}")
      // ref :186-191 — the .SSS-anchored gsub strips the zone and leaves a
      // space separator, so millisecond stamps then FAIL ISO8601 (created
      // falls back to the 03 default, ingested is lost); second-resolution
      // stamps skip the gsub and parse
      Mutate.gsub(sub, "[event][created]", "^(.*?)T(.*?\\.\\d\\d\\d).*?$", "$1 $2")
      Mutate.gsub(sub, "[event][ingested]", "^(.*?)T(.*?\\.\\d\\d\\d).*?$", "$1 $2")
      dateRm(sub, "[event][created]", Seq("ISO8601"), "_dateparsefailure_ec")
      dateRm(sub, "[event][ingested]", Seq("ISO8601"), "_dateparsefailure_ei")
      sub.remove("az")
    })
  }
}
