package graft.rules

import graft.model.Event
import graft.parse.{Dates, Dissect, Grok, Kv, Mutate, SyslogPri}

/** citrix.netscaler — semantic port of the single largest processor conf in
  * the reference corpus (config/processors/syslog_audit_citrix.netscaler.conf,
  * 681 lines): syslog header + pri decode, a two-stage dissect that splits the
  * audit line into (created, host, feature-kind, classification, rest), an
  * inline translate of the classification into an audit category, and an
  * 18-rule ladder keyed on [event][kind] with per-[event][type] sub-branches.
  *
  * Reference accidents are mirrored deliberately, since they shape the
  * observable output:
  *  - RULE 5 (DNS/SSLI, ref :194-198) puts grok `(?<...>)` syntax inside a
  *    dissect mapping — the "pattern" is literal text that never matches, so
  *    every DNS/SSLI event carries `_dissectfailure`.
  *  - RULE 4 LOGIN_FAILED (ref :180), RULE 6 LICLMT/REMOVE_SESSION_DEBUG/
  *    CLISEC (ref :276,:283,:290,:297) and RULE 10 SESSION_FAILURE (ref :436)
  *    spell the leading skip token `{?starting_data}` without the `%` — a
  *    literal prefix no real message starts with; those dissects always fail.
  *  - RULE 3's non-Message path (ref :145-149) runs a `session_guid ...`
  *    dissect AND an [event][type]-specific dissect over the SAME rest_msg
  *    with contradictory leading literals — at most one can match, so these
  *    events keep their first-dissect fields plus a `_dissectfailure`.
  *  - RULE 7's Natip grok (ref :356) and user_dom grok (ref :362) misspell
  *    the second named group as `(<...>)`: Natip still captures the ip (the
  *    malformed group is optional), but user_dom matches nothing and tags
  *    `_grokparsefailure`.
  *  - RULE 9/13/16/18's post-kv renames (ref :400-420,:490-497,:557-561,
  *    :600-605) read TOP-LEVEL fields although kv targeted [net] — they are
  *    no-ops; only [net]-prefixed renames (RULE 7/14/15/17) take effect.
  *  - RULE 15 (ref :516-521) stacks TWO add_field parse_rules → array.
  *  - RULE 18 SSLLOG's OCSP dissect (ref :589) has broken `%{}` nesting whose
  *    compiled form demands a literal `}` at end of input — always fails.
  *  - RULE 7 swaps Total_bytes_recv→[source][bytes] / send→[destination]
  *    (ref :374-375), unlike every other rule in the file.
  *
  * Whitespace-in-kv-keys: the `-`-separated kv branches split on the full
  * ` - ` delimiter so keys come out unpadded, matching the conf's unpadded
  * rename keys (the evident intent of ref :323-330 / :366-377).
  */
object NetscalerRules {

  /** ref :47-79 — classification → audit category translate, fallback Others. */
  private val categoryDict: Map[String, String] = Map(
    "SSL_HANDSHAKE_SUCCESS" -> "Audit/Information",
    "SSL_HANDSHAKE_SUBJECTNAME" -> "Audit/Information",
    "SSL_HANDSHAKE_ISSUERNAME" -> "Audit/Information",
    "SESSION_UPDATE" -> "Audit/Information",
    "NETWORK_UPDATE" -> "Audit/Information",
    "CHANNEL_UPDATE" -> "Audit/Information",
    "REMOVE_SESSION_DEBUG" -> "Audit/Information",
    "HTTPREQUEST" -> "Audit/Information",
    "OTHERCONN_DELINK" -> "Audit/Information",
    "ICAEND_CONNSTAT" -> "Audit/Information",
    "ICASTART" -> "Audit/Information",
    "TCPCONNSTAT" -> "Audit/Information",
    "LOGIN" -> "Audit/Authentication Success",
    "CONN_TERMINATE" -> "Audit/Information",
    "CMD_EXECUTED" -> "Audit/Information",
    "Message" -> "Audit/Information",
    "EXTRACTED_GROUPS" -> "Audit/Information",
    "LOGOUT" -> "Audit/Authentication Success",
    "MONITORDOWN" -> "Audit/Information",
    "MONITORUP" -> "Audit/Information",
    "TRAP_SENT" -> "Audit/Information",
    "DEVICEUP" -> "Audit/Information",
    "DEVICEDOWN" -> "Audit/Information",
    "CONN_DELINK" -> "Audit/Information",
    "LOGIN_FAILED" -> "Audit/Authentication Failure",
    "TCPCONN_TIMEDOUT" -> "Audit/Information")

  private val dateFormatsStart = // ref :634
    Seq("MM/dd/yyyy:HH:mm:ss z", "MM/dd/yyyy:HH:mm:ss ZZZ", "MM/dd/yyyy:HH:mm:ss 'GMT '")
  private val dateFormatsEnd = // ref :643
    Seq("MM/dd/yyyy:HH:mm:ss z", "MM/dd/yyyy:HH:mm:ss 'GMT '")

  private val delinkGrok = // ref :87
    " Source (?<[source][ip]>.*?)\\:(?<[source][port]>\\d+) - Vserver (?<[server][ip]>.*?)\\:(?<[server][port]>\\d+) - NatIP (?<[source][nat][ip]>.*?)\\:(?<[source][nat][port]>\\d+) - Destination (?<[destination][ip]>.*?)\\:(?<[destination][port]>\\d+) - Delink Time (?<[event][end]>.*?) (?:- )?Total_bytes_send (?<[source][bytes]>\\d+) - Total_bytes_recv (?<[destination][bytes]>\\d+)"

  private val httpreqGrok = // ref :221
    "Context.*?\\@(?<[source][ip]>\\d+.*?)\\s+\\- (?<rest_data>.*?$)"

  private val natipGrok = // ref :356 — second group malformed `(<...>)` in the ref
    "(?<[source][nat][ip]>[^\\:]+)\\:?(<[source][nat][port]>\\d+)?"

  private val userDomGrok = // ref :362 — BOTH groups malformed; never matches
    "(<[source][user][name]>[^\\:]+)\\:?(<[source][user][domain]>.*?)?"

  private val icapGrok = // ref :463
    "Source (?<[source][ip]>.*?)\\:(?<[source][port]>\\d+) - Destination (?<[destination][ip]>.*?)\\:(?<[destination][port]>\\d+) - Domain\\s+(?<[url][domain]>.*?) - Content\\s+\\-\\s+Type.*?ICAPServer (?<[server][ip]>.*?)\\:(?<[server][port]>\\d+) - Mode (?<[service][type]>.*?) Service (?<[service][name]>.*?) Response(?<[http][response][status_code]>\\d+) - Action (?<[event][action]>.*?)"

  private val inlineGrok = // ref :470
    "ID (?<[event][id]>.*?) - Source (?<[source][ip]>.*?)\\:(?<[source][port]>\\d+) - Destination (?<[destination][ip]>.*?)\\:(?<[destination][port]>\\d+) - Protocol (?<[network][protocol]>.*?) - URL (?<[url][full]>.*?) - Domain\\s+(?<[url][domain]>.*?) - Service (?<[service][name]>.*?) - .*? - Action (?<[event][action]>.*?) - (Request)?\\s?Bytes\\s?Sent (?<[source][bytes]>\\d+) - (Response)?\\s?Bytes\\s?Sent (?<[destination][bytes]>\\d+) - OriginServer (?<[server][ip]>.*?)\\:(?<[server][port]>\\d+)"

  private def etype(ev: Event): String = ev.getString("[event][type]").getOrElse("")

  def netscaler(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "citrix") // ref :10-13
    ev.set("[event][dataset]", "citrix.netscaler")
    Grok(ev, "message", Seq(Registry.HeaderGrok), Seq("_parsefailure_header")) // ref :14-18
    SyslogPri(ev) // ref :19-22
    Mutate.strip(ev, "actual_msg") // ref :23-26
    Mutate.gsub(ev, "actual_msg", "[\"]", "")
    if (ev.getString("actual_msg").getOrElse("") == "") { // ref :27-32
      ev.set("[agent][parse_rule]", "RULE 1 (dropped)")
      return Dropped
    }
    Pending(Seq(ev), netscalerBody)
  }

  private def netscalerBody(ev: Event, ctx: ParseCtx): Unit = {
    // ref :34-38 — created(2 tokens) host ppe : description : rest
    Dissect(ev, "actual_msg",
      "%{[[event][created]]} %{+[[event][created]]} %{[[source][address]]} %{?data} : %{event_description} : %{rest_msg}")
    Dissect(ev, "event_description", // ref :39-43
      "%{?data} %{[event][kind]} %{classification_values} %{?data}")
    ev.copyField("classification_values", "[event][type]") // ref :44-46
    ev.getString("classification_values").foreach { c => // ref :47-79
      ev.set("[event][category]", categoryDict.getOrElse(c, "Others"))
    }
    ev.getString("[event][kind]").getOrElse("") match {
      case "TCP" => // ref :80-106
        ev.set("[agent][parse_rule]", "RULE 2 (TCP)")
        etype(ev) match {
          case "CONN_DELINK" | "OTHERCONN_DELINK" =>
            Grok(ev, "rest_msg", Seq(delinkGrok)) // ref :85-91
          case "CONN_TERMINATE" => // ref :92-98
            Dissect(ev, "rest_msg",
              " Source %{[[source][ip]]}:%{[[source][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - Start Time %{[[event][start]]} %{+[[event][start]]} - End Time %{[[event][end]]} %{+[[event][end]]} - Total_bytes_send %{[[source][bytes]]} - Total_bytes_recv %{[[destination][bytes]]}")
          case "NAT_CONN_DELINK" | "NAT_OTHERCONN_DELINK" => // ref :99-105
            Dissect(ev, "rest_msg",
              " Source %{[[source][ip]]}:%{[[source][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - NatIP %{[[server][nat][ip]]}:%{[[server][nat][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - Start Time %{[[event][start]]} %{+[[event][start]]} -End Time %{[[event][end]]} %{+[[event][end]]} - Total_bytes_send %{[[source][bytes]]} - total_bytes_recv %{[[destination][bytes]]} - ClosureReason %{[[event][reason]]}")
          case _ => ()
        }
      case "ICA" => // ref :107-165
        ev.set("[agent][parse_rule]", "RULE 3 (ICA)")
        if (etype(ev) == "Message") {
          if (ev.getString("rest_msg").exists(_.contains("Session GUID"))) { // ref :112-137
            Dissect(ev, "rest_msg",
              " %{[[rule][name]]}:%{?data}Session GUID [%{[[event][id]]}],%{rest_data}")
            Kv.withPattern(ev, "rest_data", "[\\]\\\\,]", '[', target = "net") // ref :118-123
            Dissect(ev, "[net][ Client IP/Port ]", "%{[[source][ip]]}/%{[[source][port]]}") // ref :124-129
            Dissect(ev, "[net][ Server IP/Port ]", "%{[[destination][ip]]}/%{[[destination][port]]}")
            ev.rename("[net][ User ]", "[source][user][name]") // ref :130-136
            ev.rename("[net][ Server ]", "[destination][address]")
            ev.rename("[net][ Client ]", "[source][address]")
            ev.rename("[net][ Session setup time ]", "[event][start]")
            ev.rename("[net][ Skip Code ]", "[event][code]")
          } else ev.rename("rest_msg", "[rule][description]") // ref :138-142
        } else { // ref :144-149 — contradictory double dissect (see header note)
          Dissect(ev, "rest_msg",
            "%{?starting_data}session_guid %{[[event][id]]} - device_serial_number %{[[host][serial]]} - client_cookie %{[[http][cookie][name]]} - flags %{?data} - %{rest_data}")
          etype(ev) match {
            case "SESSION_SETUP" => // ref :150-156
              Dissect(ev, "rest_msg",
                "session_setup_time %{[[event][start]]} - client_ip %{[[source][ip]]} - client_type %{?data} - client_launcher %{?data} - client_version %{?data} - client_hostname %{[[source][address]]} - domain_name %{[[source][domain]]} - server_name %{[[server][address]]} - connection_priority %{[[event][severity_name]]} - access_type %{[[event][reason]]} - status %{[[event][code]]} - username %{[[source][user][name]]}")
            case "SESSION_UPDATE" => // ref :157-163
              Dissect(ev, "rest_msg",
                "nsica_session_status %{[[event][code]]} - nsica_session_client_ip %{[[source][ip]]} - nsica_session_client_port %{[[source][port]]} - nsica_session_server_ip %{[[destination][ip]]} - %{[[source][ip]]} nsica_session_server_port %{[[destination][port]]} - %{?data}")
            case _ => ()
          }
        }
      case "AAA" => // ref :166-189
        ev.set("[agent][parse_rule]", "RULE 4 (AAA)")
        etype(ev) match {
          case "EXTRACTED_GROUPS" =>
            Dissect(ev, "rest_msg", " Extracted_groups %{[[group][name]]}") // ref :170-176
          case "LOGIN_FAILED" => // ref :177-183 — `{?starting_data}` literal: always fails
            Dissect(ev, "rest_msg",
              "{?starting_data}User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Failure_reason %{[[error][message]]} - Browser %{[[user_agent][name]]}")
          case _ => ev.rename("rest_msg", "[rule][description]") // ref :184-188
        }
      case "DNS" | "SSLI" => // ref :190-199 — grok syntax inside dissect: always fails
        ev.set("[agent][parse_rule]", "RULE 5 (DNS-SSLI)")
        Dissect(ev, "rest_msg",
          " Source (?<[source][ip]>.*?)\\:(?<[source][port]>\\d+) - Destination (?<[destination][ip]>.*?)\\:(?<[destination][port]>\\d+) User : %{[[source][user][name]]} - Domain : %{[[source][domain]]} - Category : %{[[rule][category]]} Action : %{[[event][action]]} - Reason : %{[[event][reason]]}")
      case "SSLVPN" => // ref :200-306
        ev.set("[agent][parse_rule]", "RULE 6 (SSLVPN)")
        val t = etype(ev)
        if (t == "LOGIN") // ref :204-210
          Dissect(ev, "rest_msg",
            "%{?starting_data}SessionId: %{[[trace][id]]} - User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Nat_ip %{[[source][nat][ip]]} - Vserver %{[[destination][ip]]}:%{[[destination][port]]} - Browser_type %{[[user_agent][name]]} - SSLVPN_client_type %{sslvpn_client_type} - Group(s) %{[[group][name]]}")
        else if (t == "LOGOUT") // ref :211-217
          Dissect(ev, "rest_msg",
            "%{?starting_data}User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Nat_ip %{[[source][nat][ip]]} - Vserver %{[[destination][ip]]}:%{[[destination][port]]} - Start_time %{[[event][start]]} - End_time %{[[event][end]]} - Duration %{fix_duration}  - Http_resources_accessed %{http_resource_accessed} - Total_TCP_connections %{total_tcp_connection} - Total_policies_allowed %{total_policies_allowed} - Total_policies_denied %{total_policies_denied} - Total_bytes_send %{[[source][bytes]]} - Total_bytes_recv %{[[destination][bytes]]} - Total_compressedbytes_send %{?data} - Total_compressedbytes_recv %{?data} - Compression_ratio_send %{?data} - Compression_ratio_recv %{?data} - LogoutMethod %{[event][reason]} - Group(s) %{[[group][name]]}")
        else if (t == "HTTPREQUEST") { // ref :218-230
          Grok(ev, "rest_msg", Seq(httpreqGrok))
          Dissect(ev, "rest_data",
            "SessionId: %{[[trace][id]]}- %{[[url][full]]} User %{[[source][user][name]]} : Group(s) %{[[group][name]]} : Vserver %{[[destination][ip]]}:%{[[destination][port]]} - %{[[event][start]]} : SSO is %{?sso} : %{[[http][request][method]]} %{[[http][request][referrer]]} -%{?data}")
        } else if (t == "TCPCONNSTAT") // ref :231-237
          Dissect(ev, "rest_msg",
            "%{?starting_data}SessionId: %{[[trace][id]]} - User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Nat_ip %{[[source][nat][ip]]} - Vserver %{[[server][ip]]}:%{[[server][port]]} - Source %{[[source][ip]]}:%{[[source][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - Start_time %{[[event][start]]} - End_time %{[[event][end]]} - Duration %{?data} - Total_bytes_send %{[[source][bytes]]} - Total_bytes_recv %{[[destination][bytes]]} - Total_compressedbytes_send %{?data} - Total_compressedbytes_recv %{?data} - Compression_ratio_send %{?data} - Compression_ratio_recv %{?data} - Access %{[[event][action]]} - Group(s) %{[[group][name]]}")
        else if (t == "TCPCONN_TIMEDOUT") // ref :238-244
          Dissect(ev, "rest_msg",
            "%{?starting_data}SessionId: %{[[trace][id]]} - User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Nat_ip %{[[source][nat][ip]]} - Vserver %{[[destination][ip]]}:%{[[destination][port]]} - Last_contact %{[[event][end]]} - Group(s) %{[[group][name]]}")
        else if (t == "UDPFLOWSTAT") // ref :245-251
          Dissect(ev, "rest_msg",
            "%{?starting_data}SessionId: %{[[trace][id]]} - User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Nat_ip %{[[source][nat][ip]]} - Vserver %{[[server][ip]]}:%{[[server][port]]} - Source %{[[source][ip]]}:%{[[source][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - Start_time %{[[event][start]]} - End_time %{[[event][end]]} - Duration %{?data} - Total_bytes_send %{[[source][bytes]]} - Total_bytes_recv %{[[destination][bytes]]} Access %{[[event][action]]} - Group(s) %{[[group][name]]}")
        else if (t.contains("HTTP_RESOURCEACCESS_DENIED")) // ref :252-258 (=~)
          Dissect(ev, "rest_msg", "%{?starting_data}Denied_by_policy %{[[rule][name]]}")
        else if (t == "ICAEND_CONNSTAT") // ref :259-265
          Dissect(ev, "rest_msg",
            " Source %{[[source][ip]]}:%{[[source][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - customername  - username:domainname %{[[source][user][name]]}:%{[[source][user][domain]]} - startTime %{[[event][start]]} - endTime %{[[event][end]]} - Duration %{?data}  - Total_bytes_send %{[[source][bytes]]} - Total_bytes_recv %{[[destination][bytes]]} - Total_compressedbytes_send %{?data} - Total_compressedbytes_recv %{?data} - Compression_ratio_send %{?data} - Compression_ratio_recv %{?data} - connectionId %{[[trace][id]]} - Total_bytes_wire_send %{?data} - Total_bytes_wire_recv %{?data}")
        else if (t == "ICASTART") // ref :266-272
          Dissect(ev, "rest_msg",
            " Source %{[[source][ip]]}:%{[[source][port]]} - Destination %{[[destination][ip]]}:%{[[destination][port]]} - customername  - username:domainname %{[[source][user][name]]}:%{[[source][user][domain]]} - applicationName %{[[process][name]]} startTime %{[[event][start]]} - connectionId %{[[trace][id]]}")
        else if (t == "LICLMT_REACHED") // ref :273-279 — `{?starting_data}`: always fails
          Dissect(ev, "rest_msg", "{?starting_data}Vserver %{[[server][ip]]}:%{[[server][port]]} - License_limit %{?data}")
        else if (t == "REMOVE_SESSION_DEBUG") // ref :280-286 — same
          Dissect(ev, "rest_msg", "{?starting_data}Sessionid %{[[trace][id]]} - User %{[[source][user][name]]} - Client_ip %{[[source][ip]]} - Nat_ip %{[[source][nat][ip]]} - Vserver %{[[server][ip]]}:%{[[server][port]]} - Errmsg %{[[error][message]]}")
        else if (t == "CLISEC_EXP_EVAL") // ref :287-293 — same
          Dissect(ev, "rest_msg", "{?starting_data}User %{[[source][user][name]]} :- Client_ip %{[[source][ip]]} - Vserver %{[[server][ip]]}:%{[[server][port]]} - %{?data}")
        else if (t == "CLISEC_CHECK") // ref :294-300 — same
          Dissect(ev, "rest_msg", "{?starting_data}Client_ip %{[[source][ip]]} - Vserver %{[[server][ip]]}:%{[[source][port]]} - %{?data}")
        else ev.rename("rest_msg", "[rule][description]") // ref :301-305
      case "AAATM" => // ref :307-379
        ev.set("[agent][parse_rule]", "RULE 7 (AAATM)")
        if (etype(ev) == "Message") ev.rename("rest_msg", "[rule][description]") // ref :311-315
        else {
          Kv.withPattern(ev, "rest_msg", " - ", ' ', target = "net") // ref :317-322
          ev.rename("[net][Vserver]", "Vserver") // ref :323-331
          ev.rename("[net][Source]", "Source")
          ev.rename("[net][Destination]", "Destination")
          ev.rename("[net][Nat_ip]", "Natip_value")
          ev.rename("[net][username:domainname]", "user_dom")
          if (ev.has("Vserver")) // ref :332-338
            Dissect(ev, "Vserver", "%{[[server][ip]]}:%{[[server][port]]}")
          if (ev.has("Source")) // ref :339-345
            Dissect(ev, "Source", "%{[[source][ip]]}:%{[[source][port]]}")
          if (ev.has("Destination")) // ref :346-352
            Dissect(ev, "Destination", "%{[[destination][ip]]}:%{[[destination][port]]}")
          if (ev.has("Natip_value")) // ref :353-359
            Grok(ev, "Natip_value", Seq(natipGrok), Seq("_parsefailure_ci"))
          if (ev.has("user_dom")) // ref :360-365 — malformed groups: always fails
            Grok(ev, "user_dom", Seq(userDomGrok))
          ev.rename("[net][User]", "[source][user][name]") // ref :366-377
          ev.rename("[net][Client_ip]", "[client][ip]")
          ev.rename("[net][Group(s)]", "[group][name]")
          ev.rename("[net][Browser_type]", "[user_agent][name]")
          ev.rename("[net][Start_time]", "[event][start]")
          ev.rename("[net][End_time]", "[event][end]")
          ev.rename("[net][Duration]", "[event][duration]")
          ev.rename("[net][Total_bytes_recv]", "[source][bytes]") // ref :374-375 swap
          ev.rename("[net][Total_bytes_send]", "[destination][bytes]")
          ev.rename("[net][LogoutMethod]", "[event][reason]")
        }
      case "ACL" => // ref :380-389 — the `%{[network][protocol]- Type %{...}` token
        ev.set("[agent][parse_rule]", "RULE 8 (ACL)")
        Dissect(ev, "rest_msg",
          " Source %{[[source][ip]]}:%{[[source][port]]} -> Destination %{[[destination][ip]]}:%{[[destination][port]]} Protocol %{[network][protocol]- Type %{[[service][type]]} - Code %{[[event][code]]} Timestamp %{[[event][duration]]} - Hit count %{[[event][sequence]]} - Hit Rule %{[[rule][name]]} - Action %{[[event][action]]} - Data")
      case "ALG" => // ref :390-421 — renames read top-level: no-ops
        ev.set("[agent][parse_rule]", "RULE 9 (ALG)")
        Kv(ev, "rest_msg", '-', ':', target = "net")
      case "SUBSCRIBER" => // ref :422-445
        ev.set("[agent][parse_rule]", "RULE 10 (SUBSCRIBER)")
        etype(ev) match {
          case "SESSION_EVENT" => Dissect(ev, "rest_msg", " Session %{[[trace][id]]}")
          case "SESSION_FAILURE" => // ref :433-439 — literal `\s?`: always fails
            Dissect(ev, "rest_msg", " FailureReason\\s?: %{[[error][message]]}")
          case _ => ev.rename("rest_msg", "[rule][description]")
        }
      case "URLFILT" => // ref :446-455
        ev.set("[agent][parse_rule]", "RULE 11 (URLFILT)")
        Dissect(ev, "rest_msg",
          " Source %{[[source][address]]} - Destination %{[[destination][address]]} URL %{[[url][full]]} - Category %{[[group][id]]} - Categorygroup %{[[group][name]]} - Reputation %{[[event][risk_score]]} - Policyaction %{[[event][action]]}")
      case "CI" => // ref :456-479
        ev.set("[agent][parse_rule]", "RULE 12 (CI)")
        etype(ev) match {
          case "ICAP_LOG" => Grok(ev, "rest_msg", Seq(icapGrok), Seq("_parsefailure_ci"))
          case "INLINE_INSPECTION_LOG" | "TRAFFIC_MIRROR_LOG" =>
            Grok(ev, "rest_msg", Seq(inlineGrok), Seq("_parsefailure_ci"))
          case _ => ev.rename("rest_msg", "[rule][description]")
        }
      case "TRANSFORM" => // ref :480-498 — renames read top-level: no-ops
        ev.set("[agent][parse_rule]", "RULE 13 (TRANSFORM)")
        Kv.withPattern(ev, "rest_msg", " - ", ' ', target = "net")
      case "RDP" => // ref :499-514
        ev.set("[agent][parse_rule]", "RULE 14 (RDP)")
        Kv(ev, "rest_msg", '-', ':', target = "net")
        ev.rename("[net][UserName]", "[source][user][name]")
      case "UI" | "CLI" | "GUI" | "API" | "CONSOLE" => // ref :515-535
        ev.mergeInto("[agent][parse_rule]", "RULE 15 (CMD_EXECUTE)") // stacked add_field
        ev.mergeInto("[agent][parse_rule]", "RULE 3")
        Kv.withPattern(ev, "rest_msg", " - ", ' ', target = "net")
        ev.rename("[net][User]", "[source][user][name]")
        ev.rename("[net][Command]", "[process][command_line]")
        ev.rename("[net][Remote_ip]", "[destination][ip]")
        ev.rename("[net][Status]", "[event][outcome]")
      case "BOT" => // ref :536-563
        ev.set("[agent][parse_rule]", "RULE 16 (BOT)")
        if (etype(ev) == "BOT_TPS") ev.rename("rest_msg", "[rule][description]")
        else {
          Dissect(ev, "rest_msg", "%{[[event][action]]}. %{rest_data}")
          Kv(ev, "rest_data", ' ', ':', target = "net") // renames top-level: no-ops
        }
      case "CVPN" => // ref :564-581
        ev.set("[agent][parse_rule]", "RULE 17 (CVPN)")
        Kv(ev, "rest_msg", ':', ' ', target = "net")
        ev.rename("[net][HTML_URL]", "[url][full]")
        ev.rename("[net][REWRITTEN_URL]", "[url][full]")
        ev.rename("[net][MATCHED_URL]", "[url][full]")
        ev.rename("[net][PCRE_ERROR]", "[error][code]")
        ev.rename("rest_msg", "[rule][description]")
      case "SSLLOG" => // ref :582-612
        ev.set("[agent][parse_rule]", "RULE 18 (SSLLOG)")
        val t = etype(ev)
        if (t == "SSL_OCSPURL_RESOLVE_SUCCESS" || t == "SSL_OCSPURL_RESOLVE_FAILURE")
          // ref :586-592 — broken nesting: compiled form requires a trailing `}`
          Dissect(ev, "rest_msg", "Domainname %{[[source][domain]] Ipaddress %{[[source][ip]]}}")
        else if (t.contains("SSL_HANDSHAKE") || t == "SSL_CERT_EXPIRY_IMMINENT" || t.contains("SSL_CRL_UPDATE")) {
          Kv(ev, "rest_msg", '-', ':', target = "net") // ref :593-605 — renames no-op
        } else ev.rename("rest_msg", "[rule][description]")
      case _ => // ref :614-621
        ev.set("[agent][parse_rule]", "RULE 18 (OTHERS)")
        ev.rename("rest_msg", "[rule][description]")
    }
    // ref :622-631 — common tail
    Mutate.strip(ev, "[source][port]")
    Mutate.strip(ev, "[source][nat][ip]")
    Mutate.gsub(ev, "[log][date_time]", "'", "")
    Mutate.convert(ev, "[destination][bytes]", "integer")
    Mutate.convert(ev, "[source][bytes]", "integer")
    Mutate.convert(ev, "[destination][port]", "integer")
    Mutate.convert(ev, "[source][port]", "integer")
    if (ev.has("[event][start]")) { // ref :632-640
      if (Dates(ev, "[event][start]", dateFormatsStart, "[event][start_ms]",
        timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_se")))
        ev.remove("[event][start]")
    }
    if (ev.has("[event][end]")) { // ref :641-648
      if (Dates(ev, "[event][end]", dateFormatsEnd, "[event][end_ms]",
        timezone = "GMT", locale = "en"))
        ev.remove("[event][end]")
    }
    if (ev.hasTag("_dateparsefailure_se")) ev.remove("[event][start]") // ref :649-653
    ev.getString("[source][ip]").foreach { ip => // ref :654-660
      if (ip.contains("a") || ip.contains("c") || ip.contains(" "))
        ev.remove("[source][ip]")
    }
    ev.getString("[source][nat][ip]").foreach { ip => // ref :661-668
      if (ip.contains("a") || ip.contains("c") || ip.contains(" "))
        ev.remove("[source][nat][ip]")
    }
    Seq("event_description", "Natip_value", "rest_data", "http_resource_accessed", // ref :669-671
      "rest_msg", "net", "[log][date_time]", "starting_data", "classification_values",
      "Vserver", "Source", "Destination", "Client_ip", "kv_msg", "[event][created]",
      "fix_duration", "non_http_resource_accessed", "total_tcp_connection",
      "total_upd_flows", "total_policies_allowed", "total_policies_denied",
      "[source][compressed_bytes]", "[destination][compressed_bytes]",
      "[source][compression_ratio]", "[destination][compression_ratio]",
      "logout_method", "sslvpn_client_type", "[dest][ip]", "actual_msg")
      .foreach(ev.remove) // (user_dom is NOT in the ref's list — it survives, unflattened)
    // ref :673-678 — host.hostname → host.name copy (netscaler never sets it)
    ev.getString("[host][hostname]").foreach { h =>
      if (h != "") ev.copyField("[host][hostname]", "[host][name]")
    }
  }
}
