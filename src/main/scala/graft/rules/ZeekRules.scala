package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** securityonion.zeek — semantic port of
  * config/processors/syslog_securityonion_securityonion.zeek.conf (602 LoC:
  * the ~170-entry flat rename block, per-kind conditional branches, the
  * boolean tag ladder, and nine UNIX date blocks).
  *
  * The beats envelope ([dataset]/[category]/[host][name] beside the inner
  * zeek JSON in [message]) is reconstructed by the kafka json input codec
  * (TechnologyConfig.jsonCodec), exactly like a10.proxy.
  *
  * Mirrored quirks:
  *  - dead flat-dotted rename targets kept verbatim: [file.size],
  *    [http.response.status_code], [tls.client][not_after], [event.outcome]
  *    — the values land on unaddressable paths (and the later UNIX date on
  *    [tls.client][not_after] can never fire).
  *  - [tmp][reply_code] is renamed TWICE; the first (dead flat) rename
  *    consumes it, so the later [event][code] rename is a no-op.
  *  - [tmp][client] is consumed by the big rename block before the
  *    `[event][kind] != "ssh" and [tmp][client]` grok probes it — dead.
  *  - the sip grok binds an EMPTY [network][transport] group (scrubbed).
  */
object ZeekRules {

  private val renames: Vector[(String, String)] = Vector(
    "ts" -> "[event][created]", "proto" -> "[network][protocol]",
    "id.orig_h" -> "[source][ip]", "id.orig_p" -> "[source][port]",
    "id.resp_h" -> "[destination][ip]", "id.resp_p" -> "[destination][port]",
    "orig_bytes" -> "[source][bytes]", "resp_bytes" -> "[destination][bytes]",
    "orig_pkts" -> "[source][packets]", "resp_pkts" -> "[destination][packets]",
    "duration" -> "[event][duration]", "community_id" -> "[rule][uuid]",
    "orig_mac_oui" -> "[network][name]",
    "times.modified" -> "[file][mtime]", "times.created" -> "[file][created]",
    "times.changed" -> "[file][ctime]", "times.accessed" -> "[file][accessed]",
    "protoqtype_name" -> "[dns][question][type]", "query" -> "[dns][question][name]",
    "answers" -> "[dns][answers]", "method" -> "[http][request][method]",
    "user_agent" -> "[user_agent][original]",
    "status_code" -> "[http][response][status_code]", "status_msg" -> "[event][action]",
    "resp_mime_type" -> "[http][request][mime_type]", "proxied" -> "[event][code]",
    "size" -> "[file][size]", "path" -> "[file][path]", "action" -> "[event][action]",
    "server_name" -> "[destination][address]", "ja3" -> "[tls][client][ja3]",
    "ja3s" -> "[tls][server][ja3s]", "validation_status" -> "[event][action]",
    "tunnel_type" -> "[service][type]", "endpoint" -> "[event][action]",
    "host" -> "[url][domain]", "uid" -> "[event][id]",
    "conn_state" -> "[service][state]",
    "orig_ip_bytes" -> "[host][network][egress][bytes]",
    "resp_ip_bytes" -> "[host][network][ingress][bytes]",
    "client_addr" -> "[source][ip]", "server_addr" -> "[destination][ip]",
    "host_name" -> "[host][hostname]", "domain" -> "[host][domain]",
    "assigned_addr" -> "[host][ip]", "user" -> "[user][name]",
    "command" -> "[process][command_line]", "file_size" -> "[file.size]",
    "reply_code" -> "[http.response.status_code]",
    "value" -> "[http][request][body][content]", "request_type" -> "[process][name]",
    "till" -> "[tls.client][not_after]", "cipher" -> "[tls][cipher]",
    "func" -> "[event][outcome]", "result" -> "[event][outcome]",
    "ttl" -> "[event][duration]", "security_protocol" -> "[event][outcome]",
    "request_from" -> "[source][address]", "request_to" -> "[destination][address]",
    "community" -> "[network][community_id]", "up_since" -> "[process][start]",
    "request_p" -> "[client][port]", "bound.host" -> "[server][address]",
    "bound_p" -> "[server][port]", "request.host" -> "[client][address]",
    "machine" -> "[file][pe][architecture]",
    "section_names" -> "[file][pe][original_file_name]",
    "compile_ts" -> "[file][created]", "os" -> "[host][os][full]",
    "subsystem" -> "[file][pe][product]", "fingerprint" -> "[file][hash][sha256]",
    "certificate.version" -> "[file][x509][version_number]",
    "certificate.serial" -> "[file][x509][serial_number]",
    "certificate.not_valid_before" -> "[file][x509][not_before]",
    "certificate.not_valid_after" -> "[file][x509][not_after]",
    "certificate.key_alg" -> "[file][x509][public_key_algorithm]",
    "certificate.key_length" -> "[file][x509][public_key_size]",
    "certificate.sig_alg" -> "[file][x509][signature_algorithm]",
    "certificate.curve" -> "[file][x509][public_key_curve]",
    "certificate.exponent" -> "[file][x509][public_key_exponent]",
    "san.dns" -> "[file][x509][alternative_names]",
    "certificate.subject" -> "[file][x509][subject][distinguished_name]",
    "certificate.issuer" -> "[file][x509][issuer][distinguished_name]",
    "fuid" -> "[file][uid]", "note" -> "[event][code]", "msg" -> "[error][message]",
    "sub" -> "[event][original]", "peer_descr" -> "[observer][name]",
    "actions" -> "[event][action]", "email_dest" -> "[destination][user][email]",
    "suppress" -> "[event][duration]", "analyzer" -> "[process][name]",
    "failure_reason" -> "[error][message]", "peer" -> "[observer][name]",
    "source" -> "[service][name]", "share_type" -> "[file][device]",
    "reply_msg" -> "[event][outcome]", "fc_request" -> "[dns][op_code]",
    "fc_reply" -> "[dns][response_code]", "lease_time" -> "[process][uptime]",
    "msg_types" -> "[event.outcome]", "trans_id" -> "[transaction][id]",
    "rtt" -> "[event][duration]", "qclass_name" -> "[dns][question][class]",
    "qtype_name" -> "[dns][question][type]", "rcode_name" -> "[dns][response_code]",
    "filename" -> "[file][name]", "total_bytes" -> "[source][bytes]]",
    "seen_bytes" -> "[destination][bytes]", "md5" -> "[file][hash][md5]",
    "sha1" -> "[file][hash][sha1]", "mime_type" -> "[file][mime_type]",
    "extracted_size" -> "[file][size]",
    "data_channel.orig_h" -> "[source][nat][ip]",
    "data_channel.resp_h" -> "[destination][nat][ip]",
    "data_channel.resp_p" -> "[destination][nat][port]",
    "referrer" -> "[http][request][referrer]",
    "file_desc" -> "[file][pe][description]", "file_mime_type" -> "[file][mime_type]",
    "seen.node" -> "[service][node][name]", "sources" -> "[event][provider]",
    "seen.where" -> "[event][reference]", "seen.indicator" -> "[rule][name]",
    "seen.indicator_type" -> "[rule][reference]",
    "dcc_file_name" -> "[file][name]", "dcc_file_size" -> "[file][size]",
    "dcc_mime_type" -> "[file][mime_type]", "nick" -> "[user][effective][name]",
    "addl" -> "[rule][description]", "error_msg" -> "[error][message]",
    "from" -> "[source][user][email]",
    "server_cert_subject" -> "[tls][server][certificate]",
    "exception" -> "[error][message]", "cmd" -> "[database][instance]",
    "mime" -> "[file][mime_type]", "desc" -> "[file][pe][description]",
    "src" -> "[source][nat][ip]", "dst" -> "[destination][nat][ip]",
    "client_name" -> "[client][user][name]",
    "authentication_method" -> "[event][type]", "event_msg" -> "[event][reason]",
    "sig_id" -> "[rule][id]", "sub_msg" -> "[rule][description]",
    "helo" -> "[client][user][domain]", "useragent" -> "[user_agent][original]",
    "fuids" -> "[file][uid]", "analyzers" -> "[process][name]",
    "subject" -> "[email][subject]", "mailfrom" -> "[source][user][email]",
    "direction" -> "[network][direction]", "hostname" -> "[host][hostname]",
    "domainname" -> "[host][domain]",
    "server_dns_computer_name" -> "[server][address]",
    "server_tree_name" -> "[server][domain]",
    "server_nb_computer_name" -> "[observer][name]",
    "status" -> "[event][action]", "history" -> "[service][id]",
    "request_body_len" -> "[http][request][body][bytes]",
    "response_body_len" -> "[http][response][body][bytes]",
    "matched" -> "[threat][list][type]", "suppress_for" -> "[event][duration]",
    "software_type" -> "[package][type]", "missed_bytes" -> "[network][bytes]",
    "named_pipe" -> "[group][name]", "operation" -> "[service][name]",
    "reply_code" -> "[event][code]", // no-op: the earlier rename consumed it
    "rows" -> "[event][sequence]", "id" -> "[event][id]",
    "cert_count" -> "[process][args_count]", "desktop_name" -> "[service][id]",
    "last_reply" -> "[event][action]", "trans_depth" -> "[event][risk_score]",
    "kex_alg" -> "[tls][server][x509][signature_algorithm]",
    "client" -> "[tls][client][x509][version_number]",
    "server" -> "[tls][server][x509][version_number]",
    "auth_attempts" -> "[event][sequence]",
    "host_key_alg" -> "[tls][server][x509][public_key_algorithm]")

  private val tagProbes = Vector(
    "sni_matches_cert" -> "sni_matches_cert", "local_orig" -> "local_orig",
    "local_resp" -> "local_resp", "forwardable" -> "forwardable",
    "renewable" -> "renewable", "is_webmail" -> "is_webmail",
    "is_64it" -> "is_64it", "is_exe" -> "is_exe", "uses_aslr" -> "uses_aslr",
    "uses_dep" -> "uses_dep", "uses_code_integrity" -> "uses_code_integrity",
    "uses_seh" -> "uses_seh", "has_import_table" -> "has_import_table",
    "has_export_table" -> "has_export_table", "has_cert_table" -> "has_cert_table",
    "has_debug_data" -> "has_debug_data", "host_cert" -> "host_cert",
    "client_cert" -> "client_cert", "notice" -> "notice",
    "auth_success" -> "auth_success", "auth" -> "auth_success",
    "share_flag" -> "share_flag", "tls" -> "tls", "dropped" -> "dropped")

  private def dnKv(ev: Event, src: String, target: String): Unit =
    ev.getString(src).foreach { _ =>
      Kv(ev, src, ',', '=', target = target, transformKeyLowercase = true)
    }

  def zeek(ev: Event, ctx: ParseCtx): ParseOutcome = {
    if (ev.stringOrNull("dataset") == "syslog") return Dropped // ref :9-11
    Pending(Seq(ev), zeekBody)
  }

  private def zeekBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "securityonion")
    ev.set("[event][dataset]", "securityonion.zeek")
    if (!JsonOps.parse(ev, "message", "tmp")) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    if (ev.has("[host][name]")) ev.copyField("[host][name]", "[log][source][hostname]")
    ev.rename("[category]", "[event][category]")
    ev.rename("[dataset]", "[event][kind]")
    renames.foreach { case (k, tgt) => ev.rename("[tmp][" + k + "]", tgt) }
    Mutate.lowercase(ev, "[event][kind]")
    val kind = ev.getString("[event][kind]").getOrElse("")
    if (kind == "smtp") { // ref :206-229 recipient ruby
      val rcpt = mutable.ArrayBuffer.empty[Any]
      Seq("[tmp][rcptto]", "[tmp][cc]").foreach { f =>
        ev.get(f) match {
          case Some(a: mutable.ArrayBuffer[Any @unchecked]) =>
            a.foreach { case v if v != "" => rcpt += v; case _ => () }
          case _ => ()
        }
      }
      if (rcpt.nonEmpty) ev.set("[destination][user][email]", rcpt)
    }
    if (kind == "x509") { // ref :231-310
      dnKv(ev, "[file][x509][subject][distinguished_name]", "[tmp][subject_split]")
      dnKv(ev, "[file][x509][issuer][distinguished_name]", "[tmp][issuer_split]")
      Seq(
        ("[tmp][subject_split][countryname]", "[file][x509][subject][country]"),
        ("[tmp][subject_split][c]", "[file][x509][subject][country]"),
        ("[tmp][subject_split][organizationname]", "[file][x509.subject][organization]"),
        ("[tmp][subject_split][o]", "[file][x509][subject][organization]"),
        ("[tmp][subject_split][organizationalunitname]", "[file][x509][subject][organizational_unit]"),
        ("[tmp][subject_split][ou]", "[file][x509][subject][organizational_unit]"),
        ("[tmp][subject_split][commonname]", "[file][x509][subject][common_name]"),
        ("[tmp][subject_split][cn]", "[file][x509][subject][common_name]"),
        ("[tmp][subject_split][stateorprovincename]", "[file][x509][subject][state_or_province]"),
        ("[tmp][subject_split][st]", "[file][x509][subject][state_or_province]"),
        ("[tmp][subject_split][locality]", "[file][x509][subject][locality]"),
        ("[tmp][subject_split][l]", "[file][x509][subject][locality]"),
        ("[tmp][subject_split][role]", "[user][roles]"),
        ("[tmp][subject_split][title]", "[user][title]"),
        ("[tmp][issuer_split][countryname]", "[file][x509][issuer][country]"),
        ("[tmp][issuer_split][c]", "[file][x509][issuer][country]"),
        ("[tmp][issuer_split][organizationname]", "[file][x509.subject][organization]"),
        ("[tmp][issuer_split][o]", "[file][x509][issuer][organization]"),
        ("[tmp][issuer_split][organizationalunitname]", "[file][x509][issuer][organizational_unit]"),
        ("[tmp][issuer_split][ou]", "[file][x509][issuer][organizational_unit]"),
        ("[tmp][issuer_split][commonname]", "[file][x509][issuer][common_name]"),
        ("[tmp][issuer_split][cn]", "[file][x509][issuer][common_name]"),
        ("[tmp][issuer_split][stateorprovincename]", "[file][x509][issuer][state_or_province]"),
        ("[tmp][issuer_split][st]", "[file][x509][issuer][state_or_province]"),
        ("[tmp][issuer_split][locality]", "[file][x509][issuer][locality]"),
        ("[tmp][issuer_split][l]", "[file][x509][issuer][locality]"),
        ("[tmp][issuer_split][role]", "[source][user][roles]"),
        ("[tmp][issuer_split][title]", "[source][user][title]")
      ).foreach { case (f, t) => ev.rename(f, t) }
      if (ev.has("[tmp][subject_split][givenname]"))
        Mutate.addField(ev, "[user][full_name]",
          "%{[tmp][subject_split][givenname]} %{[tmp][subject_split][surname]}")
      else if (ev.has("[tmp][subject_split][gn]"))
        Mutate.addField(ev, "[user][full_name]",
          "%{[tmp][subject_split][gn]} %{[tmp][subject_split][sn]}")
      if (ev.has("[tmp][issuer_split][givenname]"))
        Mutate.addField(ev, "[source][user][full_name]",
          "%{[tmp][issuer_split][givenname]} %{[tmp][issuer_split][surname]}")
      else if (ev.has("[tmp][issuer_split][gn]"))
        Mutate.addField(ev, "[source][user][full_name]",
          "%{[tmp][issuer_split][gn]} %{[tmp][issuer_split][sn]}")
    }
    if (kind == "sip") { // ref :312-317 — empty transport group, scrubbed later
      Grok(ev, "[tmp][uri]", Seq(
        "^(?<[url][query]>sip:(?<source_address>.*?)@(?<[client][ip]>.*?)(?<[client][port]>.*?)?;transport=(?<[network][transport]>).*?)$"),
        Seq("_grokparsefailure"))
    } else ev.rename("[tmp][uri]", "[url][query]")
    if (kind == "rdp")
      Grok(ev, "[tmp][cookie]",
        Seq("^(?<[user][domain]>.*?)\\\\+(?<[user][name]>.*?)$"), Seq("_grokparsefailure"))
    if (kind == "mysql") ev.rename("[tmp][arg]", "[process][command_line]")
    else ev.rename("[tmp][arg]", "[url][full]")
    if (kind == "radius" || kind == "ntlm") ev.rename("[tmp][username]", "[user][name]")
    else if (ev.has("[tmp][username]"))
      Grok(ev, "[tmp][username]",
        Seq("^((?<[user][domain]>.*?)\\\\+)?(?<[user][name]>.*?)$"), Seq("_grokparsefailure"))
    // dead: [tmp][client] was consumed by the big rename block (ref :197)
    if (kind != "ssh" && ev.has("[tmp][client]"))
      Grok(ev, "[tmp][client]",
        Seq("^(?<[user][name]>.*?)/(?<[user][domain]>.*?)$"), Seq("_grokparsefailure"))
    if (kind == "kerberos")
      Grok(ev, "[tmp][service]",
        Seq("^(?<[service][name]>.*?)/(?<[destination][domain]>.*?)$"), Seq("_grokparsefailure"))
    else ev.rename("[tmp][service]", "[service][name]")
    if (kind == "dhcp") ev.rename("[tmp][mac]", "[host][mac]")
    else ev.rename("[tmp][mac]", "[source][mac]")
    if (kind == "tls") ev.rename("[tmp][version]", "[tls][version]")
    else ev.rename("[tmp][version]", "[service][version]")
    if (ev.has("[tmp][success]")) ev.addTag("success")
    if (kind == "smb_file") {
      Grok(ev, "[tmp][name]",
        Seq("^(?<[url][full]>.*\\\\(?<[file][name]>.*?))$"), Seq("_grokparsefailure"))
    } else ev.rename("[tmp][name]", "[rule][name]")
    tagProbes.foreach { case (f, tag) => if (ev.has("[tmp]" + s"[$f]")) ev.addTag(tag) }
    if (kind == "smtp") ev.remove("[file][path]")
    if (kind == "dns") {
      Seq("AA" -> "authoritative", "TC" -> "truncated", "RD" -> "recursion desired",
        "RA" -> "recursion available", "rejected" -> "rejected").foreach {
        case (f, tag) => if (ev.has(s"[tmp][$f]")) ev.addTag(tag)
      }
    }
    ev.remove("tmp")
    Seq(("[process][start]", "[process][start_ms]", "_dateparsefailure_ps"),
      ("[tls.client][not_after]", "[tls.client][not_after_ms]", "_dateparsefailure_tcnf"),
      ("[file][mtime]", "[file][mtime_ms]", "_dateparsefailure_fmt"),
      ("[file][created]", "[file][created_ms]", "_dateparsefailure_fc"),
      ("[file][ctime]", "[file][ctime_ms]", "_dateparsefailure_fct"),
      ("[file][accessed]", "[file][accessed_ms]", "_dateparsefailure_fa"),
      ("[event][created]", "[event][created_ms]", "_dateparsefailure_es"),
      ("[file][x509][not_before]", "[file][x509][not_before_ms]", "_dateparsefailure_es"),
      ("[file][x509][not_after]", "[file][x509][not_after_ms]", "_dateparsefailure_es"))
      .foreach { case (f, tgt, tag) =>
        if (ev.has(f) && Dates(ev, f, Seq("UNIX"), tgt,
          timezone = "GMT", locale = "en", tagOnFailure = Seq(tag))) ev.remove(f)
      }
  }
}
