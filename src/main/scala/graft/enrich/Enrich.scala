package graft.enrich

import graft.model.Event
import graft.parse.{Mutate, Net, SyslogPri}
import graft.rules.TechnologyConfig
import scala.collection.mutable

/** The shared, ORDERED enrichment chain — mirrors the lexical-order
  * concatenation of config/enrichments/ (00→97, SURVEY.md §3.1). Each step is
  * a pure function `(Event, Dicts, ctx) => Unit`, gated exactly like the
  * reference: a per-technology disable set (settings.json ignore_enrichments
  * → input-stamped tags, ref: build_scripts/README.md:177-199) and/or
  * `disable_<name>_enrichment` tags consumed-and-stripped as they are
  * checked (ref: every enrichment header, e.g. 91_geoip.conf:4-8).
  */
object Enrich {

  final case class Ctx(tsMillis: Long, tsYear: Int)

  /** One enrichment: (name, fn). Order is the contract. */
  type Step = (String, (Event, Dicts, Ctx) => Unit)

  /** Skip-gate shared by every step (ref: enrichment header idiom). The tag
    * string is built once at chain construction — not per event per step. */
  private def gated(name: String)(f: (Event, Dicts, Ctx) => Unit): (Event, Dicts, Ctx) => Unit = {
    val tag = s"disable_${name}_enrichment"
    (ev, d, ctx) =>
      if (ev.hasTag(tag) || ev.hasTag("disable_enrichments")) ev.removeTag(tag)
      else f(ev, d, ctx)
  }

  // Pre-parsed hot paths (each string-path call costs a concurrent-map get;
  // the chain runs per event, so the static paths are parsed once here)
  private val pMessage = Event.parsePath("message")
  private val pLogOriginal = Event.parsePath("[log][original]")
  private val pEventCreatedMs = Event.parsePath("[event][created_ms]")
  private val pEventHash = Event.parsePath("[event][hash]")
  private val pSourceIp = Event.parsePath("[source][ip]")
  private val pDestinationIp = Event.parsePath("[destination][ip]")

  // 01_log_original.conf:4-10 — copy message before anything mutates it
  private def e01LogOriginal(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    val m = ev.stringAtParts(pMessage)
    if (m != null) ev.setParts(pLogOriginal, m)
  }

  // 02_ecs_data_type.conf — late type coercion: the reference's full
  // enumerated long-field list (:22-84) coerce-or-remove (:110-120), float
  // fields (:89-96), ip strip (:124-126), invalid-ip migration (:130-287),
  // and the unparsed-date removal pass (:290-319)
  private val longFields = Vector(
    "[client][bytes]", "[client][packets]", "[client][port]",
    "[destination][bytes]", "[destination][packets]", "[destination][port]",
    "[event][duration]", "[event][severity]",
    "[file][x509][public_key_exponent]", "[network][bytes]",
    "[network][packets]", "[process][parent][pid]", "[process][pid]",
    "[server][bytes]", "[server][packets]", "[server][port]",
    "[source][bytes]", "[source][packets]", "[source][port]",
    "[client][as][number]", "[client][nat][port]",
    "[destination][as][number]", "[destination][nat][port]",
    "[dns][answers][ttl]", "[event][sequence]", "[file][size]",
    "[file][x509][public_key_size]", "[host][disk][read][bytes]",
    "[host][disk][write][bytes]", "[host][network][egress][bytes]",
    "[host][network][egress][packets]", "[host][network][ingress][bytes]",
    "[host][network][ingress][packets]", "[host][uptime]",
    "[http][request][body][bytes]", "[http][request][bytes]",
    "[http][response][body][bytes]", "[http][response][bytes]",
    "[http][response][status_code]", "[log][origin][file][line]",
    "[log][syslog][facility][code]", "[log][syslog][priority]",
    "[log][syslog][severity][code]",
    "[observer][ingress][interface][host_count]", "[package][size]",
    "[process][args_count]", "[process][exit_code]",
    "[process][parent][args_count]", "[process][parent][exit_code]",
    "[process][parent][pgid]", "[process][parent][ppid]",
    "[process][parent][thread][id]", "[process][parent][uptime]",
    "[process][pgid]", "[process][ppid]", "[process][thread][id]",
    "[process][uptime]", "[server][as][number]", "[server][nat][port]",
    "[source][as][number]", "[source][nat][port]",
    "[tls][client][x509][public_key_exponent]",
    "[tls][client][x509][public_key_size]",
    "[tls][server][x509][public_key_exponent]",
    "[tls][server][x509][public_key_size]", "[url][port]")
  private val floatFields = Vector( // ref :89-96
    "[event][risk_score]", "[event][risk_score_norm]", "[host][cpu][usage]",
    "[vulnerability][score][base]", "[vulnerability][score][environmental]",
    "[vulnerability][score][temporal]")
  private val ipStripFields = Vector( // ref :124-126
    "[client][ip]", "[client][nat][ip]", "[destination][ip]",
    "[destination][nat][ip]", "[dns][resolved_ip]", "[host][ip]",
    "[network][forwarded_ip]", "[observer][ip]", "[server][ip]",
    "[server][nat][ip]", "[source][ip]", "[source][nat][ip]")
  private val ipMigrations = Vector( // invalid ip → paired address (:130-287)
    ("[source][ip]", "[source][address]"),
    ("[destination][ip]", "[destination][address]"),
    ("[client][ip]", "[client][address]"),
    ("[server][ip]", "[server][address]"))
  private val dateFields = Vector( // unparsed (string) date → remove+tag (:290-319)
    ("[event][created]", "_dateparsefailure_ec"),
    ("[event][end]", "_dateparsefailure_ee"),
    ("[event][ingested]", "_dateparsefailure_ei"),
    ("[event][start]", "_dateparsefailure_es"),
    ("[file][accessed]", "_dateparsefailure_fa"),
    ("[file][created]", "_dateparsefailure_fc"),
    ("[file][mtime]", "_dateparsefailure_fm"),
    ("[package][installed]", "_dateparsefailure_pi"),
    ("[process][start]", "_dateparsefailure_ps"))
  // The ~98 per-path probes above used to run as 98 independent path
  // lookups per event per pass (×2 passes: 02 and its 96 re-run). Fused
  // into ONE trie-guided walk over the populated tree (round-5 verdict
  // item 1: the enrichment chain is the wide-path cost): each action path
  // carries a composite action; paths absent from the event cost nothing.
  // Semantics are per-path identical to the probe loop — actions on
  // distinct paths are independent, and the only path with two actions
  // ([source|destination|client|server][ip]: strip THEN migrate-if-invalid)
  // keeps the probe loop's strip→migrate order inside its composite.
  private final class CoerceNode {
    val children = new java.util.HashMap[String, CoerceNode]()
    var kind: Int = 0 // 0 none, 1 long, 2 float, 3 ip-strip, 4 ip-strip+migrate, 5 date
    var migrate: Seq[String] = null
    var tag: String = null
  }
  private val coerceTrie: CoerceNode = {
    val root = new CoerceNode
    def at(path: String): CoerceNode = {
      var n = root
      Event.parsePath(path).foreach { seg =>
        var c = n.children.get(seg)
        if (c == null) { c = new CoerceNode; n.children.put(seg, c) }
        n = c
      }
      n
    }
    longFields.foreach(f => at(f).kind = 1)
    floatFields.foreach(f => at(f).kind = 2)
    ipStripFields.foreach(f => at(f).kind = 3)
    ipMigrations.foreach { case (ipF, addrF) =>
      val n = at(ipF); n.kind = 4; n.migrate = Event.parsePath(addrF)
    }
    dateFields.foreach { case (f, tag) => val n = at(f); n.kind = 5; n.tag = tag }
    root
  }
  // pending (target, value) migrations — applied after the walk because a
  // migration inserts a sibling key into the very map being iterated
  private def coerceWalk(m: Event.FMap, node: CoerceNode, ev: Event,
                         pending: mutable.ArrayBuffer[(Seq[String], String)]): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val child = node.children.get(e.getKey)
      if (child != null) {
        e.getValue match {
          case mm: Event.FMap =>
            if (!child.children.isEmpty) coerceWalk(mm, child, ev, pending)
          case v =>
            child.kind match {
              case 1 => v match { // coerce-or-remove (:110-120)
                case s: String => s.trim.toLongOption match {
                  case Some(l) => e.setValue(l)
                  case None => it.remove()
                }
                case _ => ()
              }
              case 2 => v match {
                case s: String => s.trim.toDoubleOption match {
                  case Some(x) => e.setValue(x)
                  case None => it.remove()
                }
                case _ => ()
              }
              case 3 => v match { // Mutate.strip semantics: String-only trim
                case s: String => val t = s.trim; if (t ne s) e.setValue(t)
                case _ => ()
              }
              case 4 =>
                var cur = v
                cur match {
                  case s: String =>
                    val t = s.trim; if (t ne s) { e.setValue(t); cur = t }
                  case _ => ()
                }
                // migration probe reads stringOrNull (scalar-to-string view)
                val sv = cur match {
                  case s: String => s
                  case l: Long => l.toString
                  case dd: Double => Event.numToString(dd)
                  case b: Boolean => b.toString
                  case _ => null
                }
                if (sv != null && !Net.isValidIpv4(sv)) {
                  it.remove()
                  pending += ((child.migrate, sv))
                }
              case 5 => v match { // unparsed string date → remove+tag (:290-319)
                case _: String => it.remove(); ev.addTag(child.tag)
                case _ => ()
              }
              case _ => ()
            }
        }
      }
    }
  }
  private def e02Coerce(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    val pending = mutable.ArrayBuffer.empty[(Seq[String], String)]
    coerceWalk(ev.root, coerceTrie, ev, pending)
    pending.foreach { case (parts, v) => ev.setParts(parts, v) }
  }

  // 03 — [event][created] default: deterministic injected clock (input ts),
  // replacing the reference's Time.now (04_timestamp.conf:14-18 — documented
  // deviation, SURVEY.md §7.4 #4)
  private def e03EventCreated(ev: Event, d: Dicts, ctx: Ctx): Unit =
    ev.partsOrNull(pEventCreatedMs) match { // Logstash truthiness, as has()
      case null | false => ev.setParts(pEventCreatedMs, ctx.tsMillis)
      case _ => ()
    }

  // 04_syslog_pri_ecs.conf:11-30
  private def e04SyslogPriEcs(ev: Event, d: Dicts, ctx: Ctx): Unit =
    SyslogPri.toEcs(ev)

  // 06_url.conf — url split + tld (:82-85)
  private def e06Url(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    ev.getString("[url][original]").foreach { u =>
      val noScheme = u.indexOf("://") match {
        case -1 => u
        case i => u.substring(i + 3)
      }
      val slash = noScheme.indexOf('/')
      val hostPort = if (slash < 0) noScheme else noScheme.substring(0, slash)
      val pathQ = if (slash < 0) "" else noScheme.substring(slash)
      val host = hostPort.indexOf(':') match {
        case -1 => hostPort
        case i =>
          hostPort.substring(i + 1).toLongOption.foreach(p => ev.set("[url][port]", p))
          hostPort.substring(0, i)
      }
      ev.set("[url][domain]", host)
      val q = pathQ.indexOf('?')
      if (q >= 0) {
        ev.set("[url][path]", pathQ.substring(0, q))
        ev.set("[url][query]", pathQ.substring(q + 1))
      } else if (pathQ.nonEmpty) ev.set("[url][path]", pathQ)
      Net.splitDomain(host).foreach { case (tld, registered, _) =>
        ev.set("[url][top_level_domain]", tld)
        ev.set("[url][registered_domain]", registered)
      }
    }
  }

  // 07_lowercase.conf — the FULL enumerated 681-path lowercase list
  // (shipped as a resource extracted from the conf's mutate block; the
  // conf's comment-exclusions like [url][original]/[log][original] are
  // simply absent from it). Implemented as one path-aware walk with a set
  // probe per field — probing 681 paths per event would be backwards.
  private val lowercaseTrie: Event.PathTrie = {
    val t = new Event.PathTrie
    val in = getClass.getResourceAsStream("/dicts/lowercase_paths.txt")
    require(in != null, "missing dicts/lowercase_paths.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).foreach(t.add) finally src.close()
    t
  }
  // trie-guided descent: subtrees not in the list are skipped entirely,
  // in-list leaves lowercase in place — zero per-leaf allocation
  private def lcWalk(m: Event.FMap, node: Event.PathTrie): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val child = node.child(e.getKey)
      if (child != null) e.getValue match {
        case mm: Event.FMap => lcWalk(mm, child)
        case s: String if child.terminal =>
          val l = Mutate.lcFast(s)
          if (l ne s) e.setValue(l)
        case a: mutable.ArrayBuffer[Any @unchecked] if child.terminal =>
          var i = 0
          while (i < a.length) {
            a(i) match { case s: String => a(i) = Mutate.lcFast(s); case _ => () }
            i += 1
          }
        case _ => ()
      }
    }
  }
  private def e07Lowercase(ev: Event, d: Dicts, ctx: Ctx): Unit =
    lcWalk(ev.root, lowercaseTrie)

  // 08_add_hash.conf:11-16 — md5(message) → [event][hash]
  private def e08Hash(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    val m = ev.stringAtParts(pMessage)
    if (m != null) ev.setParts(pEventHash, graft.util.Md5.hex(m))
  }

  // 10_user_agent_enrichment.conf:8-25 — UA parse via grok (not the
  // useragent plugin), 'compatible' device fixup, failure-field cleanup
  private val uaCleanupFields = Vector(
    "[browser][name]", "[browser][version]", "[user_agent][device][name]",
    "[user_agent][os][family]", "[user_agent][os][platform]",
    "[user_agent][os][version]")
  private val uaMozillaGrok =
    "^(?<[browser][name]>.*?)\\/(?<[browser][version]>\\d[.]\\d)(\\s\\((?<[user_agent][device][name]>.*?)\\s(?<[user_agent][os][family]>.*?)\\)(.*(\\))?\\s.*\\s(?<[user_agent][os][platform]>.*?)\\/(?<[user_agent][os][version]>[[0-9]*.]+))?)?"
  private def e10UserAgent(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    val ua = ev.getString("[user_agent][original]").getOrElse("")
    if (ua.nonEmpty && ua.contains("Mozilla")) {
      if (graft.parse.Grok(ev, "[user_agent][original]", Seq(uaMozillaGrok),
        Seq("_grokparsefailure_user_agent_1"))) {
        val dev = ev.getString("[user_agent][device][name]").getOrElse("")
        if (dev.contains("compatible")) {
          val fam = ev.getString("[user_agent][os][family]").getOrElse("")
          if (fam.contains("Windows")) ev.set("[user_agent][device][name]", "Windows")
          else ev.remove("[user_agent][device][name]")
        }
      } else {
        // :37-41 — failure removes the partial captures
        uaCleanupFields.foreach(ev.remove)
      }
    }
  }

  // Shared related.* collector: gather present scalar values into the
  // target (mergeInto promotion semantics), then first-occurrence dedup in
  // place — same result as Mutate.dedupArray without the per-event set
  // allocation (these arrays are 0–4 elements).
  private def relatedStep(ev: Event, sources: Array[Seq[String]], target: Seq[String]): Unit = {
    var i = 0
    while (i < sources.length) {
      val v = ev.stringAtParts(sources(i))
      if (v != null) ev.mergeIntoParts(target, v)
      i += 1
    }
    ev.partsOrNull(target) match {
      case a: mutable.ArrayBuffer[Any @unchecked] if a.length > 1 =>
        var x = 1
        while (x < a.length) {
          var j = 0; var dup = false
          while (j < x && !dup) { if (a(j) == a(x)) dup = true else j += 1 }
          if (dup) a.remove(x) else x += 1
        }
      case _ => ()
    }
  }

  // 12_related_user.conf idiom — collect user identifiers, dedup
  private val userFields = Array("[user][name]", "[user][email]").map(Event.parsePath)
  private val pRelatedUser = Event.parsePath("[related][user]")
  private def e12RelatedUser(ev: Event, d: Dicts, ctx: Ctx): Unit =
    relatedStep(ev, userFields, pRelatedUser)

  // related.ip (14/16/19/20 family) — collect source/destination ips, dedup
  private val ipFields = Array(pSourceIp, pDestinationIp)
  private val pRelatedIp = Event.parsePath("[related][ip]")
  private def e14RelatedIp(ev: Event, d: Dicts, ctx: Ctx): Unit =
    relatedStep(ev, ipFields, pRelatedIp)

  // 14_related_hash.conf:10-63 — collect hash identifiers across the ECS
  // hash field families (the subset emitted by ported technologies), dedup
  private val hashSourceFields = Array(
    "[dll][hash][md5]", "[file][hash][md5]", "[file][hash][sha1]",
    "[file][hash][sha256]", "[file][hash][sha512]", "[hash][sha1]",
    "[process][hash][md5]", "[process][hash][sha1]", "[process][hash][sha256]",
    "[process][parent][hash][md5]", "[user][hash]", "[source][user][hash]",
    "[destination][user][hash]").map(Event.parsePath)
  private val pRelatedHash = Event.parsePath("[related][hash]")
  private def e14bRelatedHash(ev: Event, d: Dicts, ctx: Ctx): Unit =
    relatedStep(ev, hashSourceFields, pRelatedHash)

  // 15_standardize_mac.conf:13-18 — '-'→':' + lowercase
  private val macFields = Vector("[source][mac]", "[destination][mac]")
  private def e15Mac(ev: Event, d: Dicts, ctx: Ctx): Unit =
    macFields.foreach { f =>
      if (ev.has(f)) { Mutate.gsub(ev, f, "-", ":"); Mutate.lowercase(ev, f) }
    }

  // 16_related_mac.conf:9-22 — collect mac identifiers (post-standardize:
  // 16 runs after 15 in the lexical chain), dedup
  private val macSourceFields = Array(
    "[host][mac]", "[client][mac]", "[destination][mac]", "[observer][mac]",
    "[server][mac]", "[source][mac]", "[network][mac]").map(Event.parsePath)
  private val pRelatedMac = Event.parsePath("[related][mac]")
  private def e16RelatedMac(ev: Event, d: Dicts, ctx: Ctx): Unit =
    relatedStep(ev, macSourceFields, pRelatedMac)

  // 18_host_split.conf — split "name.domain" / "a.b.c.d.domain" composites:
  // ip-prefixed values keep the ip and move the rest to the paired domain
  // field; non-ip FQDNs split at the first dot; pure IPs are left alone.
  // [log][source][hostname]/[observer][hostname] get only the ip treatment
  // (ref :96-105 — no domain target for those two).
  private def isIpPrefixed(s: String): (Boolean, Int) = {
    // matches ^\d+\.\d+\.\d+\.\d+ — returns (matched, index after 4th octet)
    var i = 0; var octets = 0
    while (octets < 4) {
      val start = i
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      if (i == start) return (false, -1)
      octets += 1
      if (octets < 4) {
        if (i >= s.length || s.charAt(i) != '.') return (false, -1)
        i += 1
      }
    }
    (true, i)
  }
  private val hostSplitTargets: Array[(Seq[String], Seq[String])] = Array(
    ("[client][address]", "[client][domain]"),
    ("[server][address]", "[server][domain]"),
    ("[source][address]", "[source][domain]"),
    ("[host][hostname]", "[host][domain]"),
    ("[log][source][hostname]", null),
    ("[destination][address]", "[destination][domain]"),
    ("[observer][hostname]", null))
    .map { case (f, domF) =>
      (Event.parsePath(f), if (domF == null) null else Event.parsePath(domF))
    }
  private def e18HostSplit(ev: Event, d: Dicts, ctx: Ctx): Unit =
    hostSplitTargets.foreach { case (f, domF) =>
      val v = ev.stringAtParts(f)
      if (v != null && v.indexOf('.') >= 0) {
        val (ipPrefixed, after) = isIpPrefixed(v)
        if (ipPrefixed && after < v.length && v.charAt(after) == '.') {
          ev.setParts(f, v.substring(0, after)) // ip kept, rest is the domain
          if (domF != null) ev.setParts(domF, v.substring(after + 1))
        } else if (domF != null && !(ipPrefixed && after == v.length)) {
          val dot = v.indexOf('.') // FQDN: name before first dot, domain after
          ev.setParts(f, v.substring(0, dot))
          ev.setParts(domF, v.substring(dot + 1))
        }
      }
    }

  // 17_dns.conf — reverse lookup via broadcast PTR table (the cache-first
  // design — 500k-entry hit/failed caches, :47-52 — already makes live DNS
  // a lookup table in practice). All six ip families are resolved into
  // their paired address/hostname field exactly like the reference
  // (:37/:104/:171/:269/:336/:403): scalar = copy-resolve-remove-if-
  // unresolved; array = resolve the first TWO unique ips and prune entries
  // still equal to an ip (:40-46,65-77 ruby idioms). The resolved FQDN then
  // flows through 18_host_split downstream (name.domain split).
  private val dnsFamilies = Array(
    ("[client][ip]", "[client][address]"),
    ("[host][ip]", "[host][hostname]"),
    ("[server][ip]", "[server][address]"),
    ("[source][ip]", "[source][address]"),
    ("[destination][ip]", "[destination][address]"),
    ("[observer][ip]", "[observer][hostname]"))
    .map { case (a, b) => (Event.parsePath(a), Event.parsePath(b)) }
  private def e17Dns(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    dnsFamilies.foreach { case (ipF, tgtF) =>
      val present = ev.partsOrNull(tgtF) match { // has() truthiness
        case null | false => false
        case _ => true
      }
      if (!present) ev.partsOrNull(ipF) match {
        case ip: String =>
          // copy → resolve → remove-if-unchanged collapses to set-on-hit
          val h = d.ptr.get(ip)
          if (h != null) ev.setParts(tgtF, h)
        case a: mutable.ArrayBuffer[Any @unchecked] =>
          val uniq2 = a.iterator.collect { case s: String => s }
            .distinct.take(2).toVector
          val hits = uniq2.flatMap(ip => Option(d.ptr.get(ip))) // unresolved pruned (:65-77)
          if (hits.nonEmpty) ev.setParts(tgtF, mutable.ArrayBuffer[Any](hits: _*))
        case _ => ()
      }
    }
    // public/private tagging (ref :977-995)
    val sIp = ev.stringAtParts(pSourceIp)
    if (sIp != null)
      ev.addTag(if (Net.isPrivate(sIp)) "source_ip_private" else "source_ip_public")
    val dIp = ev.stringAtParts(pDestinationIp)
    if (dIp != null)
      ev.addTag(if (Net.isPrivate(dIp)) "destination_ip_private" else "destination_ip_public")
  }

  // related.hosts (the 18/19/20 family companion to related.ip/user):
  // collect host-name-ish identifiers, dedup
  private val hostFields = Array("[host][name]", "[destination][domain]",
    "[url][domain]").map(Event.parsePath)
  private val pRelatedHosts = Event.parsePath("[related][hosts]")
  private def e20RelatedHosts(ev: Event, d: Dicts, ctx: Ctx): Unit =
    relatedStep(ev, hostFields, pRelatedHosts)

  // 90_lookup_iana_protocol.conf — transport from iana number (:10-19);
  // protocol from port/transport or port-only dict (:21-47)
  private val pIanaNumber = Event.parsePath("[network][iana_number]")
  private val pNetTransport = Event.parsePath("[network][transport]")
  private val pNetProtocol = Event.parsePath("[network][protocol]")
  private val pDestinationPort = Event.parsePath("[destination][port]")
  private def truthyAt(ev: Event, parts: Seq[String]): Boolean =
    ev.partsOrNull(parts) match { // has() truthiness
      case null | false => false
      case _ => true
    }
  private def e90Iana(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    if (truthyAt(ev, pIanaNumber) && !truthyAt(ev, pNetTransport)) {
      val n = ev.stringAtParts(pIanaNumber)
      val t = if (n == null) null else d.ianaTransport.get(n)
      if (t != null) ev.setParts(pNetTransport, t)
    }
    if (!truthyAt(ev, pNetProtocol) && truthyAt(ev, pDestinationPort)) {
      val port = ev.stringAtParts(pDestinationPort) match {
        case null => ""
        case p => p
      }
      val proto = ev.stringAtParts(pNetTransport) match {
        case null => d.ianaProtocolsPort.get(port)
        case t => d.ianaProtocols.get(s"$port/$t")
      }
      if (proto != null) ev.setParts(pNetProtocol, proto)
    }
  }

  // 91_geoip.conf — cidr private tags (:10-15) + geo range lookup (:20-36);
  // private ips get the "private database" (country 'internal')
  private final case class GeoTarget(ip: Seq[String], privTag: String,
    pubTag: String, country: Seq[String], city: Seq[String])
  private val geoTargets = Array(
    GeoTarget(pDestinationIp, "dip_private", "dip_public",
      Event.parsePath("[destination][geo][country_iso_code]"),
      Event.parsePath("[destination][geo][city_name]")),
    GeoTarget(pSourceIp, "sip_private", "sip_public",
      Event.parsePath("[source][geo][country_iso_code]"),
      Event.parsePath("[source][geo][city_name]")))
  private def e91CidrGeo(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    geoTargets.foreach { t =>
      val ip = ev.stringAtParts(t.ip)
      if (ip != null) {
        if (Net.isPrivate(ip)) {
          ev.addTag(t.privTag)
          ev.setParts(t.country, "internal")
        } else {
          ev.addTag(t.pubTag)
          val ipl = Net.ipv4ToLong(ip)
          if (ipl >= 0) Dicts.geoLookup(d.geoRanges, ipl) match {
            case Some(g) =>
              ev.setParts(t.country, g.country)
              ev.setParts(t.city, g.city)
            case None => ev.addTag("_geoip_lookup_failure")
          }
        }
      }
    }
  }

  // 92_misp.conf — md5-keyed namespace lookups against the MISP store. ALL
  // 58 call sites of the reference are ported below IN CONF ORDER (order is
  // semantic: each hit's JSON payload replaces the previous [misp] subtree,
  // so the LAST hitting family wins — exactly like the reference's repeated
  // `json { source => memcache_value }`). Single probes key on
  // md5(field value); composite probes on md5(a)|md5(b) (:202). The
  // :218-247 file.name_file.hash.sha1 site is ported as in the reference,
  // including its dead condition on the never-set [file][name_hash][sha1].
  private sealed trait MispProbe { def ns: String }
  private final case class S(field: String, ns: String) extends MispProbe {
    var slot: Int = -1 // md5-slot id, assigned once below
  }
  private final case class P(a: String, b: String, ns: String) extends MispProbe {
    var aSlot: Int = -1
    var bSlot: Int = -1
  }
  private val mispProbes: Vector[MispProbe] = Vector(
    S("[process][hash][md5]", "process.hash.md5"), // :13
    S("[process][parent][hash][md5]", "process.parent.hash.md5"), // :38
    S("[file][hash][md5]", "file.hash.md5"), // :63
    S("[file][hash][sha1]", "file.hash.sha1"), // :88
    S("[file][hash][sha256]", "file.hash.sha256"), // :113
    S("[file][hash][sha512]", "file.hash.sha512"), // :138
    S("[file][name]", "file.name"), // :163
    P("[file][name]", "[file][hash][md5]", "file.name_file.hash.md5"), // :188
    P("[file][name]", "[file][name_hash][sha1]", "file.name_file.hash.sha1"), // :218 (dead in ref too)
    P("[file][name]", "[file][hash][sha256]", "file.name_file.hash.sha256"), // :248
    P("[file][name]", "[file][hash][sha512]", "file.name_file.hash.sha512"), // :278
    S("[source][ip]", "source.ip"), // :308
    S("[destination][ip]", "destination.ip"), // :333
    S("[destination][mac]", "related.mac"), // :358
    S("[host][hostname]", "related.hosts"), // :383
    S("[observer][hostname]", "related.hosts"), // :408
    S("[log][source][hostname]", "related.hosts"), // :433
    S("[host][mac]", "related.mac"), // :458
    S("[url][domain]", "url.domain"), // :483
    P("[url][domain]", "[destination][ip]", "url.domain_destination.ip"), // :508
    S("[url][full]", "url.full"), // :538
    S("[http][request][method]", "http.request.method"), // :563
    S("[user_agent][original]", "user_agent.original"), // :588
    S("[tls][server][hash][md5]", "tls.server.hash.md5"), // :613
    S("[registry][key]", "registry.key"), // :638
    P("[registry][key]", "[registry][value]", "registry.key_registry.value"), // :663
    S("[source][as][organization.name]", "source.as.organization.name"), // :693 (ref's dotted key)
    S("[file][mime_type]", "file.mime_type"), // :718
    S("[user][id]", "user.id"), // :743
    S("[http][cookie][name]", "http.cookie.name"), // :768
    S("[vulnerability][reference]", "vulnerability.reference"), // :793
    S("[file][path]", "file.path"), // :818
    S("[destination][user][name]", "related.user"), // :843
    S("[host][user][name]", "related.user"), // :868
    S("[source][user][name]", "related.user"), // :893
    S("[user][name]", "related.user"), // :918
    S("[database][user][name]", "related.user"), // :943
    S("[client][user][name]", "related.user"), // :968
    S("[server][user][name]", "related.user"), // :993
    S("[destination][user][email]", "user.email"), // :1018
    S("[client][user][email]", "user.email"), // :1043
    S("[host][user][email]", "user.email"), // :1068
    S("[server][user][email]", "user.email"), // :1093
    S("[source][address]", "related.hosts"), // :1118
    S("[destination][address]", "related.hosts"), // :1143
    S("[destination][as][organization][name]", "destination.as.organization.name"), // :1168
    S("[process][name]", "process.name"), // :1193
    S("[tls][server][hash][sha1]", "tls.server.hash.sha1"), // :1218
    S("[tls][server][hash][md5]", "tls.server.hash.md5"), // :1243 (ref duplicate)
    S("[tls][server][hash][sha256]", "tls.server.hash.sha256"), // :1268
    S("[destination][port]", "destination.port"), // :1293
    P("[destination][ip]", "[destination][port]", "destination.ip_destination.port"), // :1318
    P("[destination][address]", "[destination][port]", "destination.address_destination.port"), // :1348
    S("[client][mac]", "related.mac"), // :1378
    S("[observer][mac]", "related.mac"), // :1403
    S("[server][mac]", "related.mac"), // :1428
    S("[network][mac]", "related.mac"), // :1453
    S("[source][mac]", "related.mac"), // :1478
    S("[source][user][email]", "user.email"), // :1503
    S("[user][changes][email]", "user.email"), // :1528
    S("[user][effective][email]", "user.email"), // :1553
    S("[destination][user][email]", "user.email"), // :1578 (ref duplicate)
    S("[database][user][email]", "user.email"), // :1603
    S("[user][target][email]", "user.email"), // :1628
    S("[user][email]", "user.email"), // :1653
    S("[email][subject]", "email.subject"), // :1678
    S("[email][body]", "email.body"), // :1703
    S("[email][header]", "email.header")) // :1728
  private val MispAbsent: String = new String("\u0000absent") // identity sentinel
  // md5 SLOTS: several probes share a field ([file][name] ×5, the user.email
  // family, [destination][ip] ×4 …) — assign one slot per distinct path so
  // each populated field is read and hashed at most ONCE per event.
  private val mispSlotParts: Array[Seq[String]] = {
    val order = mutable.LinkedHashMap.empty[String, Int]
    def slotOf(f: String): Int = order.getOrElseUpdate(f, order.size)
    mispProbes.foreach {
      case s: S => s.slot = slotOf(s.field)
      case p: P => p.aSlot = slotOf(p.a); p.bSlot = slotOf(p.b)
    }
    order.keysIterator.map(Event.parsePath).toArray
  }
  // Probes whose namespace the store doesn't populate can never hit — filter
  // them out once per store instance (round-5 verdict item 1d: "skip MISP
  // probes whose namespace store is empty before hashing"). The store is one
  // broadcast value per executor, so a single-entry identity cache suffices.
  @volatile private var mispActiveCache: (AnyRef, Array[MispProbe]) = null
  private def mispActive(d: Dicts): Array[MispProbe] = {
    val c = mispActiveCache
    if (c != null && (c._1 eq d.misp)) return c._2
    val arr = mispProbes.filter(p => d.misp.get(p.ns).exists(_.size > 0)).toArray
    mispActiveCache = (d.misp, arr)
    arr
  }
  private def e92Misp(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    def hit(ns: String, key: String): Unit = {
      val payload = d.misp(ns).get(key) // active probes only: ns is populated
      if (payload != null) {
        ev.addTag("log_enriched_by_misp")
        ev.set("memcache_value", payload) // mirrors the memcached get target
        graft.parse.JsonOps.parse(ev, "memcache_value", "")
        ev.remove("memcache_value") // ref :34-36
      }
    }
    val probes = mispActive(d)
    if (probes.nonEmpty) {
      // lazily resolved per-slot md5 (null = field absent); sentinel keeps
      // the "computed" state without a second array
      val hashes = new Array[String](mispSlotParts.length)
      def slotHash(i: Int): String = {
        var h = hashes(i)
        if (h == null) {
          val v = ev.stringAtParts(mispSlotParts(i))
          h = if (v == null) MispAbsent else graft.util.Md5.hex(v)
          hashes(i) = h
        }
        h
      }
      var pi = 0
      while (pi < probes.length) {
        probes(pi) match {
          case s: S =>
            val h = slotHash(s.slot)
            if (h ne MispAbsent) hit(s.ns, h)
          case p: P =>
            val ha = slotHash(p.aSlot)
            if (ha ne MispAbsent) {
              val hb = slotHash(p.bSlot)
              if (hb ne MispAbsent) hit(p.ns, ha + "|" + hb)
            }
        }
        pi += 1
      }
    }
    // map the (last-winning) misp payload onto ECS threat.indicator.*
    if (ev.has("[misp]")) {
      ev.rename("[misp][ip]", "[threat][indicator][ip]")
      ev.rename("[misp][hash]", "[threat][indicator][hash]")
      ev.rename("[misp][domain]", "[threat][indicator][domain]")
      ev.rename("[misp][provider]", "[threat][indicator][provider]")
      ev.remove("misp")
    }
  }

  // cisco-mnemonic-style translate at reference dictionary scale
  // (ref: syslog_audit_cisco.switch.conf:90-107, 100k-entry dict note :87):
  // rule.category keys into the mnemonic dict → rule.ruleset
  private def e22Mnemonic(ev: Event, d: Dicts, ctx: Ctx): Unit =
    ev.getString("[rule][category]").foreach { c =>
      val v = d.mnemonics.get(s"MNEM-$c")
      if (v != null) ev.set("[rule][ruleset]", v)
    }

  // 93_mitre.conf:21-42 — translate against the REAL mitre_tactics.json
  // (values are kv-encoded payload strings), explicit fallback payload
  // (:31), kv parse of the payload into name/reference (:33-38), name
  // lowercased (:40); `iterate_on` semantics for array ids (:26)
  private val mitreFallback =
    "[threat][tactic][name]: new/deprecated mitre tactic; [threat][tactic][reference]:  none;"
  private def mitrePayloadField(payload: String, key: String): String = {
    // kv value_split ":" field_split "; " over the reference's payload shape
    val k = key + ":"
    val i = payload.indexOf(k)
    if (i < 0) return null
    val start = i + k.length
    val end = payload.indexOf(';', start) match { case -1 => payload.length; case j => j }
    payload.substring(start, end).trim
  }
  private def mitreOne(ev: Event, d: Dicts, raw: String, scalar: Boolean): Unit = {
    val id = raw.toLowerCase
    val payload = d.mitreTactics.getOrElse(id, mitreFallback)
    val name = mitrePayloadField(payload, "[threat][tactic][name]").toLowerCase
    val ref = mitrePayloadField(payload, "[threat][tactic][reference]")
    if (scalar) {
      ev.set("[threat][tactic][name]", name)
      if (ref != null) ev.set("[threat][tactic][reference]", ref)
    } else {
      ev.mergeInto("[threat][tactic][name]", name)
      if (ref != null) ev.mergeInto("[threat][tactic][reference]", ref)
    }
  }
  private def e93Mitre(ev: Event, d: Dicts, ctx: Ctx): Unit =
    ev.get("[threat][tactic][id]").foreach {
      case raw: String => mitreOne(ev, d, raw, scalar = true)
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        a.foreach { case raw: String => mitreOne(ev, d, raw, scalar = false); case _ => () }
      case _ => ()
    }

  // 94_remove_empty_n_truncate.conf — whole-event path-aware walk: drop
  // leaves whose stripped-lowercased value is in the invalid list ("", "-",
  // "null", "nil", "n/a", "''") or an unresolved sprintf literal %{...}
  // (:63,86-88); truncate >1023 chars unless the FULL path is in the
  // reference's exclusion list (:12-61, mostly *.text multi-fields plus
  // message/log.original/error.message/event.original/destination.user.email)
  private val truncateExclude: Event.PathTrie = {
    val s = new Event.PathTrie
    Seq("[message]", "[event][original]", "[error][message]", "[log][original]",
      "[destination][user][email]", "[organization][name][text]").foreach(s.add)
    // the *.text multi-field family (ref :14-60)
    Seq("[client][as][organization][name]", "[client][user][full_name]",
      "[client][user][name]", "[destination][as][organization][name]",
      "[destination][user][full_name]", "[destination][user][name]",
      "[error][stack_trace]", "[file][path]", "[file][target_path]",
      "[host][os][full]", "[host][os][name]", "[host][user][full_name]",
      "[host][user][name]", "[http][request][body][content]",
      "[http][response][body][content]", "[observer][os][full]",
      "[observer][os][name]", "[process][command_line]", "[process][executable]",
      "[process][name]", "[process][parent][command_line]",
      "[process][parent][executable]", "[process][parent][name]",
      "[process][parent][title]", "[process][parent][working_directory]",
      "[process][title]", "[process][working_directory]",
      "[server][as][organization][name]", "[server][user][full_name]",
      "[server][user][name]", "[source][as][organization][name]",
      "[source][user][full_name]", "[source][user][name]",
      "[threat][technique][name]", "[url][full]", "[url][original]",
      "[user][full_name]", "[user][name]", "[user_agent][original]",
      "[user_agent][os][full]", "[user_agent][os][name]",
      "[vulnerability][description]").foreach(p => s.add(p + "[text]"))
    s
  }
  private def invalidValue(s: String): Boolean = {
    val t = s.trim // no allocation when already trimmed
    if (t.isEmpty) return true
    if (t.length <= 4) { // all invalid literals are ≤4 chars (ref :63)
      val l = t.toLowerCase
      return l == "-" || l == "null" || l == "nil" || l == "n/a" || l == "''"
    }
    // unresolved sprintf literal ^%{[a-z\-_.]+}$ on the downcased value (ref :88)
    if (t.charAt(0) == '%' && t.startsWith("%{") && t.endsWith("}")) {
      var i = 2
      while (i < t.length - 1) {
        val c = t.charAt(i)
        if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '-' || c == '_' || c == '.'))
          return false
        i += 1
      }
      true
    } else false
  }
  // every leaf visited; the exclusion trie rides along (null = outside it)
  private def cleanWalk(m: Event.FMap, node: Event.PathTrie): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val child = if (node == null) null else node.child(e.getKey)
      val excluded = child != null && child.terminal
      e.getValue match {
        case mm: Event.FMap =>
          cleanWalk(mm, child)
          if (mm.isEmpty) it.remove()
        case a: mutable.ArrayBuffer[Any @unchecked] =>
          var i = 0
          while (i < a.length) {
            a(i) match {
              case s: String =>
                if (invalidValue(s)) a.remove(i)
                else {
                  if (s.length > 1023 && !excluded) a(i) = s.substring(0, 1023)
                  i += 1
                }
              case _ => i += 1
            }
          }
          if (a.isEmpty) it.remove()
        case s: String =>
          if (invalidValue(s)) it.remove()
          else if (s.length > 1023 && !excluded) e.setValue(s.substring(0, 1023))
        case _ => ()
      }
    }
  }
  private def e94RemoveEmptyTruncate(ev: Event, d: Dicts, ctx: Ctx): Unit =
    cleanWalk(ev.root, truncateExclude)

  // 95_remove_tags.conf:4-13 — strip control tags before output. With the
  // per-technology gate masks (below) the common case carries NO control
  // tags, so scan before allocating the removal vector.
  private def e95StripTags(ev: Event, d: Dicts, ctx: Ctx): Unit = {
    if (ev.tags.exists(t => t.startsWith("disable_") || t == "ignore_enrichments")) {
      val toDrop = ev.tags.filter(t => t.startsWith("disable_") || t == "ignore_enrichments").toVector
      toDrop.foreach(ev.removeTag)
    }
  }

  // 96 = re-run of 02 (the reference duplicates the coercion pass)
  private def e96Coerce(ev: Event, d: Dicts, ctx: Ctx): Unit = e02Coerce(ev, d, ctx)

  /** (name, raw fn, gateable?) in chain order. Gateable mirrors the
    * reference: the coercion passes, 94 and 95 have no disable header. */
  private val rawSteps: Vector[(String, (Event, Dicts, Ctx) => Unit, Boolean)] = Vector(
    ("log_original", e01LogOriginal _, true),
    ("ecs_data_type", e02Coerce _, false), // coercion is not optional
    ("event_created", e03EventCreated _, true),
    ("syslog_pri_ecs", e04SyslogPriEcs _, true),
    ("url", e06Url _, true),
    ("lowercase", e07Lowercase _, true),
    ("add_hash", e08Hash _, true),
    ("user_agent", e10UserAgent _, true),
    ("related_user", e12RelatedUser _, true),
    ("related_hash", e14bRelatedHash _, true),
    ("related_ip", e14RelatedIp _, true),
    ("standardize_mac", e15Mac _, true),
    ("related_mac", e16RelatedMac _, true),
    ("dns", e17Dns _, true),
    ("host_split", e18HostSplit _, true),
    ("related_hosts", e20RelatedHosts _, true),
    ("lookup_iana_protocol", e90Iana _, true),
    ("geoip", e91CidrGeo _, true),
    ("misp", e92Misp _, true),
    ("mitre", e93Mitre _, true),
    ("mnemonic", e22Mnemonic _, true),
    ("remove_empty_n_truncate", e94RemoveEmptyTruncate _, false),
    ("remove_tags", e95StripTags _, false),
    ("ecs_data_type_2", e96Coerce _, false))

  val chain: Vector[Step] =
    rawSteps.map { case (n, f, gateable) => (n, if (gateable) gated(n)(f) else f) }

  private val rawFns: Array[(Event, Dicts, Ctx) => Unit] = rawSteps.map(_._2).toArray
  private val noMask: Array[Boolean] = new Array[Boolean](rawSteps.length)
  // NOTE: this is the per-technology STEP-skip mask of the enrichment
  // chain — unrelated to RowKernel.maskFor, the COLUMN mask that picks
  // which output columns a kernel call emits (same name, different axis).
  private val maskCache =
    new java.util.concurrent.ConcurrentHashMap[Set[String], Array[Boolean]]()
  private def maskFor(disabled: Set[String]): Array[Boolean] = {
    if (disabled.isEmpty) return noMask
    val c = maskCache.get(disabled)
    if (c != null) return c
    val m = rawSteps.map { case (n, _, gateable) => gateable && disabled.contains(n) }.toArray
    maskCache.putIfAbsent(disabled, m)
    m
  }

  /** Run the chain. Technology opt-outs are SURVEY §4's "constant-folded per
    * technology" step mask (round-5 verdict item 1c) — same skip decisions as
    * the reference's input-stamped disable tags, without writing ~25 tag-set
    * entries per event. An event whose PARSE stage stamped a `disable_*` tag
    * of its own (none do today) falls back to the faithful tag-driven chain;
    * both paths end with zero control tags (95_remove_tags semantics). */
  def apply(ev: Event, cfg: TechnologyConfig, d: Dicts, ctx: Ctx): Unit = {
    var tagDriven = false
    val it = ev.tags.iterator
    while (!tagDriven && it.hasNext) {
      if (it.next().startsWith("disable_")) tagDriven = true
    }
    if (tagDriven) {
      cfg.disabledEnrichments.foreach(n => ev.addTag(s"disable_${n}_enrichment"))
      chain.foreach { case (_, f) => f(ev, d, ctx) }
    } else {
      val mask = maskFor(cfg.disabledEnrichments)
      var i = 0
      while (i < rawFns.length) {
        if (!mask(i)) rawFns(i)(ev, d, ctx)
        i += 1
      }
    }
  }
}
