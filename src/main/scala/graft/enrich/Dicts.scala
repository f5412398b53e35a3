package graft.enrich

/** Broadcast lookup tables — the Spark-native replacement for the reference's
  * `translate` dictionaries, geoip mmdb, dns caches and memcached IOC store
  * (SURVEY.md §2.4: every reference correlation is a broadcast-style
  * dictionary lookup — the exact semantic of a Spark broadcast hash join).
  *
  * Dictionary CONTENT comes from the reference's own public Apache-2.0 data
  * files (config/iana_*.yml, config/mitre_tactics.json,
  * config/cisco_ios_facility_categories.csv), shipped under
  * src/main/resources/dicts and parsed at driver start. The geo/ptr/misp
  * stores are deterministic synthetic stand-ins for external services
  * (GeoLite2 mmdb, live DNS, memcached MISP feed) so `sbt -batch test`
  * replays are exact (SURVEY.md §7.4 #4).
  *
  * Built once on the driver, shipped to executors via `sc.broadcast`.
  *
  * Every String→String table is a [[FlatDict]]: a byte arena plus an int
  * index, and only the arena goes over the wire.
  */
final case class Dicts(
  ianaTransport: FlatDict, // protocol number → transport keyword (139 entries)
  mnemonics: FlatDict, // 100k-entry translate dict (reference-documented scale)
  ianaProtocols: FlatDict, // "port/transport" → protocol keyword (11.8k entries)
  ianaProtocolsPort: FlatDict, // "port" → protocol keyword (6.1k entries)
  mitreTactics: FlatDict, // "ta0001" → kv-encoded payload string (ref format)
  facilityCategories: FlatDict, // cisco facility → vendor category (1.3k entries)
  ciscoMnemonicInfo: FlatDict, // mnemonic → JSON payload (ref file absent; synthetic)
  geoRanges: Array[GeoRange], // sorted by start, binary-searched
  ptr: FlatDict, // ip → reverse-dns hostname
  iocIps: Set[String], // destination.ip IOC set (kept for the q19 contract)
  misp: Map[String, FlatDict] // namespace → md5(value) → JSON payload
)

final case class GeoRange(start: Long, end: Long, country: String, city: String)

object Dicts {
  import graft.parse.Net.ipv4ToLong

  private def resourceLines(name: String): Vector[String] = {
    val in = getClass.getResourceAsStream(s"/dicts/$name")
    require(in != null, s"missing resource dicts/$name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.stripPrefix("﻿")).toVector finally src.close()
  }

  /** Flat `key: value` YAML (the only shape the reference dict files use).
    * IANA lists several service names for some ports (e.g. 80/tcp → http,
    * www, www-http); we keep the FIRST (primary IANA name) — semicolon-joined
    * alternates in the port file are reduced the same way. */
  private def loadYamlMap(name: String): FlatDict = {
    val b = Vector.newBuilder[(String, String)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    resourceLines(name).foreach { line =>
      val t = line.trim
      if (t.nonEmpty && !t.startsWith("#")) {
        val i = t.indexOf(':')
        if (i > 0) {
          val k = t.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"")
          val v = t.substring(i + 1).trim.stripPrefix("\"").stripSuffix("\"")
          val primary = v.indexOf(';') match { case -1 => v; case j => v.substring(0, j) }
          if (seen.add(k)) b += (k -> primary)
        }
      }
    }
    FlatDict(b.result())
  }

  /** Flat string→string JSON dictionary (mitre_*.json shape). */
  private def loadJsonMap(name: String): FlatDict = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(resourceLines(name).mkString("\n"))
    val b = Vector.newBuilder[(String, String)]
    node.properties().forEach(e => b += (e.getKey -> e.getValue.asText()))
    FlatDict(b.result())
  }

  /** cisco_ios_facility_categories.csv: facility,"vendor category","url". */
  private def loadFacilityCsv(): FlatDict = {
    val b = Vector.newBuilder[(String, String)]
    resourceLines("cisco_ios_facility_categories.csv").drop(1).foreach { line =>
      val c1 = line.indexOf(',')
      if (c1 > 0) {
        val facility = line.substring(0, c1)
        val rest = line.substring(c1 + 1)
        val cat =
          if (rest.startsWith("\"")) rest.substring(1, rest.indexOf('"', 1).max(1))
          else rest.substring(0, math.max(rest.indexOf(','), rest.length))
        b += (facility -> cat)
      }
    }
    FlatDict(b.result())
  }

  lazy val IanaTransport: FlatDict = loadYamlMap("iana_transport.yml")
  lazy val IanaProtocols: FlatDict = loadYamlMap("iana_protocols.yml")
  lazy val IanaProtocolsPort: FlatDict = loadYamlMap("iana_protocols_port.yml")

  /** MITRE tactic id → raw payload string, exactly as the reference file
    * encodes it ("[threat][tactic][name]: X; [threat][tactic][reference]:
    * URL;" — parsed by the kv step of 93_mitre.conf). */
  lazy val MitreTactics: FlatDict = loadJsonMap("mitre_tactics.json")

  /** Synthetic deterministic geo "database": 8.0.0.0/8 sliced by second octet
    * into country bands (stands in for GeoLite2-City.mmdb,
    * ref: config/enrichments/91_geoip.conf:20-36). The *mechanism* is the
    * production one — sorted range table + binary search per row. */
  def buildGeoRanges(): Array[GeoRange] = {
    val bands = Array((0, 49, "US"), (50, 99, "DE"), (100, 149, "JP"),
      (150, 199, "BR"), (200, 255, "GB"))
    val out = Array.newBuilder[GeoRange]
    bands.foreach { case (lo, hi, c) =>
      var o = lo
      while (o <= hi) {
        val start = ipv4ToLong(s"8.$o.0.0")
        out += GeoRange(start, start + 65535L, c, s"city${o % 5}")
        o += 1
      }
    }
    out.result().sortBy(_.start)
  }

  /** Deterministic PTR table over the synthesized destination-IP space
    * (50,800 entries — same order of magnitude as the reference's DNS
    * hit-cache sizing, ref: config/enrichments/17_dns.conf:47-52).
    * hostname = 'ptr-a-b-c-d.internal'. */
  def buildPtr(): FlatDict =
    FlatDict(for (prefix <- Seq("192.168", "172.16"); o3 <- 0 until 100; o4 <- 1 to 254) yield {
      val ip = s"$prefix.$o3.$o4"
      ip -> s"ptr-${ip.replace('.', '-')}.internal"
    })

  /** Deterministic IOC set (destination.ip namespace): destination IPs whose
    * last octet is 13 are "known bad" (stands in for the memcached MISP
    * store, ref: config/enrichments/92_misp.conf:341). */
  def buildIoc(): Set[String] = {
    val b = Set.newBuilder[String]
    for (prefix <- Seq("192.168", "172.16"); o3 <- 0 until 100)
      b += s"$prefix.$o3.13"
    b.result()
  }

  /** MISP memcached stand-in, md5-keyed per namespace exactly like the
    * reference (fingerprint MD5 of the field value is the get key,
    * ref: 92_misp.conf:14-23). Payloads are JSON strings merged into the
    * event on hit (ref :30-33). Namespaces ported (in the conf's order):
    * file.hash.md5 (:71), source.ip (:316), destination.ip (:341),
    * url.domain (:491). */
  def buildMisp(): Map[String, FlatDict] = {
    import graft.util.Md5
    def payload(kind: String, v: String, ns: String) =
      s"""{"misp":{"$kind":"$v","provider":"misp-$ns"}}"""
    val dst = buildIoc().toSeq.map(ip => Md5.hex(ip) -> payload("ip", ip, "destination.ip"))
    // source ips: synthesized space is (8|10).(0..199).(0..249).(1+k); last
    // octet 13 is "known bad" — 100k entries, a realistically sized feed
    val src = for (p <- Seq("8", "10"); a <- 0 until 200; b <- 0 until 250) yield {
      val ip = s"$p.$a.$b.13"
      Md5.hex(ip) -> payload("ip", ip, "source.ip")
    }
    // url domains: app7 is "known bad"
    val dom = Seq("www.app7.co.uk")
      .map(d => Md5.hex(d) -> payload("domain", d, "url.domain"))
    // file hashes: md5-of-(k mod 1000) pool, bad when k % 10 == 4
    val fh = (0 until 1000).filter(_ % 10 == 4).map { k =>
      val h = Md5.hex(k.toString)
      Md5.hex(h) -> payload("hash", h, "file.hash.md5")
    }
    // related.mac: cef-standardized macs whose 5th octet is 42
    val mac = (0 until 100).map { u =>
      val m = f"aa:bb:cc:dd:42:$u%02d"
      Md5.hex(m) -> payload("mac", m, "related.mac")
    }
    // related.hosts: 12-digit shipper account ids ≡17 (mod 50) + one
    // known-bad computer name
    val hosts = (17 until 100000 by 50).map { k =>
      val h = f"$k%012d"
      Md5.hex(h) -> payload("host", h, "related.hosts")
    } :+ (Md5.hex("host7") -> payload("host", "host7", "related.hosts"))
    // file.name / user_agent.original / user.email / related.user seeds
    val fn = Seq("data/obj7.parquet", "doc7.bin", "doc107.bin")
      .map(v => Md5.hex(v) -> payload("name", v, "file.name"))
    val ua = Seq(Md5.hex("curl/8.5") -> payload("ua", "curl/8.5", "user_agent.original"))
    val uem = Seq(Md5.hex("u13@example.com") ->
      payload("email", "u13@example.com", "user.email"))
    val rusr = Seq(Md5.hex("u13") -> payload("user", "u13", "related.user"))
    Map(
      "file.hash.md5" -> fh,
      "source.ip" -> src,
      "destination.ip" -> dst,
      "url.domain" -> dom,
      "related.mac" -> mac,
      "related.hosts" -> hosts,
      "file.name" -> fn,
      "user_agent.original" -> ua,
      "user.email" -> uem,
      "related.user" -> rusr).map { case (ns, pairs) => ns -> FlatDict(pairs) }
  }

  /** Synthetic 100,000-entry mnemonic dictionary — the scale the reference
    * documents for `translate` ("tested with up to 100,000 key/values",
    * ref: config/processors/syslog_audit_cisco.switch.conf:87). Exercises a
    * realistically sized broadcast (~6 MB). */
  def buildMnemonics(): FlatDict =
    FlatDict(Iterator.range(0, 100000).map(i => s"MNEM-$i" -> s"category${i % 37}"))

  /** cisco mnemonic → JSON info payload (msg_explanation/msg_recommendation,
    * ref: syslog_audit_cisco.switch.conf:100-133). The reference's
    * cisco_ios.json file is NOT shipped in its repo, so the payloads here
    * are deterministic synthetic stand-ins with the documented shape. */
  def buildCiscoMnemonicInfo(): FlatDict =
    FlatDict(Seq("UPDOWN", "ADJCHANGE", "CONFIG_I", "LOGIN_SUCCESS", "LOGIN_FAILED")
      .map(m => m -> s"""{"msg_explanation":"explanation for $m","msg_recommendation":"recommendation for $m","msg_txt":"format for $m"}"""))

  /** Built ONCE per JVM (round-6): the table is immutable configuration
    * data — classpath resources + deterministic synthesis, no input data
    * involved — and every session in a process broadcasts the same value,
    * so construction is amortized exactly like the lazy resource vals it
    * aggregates (measured ~0.1 s per call, paid up to ~25× per bench run
    * across its sessions and kernel legs before this). */
  private var cachedBuild: Dicts = null
  def build(): Dicts = synchronized {
    if (cachedBuild == null) cachedBuild = buildFresh()
    cachedBuild
  }

  private def buildFresh(): Dicts = Dicts(
    ianaTransport = IanaTransport,
    mnemonics = buildMnemonics(),
    ianaProtocols = IanaProtocols,
    ianaProtocolsPort = IanaProtocolsPort,
    mitreTactics = MitreTactics,
    facilityCategories = loadFacilityCsv(),
    ciscoMnemonicInfo = buildCiscoMnemonicInfo(),
    geoRanges = buildGeoRanges(),
    ptr = buildPtr(),
    iocIps = buildIoc(),
    misp = buildMisp())

  /** Binary search the geo range table; the per-row analogue of the geoip
    * filter's cached lookup. */
  def geoLookup(ranges: Array[GeoRange], ipLong: Long): Option[GeoRange] = {
    var lo = 0
    var hi = ranges.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val r = ranges(mid)
      if (ipLong < r.start) hi = mid - 1
      else if (ipLong > r.end) lo = mid + 1
      else return Some(r)
    }
    None
  }
}
