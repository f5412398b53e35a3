package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, JsonOps, Mutate}

/** tanium.events — semantic port of
  * config/processors/syslog_security_tanium.conf (451 lines): optional
  * syslog-preamble strip, JSON decode into [tanm], a four-way Intel-Type
  * branch (tanium-signal/reputation alert renames + a SIX-level process
  * ancestry escalation chain, tanium-asset-info inventory, openioc finding,
  * Custom-Tags inventory fallback), ISO date parses, and list cleanup.
  *
  * Mirrored reference accidents:
  *  - every level-k ancestry block merges its md5 from parent^(k+1) (one
  *    level too deep — ref :98/:130/:161/:192/:223), so md5 lags its sha1/
  *    sha256 siblings by a generation;
  *  - the no-backslash user branch merges `[tmp][name]` (ref :88), a field
  *    only the backslash grok sets — domain-less users are silently dropped;
  *  - `Alert Id` and `Intel Id` both rename to [event][id] (ref :35/:39) —
  *    last rename wins;
  *  - the "Remove empty lists" block (ref :402-441) conditions on
  *    `[x] !~ ".*?"`, false for every existing value — dead code, omitted;
  *  - no [agent][parse_rule] is ever set: every tanium row surfaces the
  *    'not parsed' default while parse_ok stays true.
  */
object TaniumRules {

  private val prefixGrok = // ref :21-25
    "^(.*? \\{.*?} )?(?<rest_msg>.*?)$"

  private val userSplitGrok = // ref :74-77
    "^(?<[tmp][domain]>.*?)\\\\(?<[tmp][name]>.*?)$"

  /** mutate.merge with a field-reference source: append src's value into
    * dest (scalar→array promotion); absent src = no-op. */
  private def mergeField(ev: Event, dest: String, src: String): Unit =
    ev.get(src).foreach(v => ev.mergeInto(dest, Event.deepCopy(v)))

  /** ref :72-92 (repeated per ancestry level) — split DOMAIN\\user. */
  private def userTmp(ev: Event, tag: String): Unit = {
    ev.getString("[user][tmp]").foreach { v =>
      if (v.contains("\\")) {
        Grok(ev, "[user][tmp]", Seq(userSplitGrok), Seq(tag))
        mergeField(ev, "[user][domain]", "[tmp][domain]")
        mergeField(ev, "[user][name]", "[tmp][name]")
        ev.remove("[user][tmp]"); ev.remove("[tmp][domain]"); ev.remove("[tmp][name]")
      } else {
        mergeField(ev, "[user][name]", "[tmp][name]") // ref :88 — src never set: no-op
        ev.remove("[user][tmp]")
      }
    }
  }

  private def props(k: Int): String =
    "[tanm][Match Details][match][properties]" + ("[parent]" * k)

  def tanium(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "tanium") // ref :9-12
    ev.set("[event][dataset]", "tanium.events")
    val msg = ev.getString("message").getOrElse("")
    if (msg.startsWith("{")) // ref :13-19 (^{.*? probe)
      Grok(ev, "message", Seq("^(?<rest_msg>.*?)$"), Seq("_parsefailure_header1"))
    else // ref :20-26
      Grok(ev, "message", Seq(prefixGrok), Seq("_parsefailure_header2"))
    JsonOps.parse(ev, "rest_msg", "tanm") // ref :27-31 (skip_on_invalid_json)
    val intelType = ev.getString("[tanm][Intel Type]").getOrElse("")
    if (intelType == "tanium-signal" || intelType == "reputation") { // ref :32-248
      ev.copyField("[tanm][Intel Type]", "[event][type]")
      ev.rename("[tanm][Alert Id]", "[event][id]")
      ev.rename("[tanm][Timestamp]", "[event][created]")
      ev.rename("[tanm][Computer Name]", "[host][hostname]")
      ev.rename("[tanm][Computer IP]", "[source][ip]")
      ev.rename("[tanm][Intel Id]", "[event][id]") // overwrites Alert Id (ref :39)
      ev.rename("[tanm][Intel Name]", "[rule][name]")
      ev.rename("[tanm][Intel Labels]", "[intel][label]")
      ev.rename("[tanm][MITRE Techniques]", "[threat][technique][id]")
      ev.rename("[tanm][Match Details][system_info][bits]", "[host][architecture]")
      ev.rename("[tanm][Match Details][system_info][os]", "[host][os][name]")
      ev.rename("[tanm][Match Details][system_info][platform]", "[host][os][family]")
      ev.rename("[tanm][Match Details][system_info][patch_level]", "[host][os][version]")
      ev.rename(props(0) + "[args]", "[process][args]")
      ev.rename(props(0) + "[file][fullpath]", "[process][executable]")
      ev.rename(props(0) + "[file][md5]", "[process][hash][md5]")
      ev.rename(props(0) + "[file][sha1]", "[process][hash][sha1]")
      ev.rename(props(0) + "[file][sha256]", "[process][hash][sha256]")
      ev.rename(props(0) + "[fullpath]", "[process][executable]")
      ev.rename(props(0) + "[md5]", "[process][hash][md5]")
      ev.rename(props(0) + "[sha1]", "[process][hash][sha1]")
      ev.rename(props(0) + "[sha256]", "[process][hash][sha256]")
      ev.rename(props(0) + "[size]", "[file][size]")
      ev.rename(props(1) + "[args]", "[process][parent][args]")
      ev.rename(props(1) + "[user]", "[user][tmp]")
      ev.rename(props(1) + "[file][fullpath]", "[process][parent][executable]")
      ev.rename(props(1) + "[file][md5]", "[process][parent][hash][md5]")
      ev.rename(props(1) + "[file][sha1]", "[process][parent][hash][sha1]")
      ev.rename(props(1) + "[file][sha256]", "[process][parent][hash][sha256]")
      Mutate.splitField(ev, "[threat][technique][id]", ",") // ref :70
      userTmp(ev, "_grokparsefailure_user1")
      var k = 2
      while (k <= 6) { // ref :93-248 — the six-level ancestry escalation
        if (ev.has(props(k) + "[args]")) {
          mergeField(ev, "[process][parent][args]", props(k) + "[args]")
          ev.rename(props(k) + "[user]", "[user][tmp]")
          mergeField(ev, "[process][parent][executable]", props(k) + "[file][fullpath]")
          mergeField(ev, "[process][parent][hash][md5]", props(k + 1) + "[file][md5]") // ref bug: one level deep
          mergeField(ev, "[process][parent][hash][sha1]", props(k) + "[file][sha1]")
          mergeField(ev, "[process][parent][hash][sha256]", props(k) + "[file][sha256]")
          userTmp(ev, s"_grokparsefailure_user$k")
        }
        k += 1
      }
    } else if (intelType == "tanium-asset-info") { // ref :249-269
      ev.copyField("[tanm][Intel Type]", "[event][module]")
      ev.set("[observer][vendor]", "tanium")
      ev.rename("[tanm][Computer Name]", "[host][hostname]")
      ev.rename("[tanm][Computer IP]", "[source][ip]")
      ev.rename("[tanm][Operating System]", "[host][os][name]")
      ev.rename("[tanm][Operating System Install Date]", "[host][os][installation_date]")
      ev.rename("[tanm][Computer Serial Number]", "[host][serial]")
      ev.rename("[tanm][Domain Name]", "[host][domain]")
      ev.rename("[tanm][MAC Address]", "[host][mac]")
      ev.rename("[tanm][IPv4 Address]", "[host][ip]")
      ev.rename("[tanm][Tanium Client IP Address]", "[source][ip]") // overwrites Computer IP
      ev.rename("[tanm][Tanium Client NAT IP Address]", "[source][nat][ip]")
      ev.rename("[tanm][Tanium Server Name]", "[observer][hostname]")
      ev.rename("[tanm][Logged In Users]", "[host][logged_in_users]")
      ev.rename("[tanm][Last Logged In User]", "[host][last_logged_in_user]")
      ev.rename("[tanm][Time Zone]", "[host][timezone]")
      ev.rename("[tanm][Manufacturer]", "[host][manufacturer]")
      ev.rename("[tanm][Model]", "[host][model]")
    } else if (intelType == "openioc") { // ref :270-301
      ev.copyField("[tanm][Intel Type]", "[event][module]")
      ev.set("vulnerability.scanner.vendor", "tanium") // ref :273 dotted top-level
      ev.rename("[tanm][Timestamp]", "[event][ingested]")
      ev.rename("[tanm][Computer Name]", "[host][hostname]")
      ev.rename("[tanm][Computer IP]", "[host][ip]")
      ev.rename("[tanm][Intel Id]", "[event][id]")
      ev.rename("[tanm][Intel Name]", "[rule][name]")
      ev.rename("[tanm][Intel Labels]", "[intel][label]")
      ev.rename("[tanm][MITRE Techniques]", "[threat][technique][id]")
      ev.rename("[tanm][Match Details][finding][system_info][bits]", "[host][architecture]")
      ev.rename("[tanm][Match Details][finding][system_info][os]", "[host][os][name]")
      ev.rename("[tanm][Match Details][finding][system_info][platform]", "[host][os][family]")
      ev.rename("[tanm][Match Details][finding][system_info][patch_level]", "[host][os][version]")
      ev.rename("[tanm][Match Details][match][type]", "[service][type]")
      ev.rename(props(0) + "[source]", "[rule][ruleset]")
      ev.rename(props(0) + "[message]", "[event][original]")
      ev.rename(props(0) + "[write_time]", "[event][start]")
      ev.rename(props(0) + "[gen_time]", "[event][end]")
      if (ev.getString("[rule][name]").exists(_.matches(".*?CVE-\\d+-\\d+ .*?"))) // ref :293
        Grok(ev, "[rule][name]", Seq("^.*?(?<vulnerability.id>CVE-\\d+-\\d+) "),
          Seq("_grokparsefailure_cve"))
    } else { // ref :302-340
      if (ev.getString("rest_msg").exists(_.contains("Custom Tags"))) {
        JsonOps.parse(ev, "rest_msg", "notag")
        ev.rename("[notag][Computer Name]", "[host][hostname]")
        ev.rename("[notag][Custom Tags]", "[network][name]")
        ev.rename("[notag][Operating System]", "[host][os][name]")
        ev.rename("[notag][Last Logged In User]", "[host][last_logged_in_user]")
        ev.rename("[notag][Tanium Client IP Address]", "[source][ip]")
        ev.rename("[notag][Connection Name]", "[event][reason]")
        ev.rename("[notag][x64/x86?]", "[host][architecture]")
        ev.rename("[notag][Model]", "[host][model]")
        ev.rename("[notag][SEP]", "[service][name]")
        ev.rename("[notag][SEP Version]", "[service][version]")
        ev.rename("[notag][MCP]", "[observer][name]")
        ev.rename("[notag][MCP Version]", "[observer][version]")
        ev.copyField("[event][reason]", "[event][module]")
        if (ev.getString("[service][version]").contains("[no results]")) // ref :324-328
          ev.remove("[service][version]")
        if (ev.getString("[observer][version]").contains("[no results]"))
          ev.remove("[observer][version]")
      } else {
        ev.addTag("not parsed") // ref :335-338 (plain tag — parse_ok unaffected)
        ev.set("[event][module]", "not parsed")
      }
    }
    if (ev.getString("[rule][name]").exists(_.matches("Reputation Malicious Files.*"))) // ref :341-345
      ev.rename(props(0) + "[fullpath]", "[file][path]")
    // ref :346-388 — ISO date family (created keeps its string on failure;
    // start/end/ingested are removed on failure)
    if (Dates(ev, "[event][start]", Seq("ISO8601"), "[event][start_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_es")))
      ev.remove("[event][start]")
    if (Dates(ev, "[event][created]", Seq("ISO8601"), "[event][created_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_es")) ev.remove("[event][start]")
    if (Dates(ev, "[event][end]", Seq("ISO8601"), "[event][end_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ee")))
      ev.remove("[event][end]")
    if (ev.hasTag("_dateparsefailure_ee")) ev.remove("[event][end]")
    if (Dates(ev, "[event][ingested]", Seq("ISO8601"), "[event][ingested_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ei")))
      ev.remove("[event][ingested]")
    if (ev.hasTag("_dateparsefailure_ei")) ev.remove("[event][ingested]")
    ev.remove("rest_msg"); ev.remove("tanm"); ev.remove("notag") // ref :389-391
    Mutate.gsub(ev, "[threat][technique][id]", "[\"\\[\\]]", "") // ref :392-394
    // ref :402-441 — "Remove empty lists": every condition requires
    // `[x] !~ ".*?"` on an existing field, which is always false → dead code
    ev.getString("[host][hostname]").foreach { h => // ref :443-447
      if (h != "") ev.copyField("[host][hostname]", "[host][name]")
    }
  }
}
