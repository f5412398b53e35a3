package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, Mutate, SyslogPri}

/** cisco.router — semantic port of syslog_audit_cisco.router.conf (109
  * lines): a NINE-pattern first-match grok ladder over the IOS `%FAC-SEV-
  * MNEMONIC` lines (ACL hit lists, interface events, mac-flap/vlan,
  * catch-all), the facility/mnemonic dictionary translates shared with
  * cisco.switch, the trailing-timezone gsub on created, and — the big
  * quirk — a final `remove_field ["[log][syslog]", "[observer]"]` that
  * deletes the ENTIRE pri decode (v8 mode nests it at parse time) and every
  * observer capture: router events ship with NO syslog facility/severity
  * and NO observer fields. The mnemonic translate probes with the
  * LOWERCASED mnemonic against an upper-case-keyed dictionary, so it always
  * lands on the fallback (msg_explanation/recommendation never surface). */
object CiscoRouterRules {

  private def head(tail: String): String =
    "^(?<[event][ingested]>.*?) \\{name=(?<[observer][hostname]>.*?)\\} \\<\\d+\\>(?<[event][id]>\\d+): (\\*)?(\\d+: )?(?<[event][created]>.*?): \\%(?<[log][syslog][facility][name]>(?<[tmp][facility]>.*?)-(?<[tmp][sevarity]>.*?)-(?<[tmp][mnemonic]>.*?)): " + tail

  private val patterns: Seq[String] = Seq( // ref :27-41, in reference order
    head("((?<[observer][ingress][interface][name]>\\w+/\\d+): )?(.*?)?list (?<[rule][name]>.*?) (?<[event][action]>\\w+) ((?<[network][iana_number]>\\d+)|((?<[network][transport]>\\w+)))? (?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+)(\\((?<[source][port]>\\d+)\\))? -> (?<[destination][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+)(\\((?<[destination][port]>\\d+)\\))?( \\((?<[observer][ingress][interface][name]>.*?/.*?)\\))?, (?<[network][packets]>\\d+) packet"),
    head("((?<[observer][ingress][interface][name]>\\w+/\\d+): )?(.*?)?list (?<[rule][id]>\\d+) (?<[event][action]>\\w+) ((?<[network][iana_number]>\\d+)|((?<[network][transport]>\\w+)))? (?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+)(\\((?<[source][port]>\\d+)\\))? -> (?<[destination][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+)(\\((?<[destination][port]>\\d+)\\))?( \\((?<[observer][ingress][interface][name]>.*?/.*?)\\))?, (?<[network][packets]>\\d+) packet"),
    head("(?<[observer][ingress][interface][name]>.*?): (?<[rule][name]>.*?): list (?<[rule][id]>\\d+) (?<[event][action]>\\w+) (?<[network][transport]>\\w+) (?<[source][ip]>.*?)\\((?<[source][port]>\\d+)\\) -> (?<[destination][ip]>.*?)\\((?<[destination][port]>\\d+)\\), (?<[network][packets]>\\d+)?"),
    head("list (?<[rule][id]>\\d+) (?<[event][action]>\\w+) (?<[network][transport]>\\w+) (?<[source][ip]>.*?)\\((?<[source][port]>\\d+)\\) -> (?<[destination][ip]>.*?)\\((?<[destination][port]>\\d+)\\), (?<[network][packets]>\\d+)"),
    head("(?<[error][message]>.*?interface (?<[observer][egress][interface][name]>.*?,)(?<[event][action]>.*?))$"),
    head("(?<[error][message]>.*?interface(?<[observer][egress][interface][name]>.*?))$"),
    head("(?<[error][message]>duplex mismatch discovered on (?<[observer][egress][interface][name]>.*?)) \\((?<reason>.*?)\\), with (?<[destination][address]>.*?) (?<[observer][ingress][interface][name]>.*?) \\((?<[event][type]>.*?)\\)"),
    head("(?<[error][message]>.*?) (?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+) (O|o)n (?<[network][vlan][name]>.*?), (S|s)ourced (B|b)y (?<[network][vlan][id]>.*?)$"),
    head("(?<[error][message]>.*?)$"))

  def router(ev: Event, ctx: ParseCtx): Unit = {
    ev.remove("event"); ev.remove("host") // ref :9-13
    ev.set("[event][module]", "cisco")
    ev.set("[event][dataset]", "cisco.router")
    Mutate.strip(ev, "message") // ref :14-16
    Grok(ev, "message", Seq("^(.*?)(<(?<pri>\\d+)\\>)"), Seq("_parsefailure_pri")) // ref :17-21
    SyslogPri(ev) // ref :22-26 — v8 ≙ nested placement, emulated eagerly so the
    SyslogPri.toEcs(ev) // final [log][syslog] removal deletes the decode
    ev.remove("[log][syslog][facility][name]") // syslog_pri's own remove_field
    Grok(ev, "message", Seq(patterns: _*), Seq("_parsefailure_msg")) // ref :27-45
    Mutate.uppercase(ev, "[tmp][facility]") // ref :46-49
    Mutate.lowercase(ev, "[tmp][mnemonic]")
    val dicts = RuleDicts.get
    ev.getString("[tmp][facility]").foreach { f => // ref :50-57
      ev.set("[tmp][facility_translation]",
        dicts.facilityCategories.getOrElse(f, "not_found_facility"))
    }
    // ref :58-65 — lowercased probe vs the upper-case dictionary: always
    // the fallback JSON string, so the nested renames below never resolve
    ev.getString("[tmp][mnemonic]").foreach { m =>
      ev.set("[tmp][mnemonic_translation]",
        dicts.ciscoMnemonicInfo.getOrElse(m, """{"key1":"not_found"}"""))
    }
    ev.rename("[tmp][sevarity]", "[event][severity]") // ref :66-74
    ev.rename("[tmp][facility_translation][vendor_reference_location]", "[event][reference]")
    // the facility translation is the category string itself in this engine's
    // dict (CSV column 2) — surface it where the conf's map form would land
    ev.getString("[tmp][facility_translation]").foreach(v => ev.set("[event][category]", v))
    ev.rename("[tmp][mnemonic_translation][msg_explanation]", "[rule][description]")
    ev.rename("[tmp][mnemonic_translation][msg_recommendation]", "[event][recommendation]")
    Mutate.gsub(ev, "[event][created]", "(^.*) \\w\\w\\w", "$1") // ref :79-84 trailing tz strip
    Mutate.gsub(ev, "[event][created]", "  ", " ")
    if (Dates(ev, "[event][created]", // ref :85-96
      Seq("MMM dd HH:mm:ss.SSS", "MMM d HH:mm:ss.SSS", "MMM dd yyyy HH:mm:ss.SSS", "MMM d yyyy HH:mm:ss.SSS"),
      "[event][created_ms]", timezone = "GMT", locale = "en",
      tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear))
      ev.remove("[event][created]")
    if (Dates(ev, "[event][ingested]", Seq("ISO8601"), "[event][ingested_ms]",
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ei"))) // ref :98-106
      ev.remove("[event][ingested]")
    ev.remove("tmp"); ev.remove("[log][syslog]"); ev.remove("observer") // ref :107-109
  }
}
