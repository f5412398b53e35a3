package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, Mutate}

/** infoblox.dns (ftp_gzip transport) — ftp_gzip_audit_infoblox_dns.conf.
  * Quirks mirrored:
  *  - the three-pattern query grok is first-match; only pattern 1 (full
  *    response line) yields a dns_tmp answer tail — pattern-2/3 lines then
  *    run the answer grok on a MISSING field and collect the default
  *    _grokparsefailure (flipping parse_ok), exactly as written.
  *  - the answer grok's field order is shuffled: data gets the owner name,
  *    id the TTL, and answers.name the rdata/IP.
  *  - dns_tmp is split on ";" and each element stripped before the
  *    (array-aware) answer grok.
  *  - date locale is the bogus "ec" tag; month names resolve through the
  *    root-locale symbols. */
object InfobloxFtpRules {

  def infobloxFtp(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[log][source][hostname]", "ftp_infoblox_api") // ref :9-13
    ev.set("[event][module]", "infoblox")
    ev.set("[event][dataset]", "infoblox.dns")
    Grok(ev, "message", Seq( // ref :14-22
      "^(?<[event][created]>.*? .*?) client (?<[source][ip]>.*?)#(?<[source][port]>\\d+)(:)?" +
        "( ((?<[network][transport]>\\w+):))? (?<[dns][op_code]>\\w+): (?<[dns][question][name]>.*?) " +
        "(?<[dns][question][class]>.*?) (?<[dns][question][type]>\\w+) response: " +
        "(?<[dns][response_code]>.*?) (?<[dns][header_flags]>.*?) (?<dns_tmp>.*?)$",
      "^(?<[event][created]>.*? .*?) client (?<[source][ip]>.*?)#(?<[source][port]>\\d+)(:)?" +
        "( ((?<[network][transport]>\\w+):))? (?<[dns][op_code]>\\w+): (?<[dns][question][name]>.*?) " +
        "(?<[dns][question][class]>.*?)( (?<[dns][question][type]>\\w+) response: " +
        "(?<[dns][response_code]>.*?) (?<[dns][header_flags]>.*?)$)",
      "^(?<[event][created]>.*? .*?) client (?<[source][ip]>.*?)#(?<[source][port]>\\d+)(:)?" +
        "( ((?<[network][transport]>\\w+):))? (?<[dns][op_code]>\\w+): " +
        "((\\<(?<[dns][question][name]>.*?)\\> )|(?<[dns][question][name]>.*?) )(@.*? )?" +
        "(response: (?<[dns][response_code]>.*?) |(?<[dns][question][class]>.*?) " +
        "(?<[dns][question][type]>.*?) (?<[dns][header_flags]>.*?) \\((?<[dns][resolved_ip]>.*?)\\))"))
    Mutate.splitField(ev, "dns_tmp", ";") // ref :24-26
    Mutate.strip(ev, "dns_tmp") // ref :27-29
    Grok(ev, "dns_tmp", Seq( // ref :30-36
      "^(?<[dns][answers][data]>.*?) (?<[dns][id]>\\d+) (?<[dns][answers][class]>.*?) " +
        "(?<[dns][answers][type]>.*?) (?<[dns][answers][name]>.*)(\\.|$)"))
    ev.copyField("[dns][question][name]", "[url][full]") // ref :37-40
    for (f <- Seq("response", "host", "path", "dns_tmp")) ev.remove(f)
    if (Dates(ev, "[event][created]", Seq("dd-MMM-yyyy HH:mm:ss.SSS"), // ref :42-53
      "[event][created_ms]", timezone = "GMT", locale = "ec",
      tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
  }
}
