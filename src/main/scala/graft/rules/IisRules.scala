package graft.rules

import graft.model.Event
import graft.parse._

/** iis.w3c — semantic port of config/processors/flat_file_audit_microsoft
  * .iis.w3c.conf: '#' directive lines are dropped (:14-19), the date/time
  * prefix is dissected off (and later REMOVED, :171-176 — so event.created
  * never survives to a date parse), the space-separated tail is csv'd into
  * auto-named iis.columnN slots, and five content-sniffing rules map the
  * positional columns onto ECS (httperr idle/cancel, URL-reservation,
  * W3SVC service log, standard access line, fallback). The status≥400
  * categorization mirrors the reference's asymmetric nesting: RULE 3 gives
  * Ops/Information for <400, RULE 4/5 give a category only when the status
  * is missing (<400 falls through with none). */
object IisRules {

  private val iisDissect = // ref :24-28
    "%{[[log][date]]} {%{?data}} %{[[event][created]]->} %{+[[event][created]]} %{rest_msg}"

  def iisW3c(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "iis") // ref :9-13
    ev.set("[event][dataset]", "iis.w3c")
    // input-side beats agent stamp (the flat-file shipper's hostname)
    ev.set("[agent][hostname]", "iisweb-relay.corp.example")
    ev.rename("[agent][hostname]", "[log][source][hostname]")
    val raw = ev.stringOrNull("message")
    if (raw != null && raw.startsWith("#")) return Dropped // ref :14-19
    Pending(Seq(ev), iisW3cBody)
  }

  private def iisW3cBody(ev: Event, ctx: ParseCtx): Unit = {
    Mutate.strip(ev, "message") // ref :20-23
    Mutate.gsub(ev, "message", "\r", "")
    if (!Dissect(ev, "message", iisDissect, Seq("_dissectfailure"))) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return
    }
    Csv(ev, "rest_msg", Nil, separator = ' ', target = "iis") // ref :29-33
    ev.copyField("[iis][column1]", "chk_data") // ref :34-36
    val rest = ev.getString("rest_msg").getOrElse("")
    val chk = ev.getString("chk_data").getOrElse("")
    def statusCategory(asymmetric: Boolean): Unit = {
      Mutate.convert(ev, "[http][response][status_code]", "integer")
      val st = ev.get("[http][response][status_code]")
      st match {
        case Some(n: Long) if n >= 400 => ev.set("[event][category]", "Ops/Error")
        case Some(_) if asymmetric => () // ref :110-118 — present but <400: nothing
        case Some(_) => ev.set("[event][category]", "Ops/Information")
        case None => ev.set("[event][category]", "Ops/Information")
      }
    }
    if (rest.contains("- - Timer_ConnectionIdle -") || rest.contains("- ClientCancel -")) {
      ev.set("[agent][parse_rule]", "RULE 2") // ref :37-50
      ev.rename("[iis][column1]", "[source][ip]")
      ev.rename("[iis][column2]", "[source][port]")
      ev.rename("[iis][column4]", "[destination][port]")
      ev.rename("[iis][column3]", "[destination][ip]")
      ev.rename("[iis][column11]", "[rule][description]")
    } else if (rest.contains("- URL -")) {
      ev.set("[agent][parse_rule]", "RULE 3") // ref :51-85
      ev.rename("[iis][column2]", "[source][port]")
      ev.rename("[iis][column1]", "[source][ip]")
      ev.rename("[iis][column3]", "[destination][ip]")
      ev.rename("[iis][column4]", "[destination][port]")
      ev.rename("[iis][column6]", "[event][action]")
      ev.rename("[iis][column7]", "[source][address]")
      ev.rename("[iis][column9]", "[http][response][status_code]")
      statusCategory(asymmetric = false)
    } else if (chk.contains("SVC") || chk.isEmpty) {
      // `[chk_data] !~ "."` — regex '.' matches ANY char, so the negation
      // holds only for an EMPTY/missing column1 (ref :87)
      ev.set("[agent][parse_rule]", "RULE 4") // ref :87-126
      ev.rename("[iis][column1]", "[service][name]")
      ev.rename("[iis][column3]", "[source][address]")
      ev.rename("[iis][column4]", "[http][request][method]")
      ev.rename("[iis][column5]", "[url][path]")
      ev.rename("[iis][column7]", "[source][port]")
      ev.rename("[iis][column9]", "[destination][ip]")
      ev.rename("[iis][column11]", "[url][full]")
      ev.rename("[iis][column13]", "[http][response][status_code]")
      ev.rename("[iis][column15]", "[source][bytes]")
      ev.rename("[iis][column16]", "[destination][bytes]")
      statusCategory(asymmetric = true)
    } else if (rest.contains("- 443 -") && !chk.contains("SVC")) {
      ev.set("[agent][parse_rule]", "RULE 5") // ref :127-165
      ev.rename("[iis][column1]", "[source][ip]")
      ev.rename("[iis][column2]", "[http][request][method]")
      ev.rename("[iis][column3]", "[url][path]")
      ev.rename("[iis][column5]", "[source][port]")
      ev.rename("[iis][column7]", "[destination][ip]")
      ev.rename("[iis][column9]", "[url][full]")
      ev.rename("[iis][column10]", "[http][response][status_code]")
      ev.rename("[iis][column13]", "[source][bytes]")
      ev.rename("[iis][column14]", "[destination][bytes]")
      statusCategory(asymmetric = true)
    } else {
      ev.set("[agent][parse_rule]", "RULE 6(parse)") // ref :166-170
    }
    // ref :171-180 — the dissected date/time are dropped unparsed
    Seq("[log][date]", "[event][created]", "rest_msg", "iis", "chk_data")
      .foreach(ev.remove)
    Mutate.convert(ev, "[source][bytes]", "integer")
    Mutate.convert(ev, "[destination][bytes]", "integer")
  }
}
