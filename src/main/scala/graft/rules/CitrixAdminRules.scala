package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, JsonOps}

/** citrix.admin — db_audit_citrix.admin.conf. Quirks mirrored:
  *  - the ECS mappings are COPIES, not renames (the tmp tree is dropped
  *    wholesale afterwards, so the effect is the same).
  *  - `if [tmp][IsSuccessful]` is Logstash truthiness: a JSON false (or a
  *    missing field) takes the "failed" branch.
  *  - all three date format lists lead with "HH:mm:sss" — THREE-digit
  *    seconds that never match a real clock — so only the ISO8601 fallback
  *    ever fires; it accepts both the uppercase and the lowercase "…t…z"
  *    clocks the conf's own comments show (the JDK ISO parse, like
  *    Logstash's Timestamp coercion, tolerates the lowercase forms). */
object CitrixAdminRules {

  private def isoTriple(ev: Event, src: String, targetMs: String): Unit =
    Dates(ev, src, Seq("yyyy-MM-dd'T'HH:mm:sss'Z'", "yyyy-MM-dd't'HH:mm:sss'z'", "ISO8601"),
      targetMs, timezone = "GMT", locale = "en")

  def citrixAdmin(ev: Event, ctx: ParseCtx): Unit = {
    ev.remove("host") // ref :9-11 — input top level, never set
    JsonOps.parse(ev, "message", "tmp") // ref :12-15
    ev.set("[event][module]", "citrix") // ref :16-29
    ev.set("[event][dataset]", "citrix.admin")
    ev.copyField("[tmp][uid]", "[event][id]")
    ev.copyField("[tmp][text]", "[error][message]")
    ev.copyField("[tmp][adminmachineip]", "[source][ip]")
    ev.copyField("[tmp][adminid]", "[user][id]")
    ev.copyField("[tmp][source]", "[event][kind]")
    ev.copyField("[tmp][sourcesdk]", "[user_agent][name]")
    ev.copyField("[tmp][adminupn]", "[user][email]")
    if (ev.getString("[tmp][adminaccountname]") // ref :30-36
          .exists(_.matches("^\\w+\\\\.*?$")))
      Grok(ev, "[tmp][adminaccountname]",
        Seq("^(?<[user][domain]>\\w+)\\\\(?<[user][name]>.*?)$"),
        Seq("_parsefailure_user_domain"))
    ev.valueOrNull("[tmp][IsSuccessful]") match { // ref :37-49 — Logstash truthiness
      case null | java.lang.Boolean.FALSE => ev.set("[event][action]", "failed")
      case _ => ev.set("[event][action]", "success")
    }
    isoTriple(ev, "[tmp][nameupdateduetime]", "[event][created_ms]") // ref :52-58
    isoTriple(ev, "[tmp][starttime]", "[event][start_ms]") // ref :60-66
    isoTriple(ev, "[tmp][endtime]", "[event][end_ms]") // ref :68-74
    ev.remove("tmp") // ref :75-77
  }
}
