package graft.rules

import graft.model.Event
import graft.parse.{Dates, JsonOps, Mutate}

/** skyhigh_scal — api_skyhigh_scal_audit.conf. Quirks mirrored:
  *  - the WHOLE message is lowercased before the json parse, so every
  *    string value (names, hostnames) arrives lowercase.
  *  - the rename map's stray `tag_on_failure => "_mutate_error_2"` entry is
  *    parsed by Logstash as a rename of a field literally named
  *    "tag_on_failure" — never present, dead, kept.
  *  - [user][full_name] is "last first" (or "last middle first" when a
  *    middlename exists) — surname-first, from the lowercased values.
  *  - created/ingested are UNIX_MS json numbers. */
object ScalAuditRules {

  def scalAudit(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "skyhigh") // ref :7-11
    ev.set("[event][dataset]", "skyhigh_scal")
    ev.remove("host") // ref :12-17
    Mutate.lowercase(ev, "message")
    JsonOps.parse(ev, "message", "tmp") // ref :18-21
    ev.rename("tag_on_failure", "_mutate_error_2") // ref :28 — dead (see scaladoc)
    ev.rename("[tmp][clientipaddress]", "[source][ip]") // ref :26-46
    ev.rename("[tmp][hostmachine]", "[host][hostname]")
    ev.rename("[tmp][createdtime]", "[event][created]")
    ev.rename("[tmp][timestamp]", "[event][ingested]")
    ev.rename("[tmp][revision]", "[service][version]")
    ev.rename("[tmp][tenantid]", "[cloud][account][id]")
    ev.rename("[tmp][insertionid]", "[event][id]")
    ev.rename("[tmp][objectname]", "[process][name]")
    ev.rename("[tmp][auditeventtype][eventcategoryid]", "[event][category]")
    ev.rename("[tmp][auditeventtype][subtypeid]", "[event][code]")
    ev.rename("[tmp][auditeventtype][eventcategoryname]", "[event][kind]")
    ev.rename("[tmp][auditeventtype][eventtypename]", "[error][message]")
    ev.rename("[tmp][auditeventtype][eventtypeid]", "[error][type]")
    ev.rename("[tmp][userinfo][email]", "[user][email]")
    ev.rename("[tmp][userinfo][userid]", "[user][id]")
    if (!ev.has("[tmp][userinfo][middlename]")) // ref :48-64
      Mutate.addField(ev, "[user][full_name]",
        "%{[tmp][userinfo][lastname]} %{[tmp][userinfo][firstname]}")
    else
      Mutate.addField(ev, "[user][full_name]",
        "%{[tmp][userinfo][lastname]} %{[tmp][userinfo][middlename]} %{[tmp][userinfo][firstname]}")
    if (Dates(ev, "[event][created]", Seq("UNIX_MS"), "[event][created_ms]", // ref :68-74
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]") // target == source: replaced
    if (Dates(ev, "[event][ingested]", Seq("UNIX_MS"), "[event][ingested_ms]", // ref :75-81
      timezone = "GMT", locale = "en", tagOnFailure = Seq("_dateparsefailure_ei")))
      ev.remove("[event][ingested]")
    ev.remove("tmp") // ref :82-85
  }
}
