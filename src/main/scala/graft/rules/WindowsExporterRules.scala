package graft.rules

import graft.model.Event
import graft.parse.{Dates, JsonOps, Mutate}

/** windows.exporter — flat_file_security_windows.exported_security_events
  * .conf (EvtxECmd-style exported events). Quirks mirrored:
  *  - Payload is a JSON string inside the JSON record (double-encoded);
  *    the ruby fold turns EventData.Data [{@Name,#text}] into payload_dct.
  *  - Computer lands on [host][type] and WorkstationName then OVERWRITES it.
  *  - the IpAddress guard compares the field for EQUALITY with a regex
  *    STRING (== instead of =~) — never true, so [source][ip] is never set.
  *  - 7-fraction-digit clocks are gsub-trimmed to millis ("\\1 \\2" drops
  *    the offset); anything else reaches the date filter unmodified and
  *    fails both formats (locale "ec" again). */
object WindowsExporterRules {

  def windowsExporter(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "windows") // ref :9-12
    ev.set("[event][dataset]", "windows.exporter")
    JsonOps.parse(ev, "message", "tmp_msg") // ref :13-16
    JsonOps.parse(ev, "[tmp_msg][Payload]", "tmp") // ref :17-20
    val dct = new Event.FMap() // ref :21-31
    ev.get("[tmp][EventData][Data]") match {
      case Some(a: scala.collection.mutable.ArrayBuffer[Any @unchecked]) =>
        a.foreach {
          case m: Event.FMap =>
            val k = m.get("@Name")
            if (k != null) dct.put(k.toString, m.get("#text"))
          case _ => ()
        }
      case _ => ()
    }
    ev.set("payload_dct", dct)
    ev.rename("path", "[log][file][path]") // ref :32-48 — dead (input never sets)
    ev.rename("host", "[host][name]") // dead
    ev.rename("[tmp_msg][Provider]", "[event][provider]")
    ev.rename("[tmp_msg][EventId]", "[event][id]")
    ev.rename("[tmp_msg][MapDescription]", "[event][outcome]")
    ev.rename("[tmp_msg][Keywords]", "[event][action]")
    ev.rename("[tmp_msg][PayloadData1]", "[event][reason]")
    ev.rename("[tmp_msg][PayloadData2]", "[event][kind]")
    ev.rename("[tmp_msg][Channel]", "[event][type]")
    ev.rename("[tmp_msg][ChunkNumber]", "[process][entity_id]")
    ev.rename("[tmp_msg][ProcessId]", "[process][pid]")
    ev.rename("[tmp_msg][ThreadId]", "[process][thread][id]")
    ev.rename("[tmp_msg][Computer]", "[host][type]")
    ev.rename("[tmp_msg][TimeCreated]", "[event][created]")
    ev.rename("[tmp_msg][SourceFile]", "[file][path]")
    ev.rename("[payload_dct][TargetUserName]", "[user][name]") // ref :50-57
    ev.rename("[payload_dct][LmPackageName]", "[package][name]")
    ev.rename("[payload_dct][AuthenticationPackageName]", "[process][name]")
    ev.rename("[payload_dct][TargetDomainName]", "[destination][domain]")
    ev.rename("[payload_dct][LogonGuid]", "[server][user][group][id]")
    ev.rename("[payload_dct][TargetUserSid]", "[destination][user][id]")
    ev.rename("[payload_dct][IpPort]", "[source][port]")
    ev.rename("[payload_dct][WorkstationName]", "[host][type]")
    if (ev.getString("[payload_dct][IpAddress]").contains( // ref :59-63 — == a regex string: never true
        "^(\\d+\\.\\d+\\.\\d+\\.\\d+|[0-9a-zA-Z]+:.*?:.*?:.*?:.*?:.*?:.*?:[0-9a-zA-Z]+)$"))
      ev.rename("[payload_dct][IpAddress]", "[source][ip]")
    ev.getString("[event][created]").foreach { c => // ref :65-80
      if (c.matches("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{7}(\\-|\\+)\\d{2}:\\d{2}.*"))
        Mutate.gsub(ev, "[event][created]",
          "^(.*?)T(.*?\\.\\d\\d\\d)\\d\\d\\d(.*?$)", "$1 $2")
      if (Dates(ev, "[event][created]",
        Seq("dd-MMM-yyyy HH:mm:ss.SSS", "yyyy-MM-dd HH:mm:ss.SSS"),
        "[event][created_ms]", timezone = "GMT", locale = "ec",
        tagOnFailure = Seq("_dateparsefailure_ec"))) ev.remove("[event][created]")
    }
    for (f <- Seq("tmp_msg", "tmp", "payload_dct")) ev.remove(f) // ref :81-83
  }
}
