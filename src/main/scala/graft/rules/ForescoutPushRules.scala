package graft.rules

import graft.model.Event
import graft.parse.{Dates, Grok, Kv, Mutate}

/** forescout.device_inventory — push_api_list_inventory_forescout.conf.
  * Quirks mirrored:
  *  - CR + quote gsubs, then ';'/':' kv with lowercased, space-trimmed keys
  *    and space-trimmed values (the mac value keeps its inner colons — only
  *    the FIRST ':' splits).
  *  - dhcp_hostname overwrites netbiosname on [host][hostname]; the
  *    sw_ip_port grok overwrites the aci_ep_sw_port captures when both
  *    resolve.
  *  - "Irresolvable"/"Unknown" port values skip the port grok (:55-68).
  *  - the timestamp is epoch SECONDS (the conf's own comment shows
  *    "1614786647") parsed as UNIX_MS — [event][created] lands in 1970,
  *    mirrored verbatim. */
object ForescoutPushRules {

  private def portGrok(ev: Event, src: String, tag: String): Unit = {
    val v = ev.getString(src)
    if (v.isDefined && !v.get.matches("^[iI]rresolvable$") && !v.get.matches("^[uU]nknown$"))
      Grok(ev, src,
        Seq("^(?<[observer][ingress][interface][name]>.*?):(?<[observer][ingress][interface][id]>.*?)$"),
        Seq(tag))
  }

  def forescoutPush(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "forescout") // ref :9-12
    ev.set("[event][dataset]", "forescout.device_inventory")
    Mutate.gsub(ev, "message", "\\r", "") // ref :13-18
    Mutate.gsub(ev, "message", "\"", "")
    Kv(ev, "message", ';', ':', target = "fs", trimKey = " ", trimValue = " ", // ref :20-30
      transformKeyLowercase = true)
    ev.rename("[fs][netbiosname]", "[host][hostname]") // ref :31-53
    ev.rename("[fs][dns_hostname]", "[dns][answers][name]")
    ev.rename("[fs][dhcp_hostname]", "[host][hostname]")
    ev.rename("[fs][user_name]", "[user][name]")
    ev.rename("[fs][ad_username]", "[user][id]")
    ev.rename("[fs][online]", "[event][action]")
    ev.rename("[fs][ip]", "[host][ip]")
    ev.rename("[fs][mac]", "[host][mac]")
    ev.rename("[fs][nic_vendor]", "[host][manufacturer]")
    ev.rename("[fs][function]", "[host][type]")
    ev.rename("[fs][os]", "[host][os][name]")
    ev.rename("[fs][vendor_model]", "[host][model]")
    ev.rename("[fs][sw_port_alias]", "[observer][ingress][interface][alias]")
    ev.rename("[fs][num_of_hosts_on_port]", "[observer][ingress][interface][host_count]")
    ev.rename("[fs][segment_path]", "[network][name]")
    ev.rename("[fs][wlan_ap_name]", "[observer][name]")
    ev.rename("[fs][wlan_ctp_ip]", "[observer][ip]")
    ev.rename("[fs][wlan_ssid]", "[network][vlan][id]")
    ev.rename("[fs][serial_number]", "[host][serial]")
    ev.rename("[fs][timestamp]", "[event][created]")
    Mutate.strip(ev, "[host][serial]")
    portGrok(ev, "[fs][aci_ep_sw_port]", "_groktimeout_fs_sw_port1") // ref :55-61
    portGrok(ev, "[fs][sw_ip_port]", "_groktimeout_fs_sw_port2") // ref :62-68
    if (Dates(ev, "[event][created]", Seq("UNIX_MS"), "[event][created_ms]", // ref :70-81
      timezone = "GMT", locale = "ec", tagOnFailure = Seq("_dateparsefailure_ec")))
      ev.remove("[event][created]")
    if (ev.hasTag("_dateparsefailure_ec")) ev.remove("[event][created]")
    ev.remove("fs") // ref :82-84
    ev.remove("headers")
  }
}
