package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Dicts

/** The broadcast dictionaries load the reference's REAL public data files
  * (not hand-curated subsets) — size and spot-value assertions. */
class DictsSpec extends AnyFunSuite {
  test("iana transport dictionary is the full reference file") {
    assert(Dicts.IanaTransport.size >= 130)
    assert(Dicts.IanaTransport("6") == "tcp")
    assert(Dicts.IanaTransport("17") == "udp")
    assert(Dicts.IanaTransport("132") == "sctp")
  }
  test("iana protocols dictionaries are the full reference files (primary-name rule)") {
    assert(Dicts.IanaProtocols.size >= 5000)
    assert(Dicts.IanaProtocols("80/tcp") == "http") // first/primary IANA name
    assert(Dicts.IanaProtocols("443/udp") == "https")
    assert(Dicts.IanaProtocolsPort.size >= 3000)
    assert(Dicts.IanaProtocolsPort("80") == "http") // semicolon-joined alternates reduced
    assert(Dicts.IanaProtocolsPort("22") == "ssh")
  }
  test("mitre tactics dictionary carries the reference's kv-encoded payloads") {
    assert(Dicts.MitreTactics.size >= 14)
    assert(Dicts.MitreTactics("ta0001").contains("[threat][tactic][name]: initial access"))
  }
  test("cisco facility categories load the full 1,296-entry reference CSV") {
    val d = Dicts.build()
    assert(d.facilityCategories.size >= 1280) // 1295 rows, a few dup facility keys
    assert(d.facilityCategories("LINK") == "Data link")
    assert(d.facilityCategories("AAA") == "Authentication, authorization, and accounting")
  }
  test("java-serialization proxy roundtrips every field (broadcast wire format)") {
    val d = Dicts.build()
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(d); oos.close()
    // the wire format is the proxy's, not default serialization of Dicts
    assert(new String(bos.toByteArray, "ISO-8859-1").contains("DictsSerProxy"))
    val d2 = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[Dicts]
    assert(d2 ne d) // genuinely went through the wire format
    assert(d2.ianaTransport == d.ianaTransport)
    assert(d2.mnemonics == d.mnemonics)
    assert(d2.ianaProtocols == d.ianaProtocols)
    assert(d2.ianaProtocolsPort == d.ianaProtocolsPort)
    assert(d2.mitreTactics == d.mitreTactics)
    assert(d2.facilityCategories == d.facilityCategories)
    assert(d2.ciscoMnemonicInfo == d.ciscoMnemonicInfo)
    assert(d2.geoRanges.toSeq == d.geoRanges.toSeq)
    assert(d2.ptr == d.ptr)
    assert(d2.iocIps == d.iocIps)
    assert(d2.misp == d.misp)
  }
  test("misp store is md5-keyed per namespace at feed scale") {
    val d = Dicts.build()
    assert(d.misp("source.ip").size == 100000)
    assert(d.misp("destination.ip").size == d.iocIps.size)
    val k = graft.util.Md5.hex("192.168.7.13")
    assert(d.misp("destination.ip")(k).contains("misp-destination.ip"))
  }
}
