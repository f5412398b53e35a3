package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Dicts

/** The broadcast dictionaries load the reference's REAL public data files
  * (not hand-curated subsets) — size and spot-value assertions. */
class DictsSpec extends AnyFunSuite {
  test("iana transport dictionary is the full reference file") {
    assert(Dicts.IanaTransport.size >= 130)
    assert(Dicts.IanaTransport.get("6") == "tcp")
    assert(Dicts.IanaTransport.get("17") == "udp")
    assert(Dicts.IanaTransport.get("132") == "sctp")
  }
  test("iana protocols dictionaries are the full reference files (primary-name rule)") {
    assert(Dicts.IanaProtocols.size >= 5000)
    assert(Dicts.IanaProtocols.get("80/tcp") == "http") // first/primary IANA name
    assert(Dicts.IanaProtocols.get("443/udp") == "https")
    assert(Dicts.IanaProtocolsPort.size >= 3000)
    assert(Dicts.IanaProtocolsPort.get("80") == "http") // semicolon-joined alternates reduced
    assert(Dicts.IanaProtocolsPort.get("22") == "ssh")
  }
  test("mitre tactics dictionary carries the reference's kv-encoded payloads") {
    assert(Dicts.MitreTactics.size >= 14)
    assert(Dicts.MitreTactics.get("ta0001").contains("[threat][tactic][name]: initial access"))
  }
  test("cisco facility categories load the full 1,296-entry reference CSV") {
    val d = Dicts.build()
    assert(d.facilityCategories.size >= 1280) // 1295 rows, a few dup facility keys
    assert(d.facilityCategories.get("LINK") == "Data link")
    assert(d.facilityCategories.get("AAA") == "Authentication, authorization, and accounting")
  }
  test("java serialization ships every field in the flat form (broadcast wire format)") {
    val d = Dicts.build()
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(d); oos.close()
    // read back, noting every class descriptor and String object on the wire
    val classes = scala.collection.mutable.Set.empty[String]
    var strings = 0
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray)) {
      enableResolveObject(true)
      override def resolveClass(desc: java.io.ObjectStreamClass): Class[_] = {
        classes += desc.getName; super.resolveClass(desc)
      }
      override def resolveObject(o: AnyRef): AnyRef = {
        if (o.isInstanceOf[String]) strings += 1
        o
      }
    }
    val d2 = ois.readObject().asInstanceOf[Dicts]
    // the tables went over as FlatDict arenas: the only String objects on
    // the wire are the geo, IOC and misp namespace strings (the map form
    // shipped two per entry, ~560k)
    assert(classes.contains(classOf[graft.enrich.FlatDict].getName))
    assert(strings < 2000, s"$strings String objects on the wire")
    assert(d2 ne d)
    val tables = (d: Dicts) => Seq(d.ianaTransport, d.mnemonics, d.ianaProtocols,
      d.ianaProtocolsPort, d.mitreTactics, d.facilityCategories, d.ciscoMnemonicInfo,
      d.ptr) ++ d.misp.values
    tables(d2).zip(tables(d)).foreach { case (t2, t) => assert(t2 ne t) }
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
    assert(d.misp("destination.ip").get(k).contains("misp-destination.ip"))
  }
}
