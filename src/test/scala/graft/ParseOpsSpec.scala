package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Event
import graft.parse._
import scala.collection.mutable

class EventSpec extends AnyFunSuite {
  test("nested path set/get/rename/remove") {
    val ev = new Event
    ev.set("[a][b][c]", "x")
    assert(ev.getString("[a][b][c]").contains("x"))
    ev.rename("[a][b][c]", "[d][e]")
    assert(ev.get("[a][b][c]").isEmpty)
    assert(ev.getString("[d][e]").contains("x"))
    ev.remove("[d][e]")
    assert(ev.get("[d]").exists(_.asInstanceOf[graft.model.Event.FMap].isEmpty))
  }

  test("scalar⇄array duality and [x][0] probe (ref 02_ecs_data_type.conf:131)") {
    val ev = new Event
    ev.set("[log][source][ip]", "1.2.3.4")
    assert(ev.get("[log][source][ip][0]").isEmpty) // scalar: index probe fails
    ev.mergeInto("[log][source][ip]", "5.6.7.8")
    assert(ev.getString("[log][source][ip][0]").contains("1.2.3.4"))
    assert(ev.getString("[log][source][ip][1]").contains("5.6.7.8"))
  }

  test("walk prunes empties and truncates (ref 94_remove_empty_n_truncate.conf)") {
    val ev = new Event
    ev.set("[a][empty]", "")
    ev.set("[a][dash]", "-")
    ev.set("[a][keep]", "v")
    ev.set("[b][long]", "x" * 2000)
    ev.walk { (_: String, v: Any) =>
      v match {
        case s: String if s.isEmpty || s == "-" || s == "null" => Event.Drop
        case s: String if s.length > 1023 => s.substring(0, 1023)
        case other => other
      }
    }
    assert(ev.get("[a][empty]").isEmpty)
    assert(ev.get("[a][dash]").isEmpty)
    assert(ev.getString("[a][keep]").contains("v"))
    assert(ev.getString("[b][long]").get.length == 1023)
  }
}

class GrokSpec extends AnyFunSuite {
  test("palo header grok: pri + actual_msg (ref syslog_security_palo.alto.fw.conf:15)") {
    val ev = new Event
    ev.set("message", "<134>Oct 11 22:14:15 fw01 1,2020/10/11 22:14:15,0011,TRAFFIC,end")
    val ok = Grok(ev, "message",
      Seq("(^(.*?)(<(?<pri>\\d+)>)(\\s)?(?<actual_msg>.*$))|(^(?<actual_msg>.*)$)"),
      tagOnFailure = Seq("_parsefailure_header"))
    assert(ok)
    assert(ev.getString("pri").contains("134"))
    assert(ev.getString("actual_msg").get.startsWith("Oct 11"))
  }

  test("header grok alternation matches pri-less lines too") {
    val ev = new Event
    ev.set("message", "no pri here")
    assert(Grok(ev, "message",
      Seq("(^(.*?)(<(?<pri>\\d+)>)(\\s)?(?<actual_msg>.*$))|(^(?<actual_msg>.*)$)")))
    assert(ev.get("pri").isEmpty)
    assert(ev.getString("actual_msg").contains("no pri here"))
  }

  test("nested-path named group dialect (?<[a][b]>…) (ref 10_user_agent_enrichment.conf:11)") {
    val ev = new Event
    ev.set("msg", "initiated by 10.1.2.3")
    assert(Grok(ev, "msg", Seq("^.*?initiated by (?<[source][ip]>\\d+\\.\\d+\\.\\d+\\.\\d+)")))
    assert(ev.getString("[source][ip]").contains("10.1.2.3"))
  }

  test("%{PATTERN:field} library refs + first-match-wins list") {
    val ev = new Event
    ev.set("message", "Failed password for invalid user admin from 203.0.113.7 port 22344 ssh2")
    val ok = Grok(ev, "message", Seq(
      "^Accepted password for %{USERNAME:[user][name]} from %{IPV4:[source][ip]} port %{INT:[source][port]}",
      "^Failed password for invalid user %{USERNAME:[user][name]} from %{IPV4:[source][ip]} port %{INT:[source][port]}"))
    assert(ok)
    assert(ev.getString("[user][name]").contains("admin"))
    assert(ev.getString("[source][ip]").contains("203.0.113.7"))
    assert(ev.getString("[source][port]").contains("22344"))
  }

  test("failure appends tag_on_failure") {
    val ev = new Event
    ev.set("message", "garbage")
    assert(!Grok(ev, "message", Seq("^\\d+$"), tagOnFailure = Seq("_grokparsefailure")))
    assert(ev.hasTag("_grokparsefailure"))
  }
}

class DissectSpec extends AnyFunSuite {
  test("vpcflow space-delimited (ref api_network_aws.vpcflow.conf:17-22)") {
    val ev = new Event
    ev.set("message", "2 123456789010 eni-1235b8ca 172.31.16.139 172.31.16.21 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK")
    val ok = Dissect(ev, "message",
      "%{[[service][version]]} %{[[cloud][account][id]]} %{[[observer][egress][interface][id]]} %{[[source][ip]]} %{[[destination][ip]]} %{[[source][port]]} %{[[destination][port]]} %{[[network][iana_number]]} %{[[network][packets]]} %{[[network][bytes]]} %{[[event][created]]} %{[[event][end]]} %{[[event][action]]} %{[[event][outcome]]}")
    assert(ok)
    assert(ev.getString("[service][version]").contains("2"))
    assert(ev.getString("[source][ip]").contains("172.31.16.139"))
    assert(ev.getString("[destination][port]").contains("22"))
    assert(ev.getString("[network][iana_number]").contains("6"))
    assert(ev.getString("[event][outcome]").contains("OK"))
  }

  test("csv-positional with skips and empty captures (palo style)") {
    val ev = new Event
    ev.set("m", "a,b,,d")
    assert(Dissect(ev, "m", "%{?x},%{f1},%{f2},%{f3}"))
    assert(ev.getString("f1").contains("b"))
    assert(ev.getString("f2").contains(""))
    assert(ev.getString("f3").contains("d"))
  }

  test("missing separator fails and tags") {
    val ev = new Event
    ev.set("m", "a b")
    assert(!Dissect(ev, "m", "%{x},%{y}", tagOnFailure = Seq("_dissectfailure_1")))
    assert(ev.hasTag("_dissectfailure_1"))
    assert(ev.get("x").isEmpty) // staged writes not committed on failure
  }

  test("append %{+field} joins with space") {
    val ev = new Event
    ev.set("m", "2020/10/11 22:14:15 rest")
    assert(Dissect(ev, "m", "%{+when} %{+when} %{rest}"))
    assert(ev.getString("when").contains("2020/10/11 22:14:15"))
  }
}

class KvSpec extends AnyFunSuite {
  test("cef-style kv with target + trim_key (ref palo.alto.fw.conf:116-122)") {
    val ev = new Event
    ev.set("somedata", "$src=10.1.2.3;$dst=8.8.4.4; spt=123;act=allow")
    Kv(ev, "somedata", ';', '=', target = "fw", trimKey = "$ ")
    assert(ev.getString("[fw][src]").contains("10.1.2.3"))
    assert(ev.getString("[fw][dst]").contains("8.8.4.4"))
    assert(ev.getString("[fw][spt]").contains("123"))
    assert(ev.getString("[fw][act]").contains("allow"))
  }

  test("duplicate keys promote to array; allow_duplicate_values=false dedups") {
    val ev = new Event
    ev.set("s", "k=a k=a k=b")
    Kv(ev, "s", ' ', '=', allowDuplicateValues = false)
    assert(ev.getString("[k][0]").contains("a"))
    assert(ev.getString("[k][1]").contains("b"))
    assert(ev.get("[k][2]").isEmpty)
  }
}

class SyslogPriSpec extends AnyFunSuite {
  test("pri 134 → local0/informational (ref 04_syslog_pri_ecs.conf)") {
    val ev = new Event
    ev.set("pri", "134")
    SyslogPri(ev)
    SyslogPri.toEcs(ev)
    assert(ev.get("pri").isEmpty)
    assert(ev.get("[log][syslog][facility][code]").contains(16L))
    assert(ev.getString("[log][syslog][facility][name]").contains("local0"))
    assert(ev.get("[log][syslog][severity][code]").contains(6L))
    assert(ev.getString("[log][syslog][severity][name]").contains("Informational"))
  }

  test("missing pri defaults to 13 (user-level notice)") {
    val ev = new Event
    SyslogPri(ev)
    assert(ev.get("[syslog_facility_code]").contains(1L))
    assert(ev.get("[syslog_severity_code]").contains(5L))
  }
}

class DatesSpec extends AnyFunSuite {
  test("UNIX epoch (ref api_network_aws.vpcflow.conf:27-30, sample 1605139197)") {
    assert(Dates.parseMulti("1605139197", Seq("UNIX")).contains(1605139197000L))
  }
  test("UNIX_MS") {
    assert(Dates.parseMulti("1605139197123", Seq("UNIX_MS")).contains(1605139197123L))
  }
  test("format list tried in order (ref palo.alto.fw.conf:457-463)") {
    val ms = Dates.parseMulti("2020/10/11 22:14:15",
      Seq("MMM d HH:mm:ss", "yyyy/MM/dd HH:mm:ss"), timezone = "GMT")
    assert(ms.contains(1602454455000L))
  }
  test("year-less syslog format uses injected default year") {
    val ms = Dates.parseMulti("Oct 11 22:14:15", Seq("MMM d HH:mm:ss", "MMM  d HH:mm:ss"),
      defaultYear = 2020)
    assert(ms.contains(1602454455000L))
  }
  test("ISO8601") {
    assert(Dates.parseMulti("2022-12-07T15:08:07.000-06:00", Seq("ISO8601"))
      .contains(1670447287000L))
  }
  test("all formats fail → None + caller tags") {
    val ev = new Event
    ev.set("f", "notadate")
    assert(!Dates(ev, "f", Seq("UNIX", "yyyy/MM/dd"), "t", tagOnFailure = Seq("_dateparsefailure_ec")))
    assert(ev.hasTag("_dateparsefailure_ec"))
  }
}

class JsonOpsSpec extends AnyFunSuite {
  test("parse into target (ref event_hub_audit_azure.event_hub_signin.conf:16-19)") {
    val ev = new Event
    ev.set("message", """{"records":[{"resultType":"0","callerIpAddress":"1.2.3.4"}]}""")
    assert(JsonOps.parse(ev, "message", "azure"))
    assert(ev.getString("[azure][records][0][resultType]").contains("0"))
    assert(ev.has("[azure][records][0]")) // the records[] array probe
  }
  test("json_encode round-trips a subtree (ref same file:26-29)") {
    val ev = new Event
    ev.set("[a][k]", "v")
    ev.set("[a][n]", 5L)
    assert(JsonOps.encode(ev, "a", "out"))
    assert(ev.getString("out").contains("""{"k":"v","n":5}"""))
  }
  test("malformed json tags _jsonparsefailure") {
    val ev = new Event
    ev.set("m", "{nope")
    assert(!JsonOps.parse(ev, "m", "t"))
    assert(ev.hasTag("_jsonparsefailure"))
  }
}

class MutateSpec extends AnyFunSuite {
  test("sprintf %{[a][b]} interpolation (ref 90_lookup_iana_protocol.conf:23-25)") {
    val ev = new Event
    ev.set("[destination][port]", "443")
    ev.set("[network][transport]", "tcp")
    assert(Mutate.sprintf(ev, "%{[destination][port]}/%{[network][transport]}") == "443/tcp")
  }
  test("gsub mac standardize idiom (ref 15_standardize_mac.conf:13-18)") {
    val ev = new Event
    ev.set("[source][mac]", "AA-BB-CC-01-02-03")
    Mutate.gsub(ev, "[source][mac]", "-", ":")
    Mutate.lowercase(ev, "[source][mac]")
    assert(ev.getString("[source][mac]").contains("aa:bb:cc:01:02:03"))
  }
  test("merge + dedup related idiom (ref 12_related_user.conf:17-37)") {
    val ev = new Event
    ev.mergeInto("[related][ip]", "1.1.1.1")
    ev.mergeInto("[related][ip]", "2.2.2.2")
    ev.mergeInto("[related][ip]", "1.1.1.1")
    Mutate.dedupArray(ev, "[related][ip]")
    assert(ev.getString("[related][ip][0]").contains("1.1.1.1"))
    assert(ev.getString("[related][ip][1]").contains("2.2.2.2"))
    assert(ev.get("[related][ip][2]").isEmpty)
  }
  test("convert integer-or-keep (ref 02_ecs_data_type.conf:110-120)") {
    val ev = new Event
    ev.set("p", "8080")
    Mutate.convert(ev, "p", "integer")
    assert(ev.get("p").contains(8080L))
  }
}

class NetSpec extends AnyFunSuite {
  test("cidr private list (ref 91_geoip.conf:11-15)") {
    assert(Net.isPrivate("10.1.2.3"))
    assert(Net.isPrivate("172.16.0.9"))
    assert(Net.isPrivate("172.31.255.1"))
    assert(Net.isPrivate("192.168.1.1"))
    assert(Net.isPrivate("169.254.10.10"))
    assert(Net.isPrivate("224.0.0.5"))
    assert(!Net.isPrivate("8.8.8.8"))
    assert(!Net.isPrivate("172.32.0.1"))
    assert(!Net.isPrivate("not.an.ip.x"))
  }
  test("ipv4 validity (ref 02_ecs_data_type.conf:130)") {
    assert(Net.isValidIpv4("255.255.255.255"))
    assert(!Net.isValidIpv4("256.1.1.1"))
    assert(!Net.isValidIpv4("1.2.3"))
    assert(!Net.isValidIpv4("1.2.3.4.5"))
  }
  test("tld longest-suffix split (ref 06_url.conf:82-85)") {
    assert(Net.splitDomain("www.example.co.uk").contains(("co.uk", "example.co.uk", "www")))
    assert(Net.splitDomain("a.b.example.com").contains(("com", "example.com", "a.b")))
    assert(Net.splitDomain("localhost").isEmpty)
  }
}

class DissectAppendSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("plain capture then %{+field} merges with space (palo date idiom)") {
    val ev = new graft.model.Event
    ev.set("m", "2020/10/11 22:14:15,rest")
    assert(graft.parse.Dissect(ev, "m", "%{date} %{+date},%{rest}"))
    assert(ev.getString("date").contains("2020/10/11 22:14:15"))
    assert(ev.getString("rest").contains("rest"))
  }

  test("%{+field} joins with the PRECEDING delimiter, not a hardcoded space") {
    val ev = new graft.model.Event
    ev.set("m", "a,b,c rest")
    assert(graft.parse.Dissect(ev, "m", "%{f},%{+f},%{+f} %{rest}"))
    assert(ev.getString("f").contains("a,b,c")) // Logstash dissect semantics
    assert(ev.getString("rest").contains("rest"))
  }

  test("explicit append_separator overrides the preceding delimiter") {
    val ev = new graft.model.Event
    ev.set("m", "a,b")
    assert(graft.parse.Dissect.compile("%{f},%{+f}", "|").extract(ev, "a,b"))
    assert(ev.getString("f").contains("a|b"))
  }
}

class CsvSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.Event
  import graft.parse.Csv
  test("positional columns + quotes + skip_empty (ref api_security_mcafee.mcp_v5.conf:16-22)") {
    val ev = new Event
    ev.set("message", """a,"with, comma",,"doubled "" quote",extra""")
    assert(Csv(ev, "message", Seq("c1", "[nested][c2]", "c3", "c4"), skipEmptyColumns = true))
    assert(ev.getString("c1").contains("a"))
    assert(ev.getString("[nested][c2]").contains("with, comma"))
    assert(ev.get("c3").isEmpty) // skipped empty
    assert(ev.getString("c4").contains("doubled \" quote"))
    assert(ev.getString("column5").contains("extra")) // beyond columns list
  }
}

class XmlSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.Event
  import graft.parse.Xml
  test("nested elements, repeated siblings → array, attributes (ref syslog_audit_trellix.epo.conf:18-22)") {
    val ev = new Event
    ev.set("m", """<epo><event id="7"><name>threat</name></event><ip>1.1.1.1</ip><ip>2.2.2.2</ip></epo>""")
    assert(Xml(ev, "m", "epo"))
    assert(ev.getString("[epo][event][id]").contains("7"))
    assert(ev.getString("[epo][event][name]").contains("threat"))
    assert(ev.getString("[epo][ip][0]").contains("1.1.1.1"))
    assert(ev.getString("[epo][ip][1]").contains("2.2.2.2"))
  }
  test("malformed xml tags _xmlparsefailure") {
    val ev = new Event
    ev.set("m", "<broken")
    assert(!Xml(ev, "m", "t"))
    assert(ev.hasTag("_xmlparsefailure"))
  }
}

class RegistryCompileSpec extends org.scalatest.funsuite.AnyFunSuite {
  // the analogue of the reference CI's `logstash --config.test_and_exit`
  // (ref: .github/workflows/main.yml:104-106): every configured technology
  // has a program and vice versa; every program's patterns compile.
  test("registry configs and programs are consistent; all patterns compile") {
    import graft.rules.Registry
    assert(Registry.configs.keySet == Registry.programs.keySet)
    Registry.configs.values.foreach { c =>
      assert(c.outputs.nonEmpty)
      assert(Set("high", "medium", "low").contains(c.volumeClass))
    }
    // exercising each program against a benign line forces pattern compilation
    import graft.model.Event
    import graft.rules.ParseCtx
    Registry.programs.foreach { case (tech, prog) =>
      val ev = new Event
      ev.set("message", "compile probe")
      prog(ev, ParseCtx(0L, 1970)) // must not throw
    }
  }

  test("every technology config lists each sink at most once") {
    // Pipeline.sinkCounts counts before it fans out to sinks, which equals
    // fanning out first only while no sink is listed twice
    import graft.rules.Registry
    Registry.configs.foreach { case (tech, c) =>
      assert(c.outputs.distinct == c.outputs, s"$tech lists a sink twice: ${c.outputs}")
    }
  }

  test("every program's cardinality step counts what its deferred body finishes") {
    import graft.model.Event
    import graft.rules.{ParseCtx, Program, Registry}
    val ctx = ParseCtx(0L, 1970)
    def probe = { val ev = new Event; ev.set("message", "compile probe"); ev }
    Registry.programs.foreach { case (tech, prog) =>
      val step = prog.events(probe, ctx)
      val counted = Program.cardinality(step)
      val forced = Program.finish(step, ctx) // the deferred body must not throw
      assert(Program.cardinality(forced) == counted, tech)
      assert(Program.cardinality(prog(probe, ctx)) == counted, tech)
      if (!prog.splits) assert(counted == 1, tech)
    }
  }
}

class EnrichArraySpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.Event
  import graft.enrich.{Dicts, Enrich}
  import graft.rules.Registry
  import scala.collection.mutable
  private val dicts = Dicts.build()
  private val cfg = Registry.configs("cef.fw")
  private val ctx = Enrich.Ctx(1704067200000L, 2024)

  test("dns on multi-valued ip looks up only first two (ref 17_dns.conf:40-46)") {
    val ev = new Event
    ev.set("message", "m")
    ev.set("[destination][ip]", mutable.ArrayBuffer[Any]("192.168.1.5", "172.16.2.7", "192.168.3.9"))
    Enrich(ev, cfg, dicts, ctx)
    // resolved into destination.ADDRESS (ref dns target); array form skips
    // the host-split downstream (it only splits scalars)
    assert(ev.getString("[destination][address][0]").contains("ptr-192-168-1-5.internal"))
    assert(ev.getString("[destination][address][1]").contains("ptr-172-16-2-7.internal"))
    assert(ev.get("[destination][address][2]").isEmpty) // third ip NOT looked up
  }

  test("mitre translate iterate_on over array ids with fallback (ref 93_mitre.conf:21-30)") {
    val ev = new Event
    ev.set("message", "m")
    ev.set("[threat][tactic][id]", mutable.ArrayBuffer[Any]("TA0001", "TA9999", "ta0002"))
    Enrich(ev, cfg, dicts, ctx)
    assert(ev.getString("[threat][tactic][name][0]").contains("initial access"))
    assert(ev.getString("[threat][tactic][name][1]").contains("new/deprecated mitre tactic"))
    assert(ev.getString("[threat][tactic][name][2]").contains("execution"))
    assert(ev.getString("[threat][tactic][reference][0]").contains("https://attack.mitre.org/tactics/TA0001/"))
  }

  test("ECS nested projection exposes struct families") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val parsed = SparkEntry.parsed(spark, "/root/testdata/sf0.001")
    val ecs = graft.pipeline.Ecs.project(parsed)
    val f = ecs.schema.fieldNames.toSet
    assert(Set("event", "source", "destination", "network", "log", "user",
      "url", "related", "@timestamp").subsetOf(f))
    assert(ecs.schema("event").dataType.asInstanceOf[StructType]
      .fieldNames.contains("dataset"))
    // every column with a path is exactly one leaf of the view, at that path
    def leaves(st: StructType, at: Seq[String]): Seq[Seq[String]] = st.fields.toSeq.flatMap { f =>
      f.dataType match {
        case s: StructType => leaves(s, at :+ f.name)
        case _ => Seq(at :+ f.name)
      }
    }
    val got = leaves(ecs.schema, Nil)
    val paths = graft.model.Columns.all.filter(_.path != null).map(c => Event.parsePath(c.path))
    assert(got.size == graft.model.Columns.all.size)
    paths.foreach(p => assert(got.count(_ == p) == 1, p.mkString(".")))
    // nested leaves carry the flat columns' values (ua_os_name is null on
    // every sf0.001 row, so the populated ua_os_family rides along)
    val flat = parsed.select(col("event_dataset"), col("ua_os_name"), col("ua_os_family"))
    val nested = ecs.select(col("event.dataset"), col("user_agent.os.name"), col("user_agent.os.family"))
    assert(flat.filter(col("event_dataset").isNotNull && col("ua_os_family").isNotNull).count() > 0)
    assert(flat.exceptAll(nested).count() == 0 && nested.exceptAll(flat).count() == 0)
    assert(ecs.count() > 0)
  }
}

class IdempotenceSpec extends org.scalatest.funsuite.AnyFunSuite {
  // SURVEY §5 property (ii): normalization enrichments are idempotent —
  // re-running the chain on an already-enriched event is a no-op for
  // mac standardize / lowercase / truncate
  import graft.model.Event
  import graft.parse.Mutate
  test("mac standardize and lowercase are idempotent") {
    val ev = new Event
    ev.set("[source][mac]", "AA-BB-CC-DD-01-02")
    ev.set("[event][category]", "TRAFFIC")
    def pass(): Unit = {
      Mutate.gsub(ev, "[source][mac]", "-", ":")
      Mutate.lowercase(ev, "[source][mac]")
      Mutate.lowercase(ev, "[event][category]")
    }
    pass()
    val m1 = ev.getString("[source][mac]")
    val c1 = ev.getString("[event][category]")
    pass()
    assert(ev.getString("[source][mac]") == m1)
    assert(ev.getString("[event][category]") == c1)
    assert(m1.contains("aa:bb:cc:dd:01:02") && c1.contains("traffic"))
  }
  test("truncate walk is idempotent") {
    val ev = new Event
    ev.set("[a][long]", "x" * 5000)
    def walkOnce(): Unit = ev.walk { (_: String, v: Any) =>
      v match {
        case s: String if s.length > 1023 => s.substring(0, 1023)
        case o => o
      }
    }
    walkOnce()
    val v1 = ev.getString("[a][long]")
    walkOnce()
    assert(ev.getString("[a][long]") == v1 && v1.get.length == 1023)
  }
}

class MutateUpdateReplaceSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.Event
  import graft.parse.Mutate
  test("update only touches existing fields; replace always sets") {
    val ev = new Event
    ev.set("a", "1")
    Mutate.update(ev, "a", "v-%{a}")
    Mutate.update(ev, "missing", "x")
    Mutate.replace(ev, "b", "w-%{a}")
    assert(ev.getString("a").contains("v-1"))
    assert(ev.get("missing").isEmpty)
    assert(ev.getString("b").contains("w-v-1"))
  }
}

class PaloSplitSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.Event
  import graft.rules.{ParseCtx, Parsed, Registry}
  test("bare split{} on newline: multi-line palo datagram -> one event per line (ref palo.alto.fw.conf:27)") {
    val line1 = "<134>Aug 16 10:00:00 fw1 1,2026/08/16 10:00:00,001,TRAFFIC,end,1,2026/08/16 10:00:00," +
      "10.1.2.3,172.16.0.5,0.0.0.0,0.0.0.0,rule-allow,,,tcp,allow,1024,443,100,5,6"
    val line2 = "<134>Aug 16 10:00:01 fw2 garbage line"
    val ev = new Event
    ev.set("message", line1 + "\n" + line2)
    Registry.programs("palo.alto.fw")(ev, ParseCtx(1765879200000L, 2026)) match {
      case Parsed(events) =>
        assert(events.size == 2)
        assert(events(0).getString("[source][ip]").contains("10.1.2.3"))
        assert(events(0).getString("[agent][parse_rule]").contains("Rule 3"))
        assert(events(1).getString("[agent][parse_rule]").contains("not parsed"))
        assert(events(1).hasTag("_parse_failure") && !events(0).hasTag("_parse_failure"))
      case other => fail(s"unexpected $other")
    }
  }
}

class WindowsRulesSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.Event
  import graft.rules.{ParseCtx, Parsed, Registry}
  test("4769 ticket-option bit flags decode to service.type array (ref wef_audit_windows.events.conf:325-360)") {
    val ev = new Event
    // 0x40810000 = Forwardable | Renewable | Name-canonicalize
    ev.set("message",
      """{"message":"A Kerberos service ticket was requested. Failure Code:0x12Transited Services: -","winlog":{"channel":"Security","event_id":4769,"keywords":"Audit Failure","computer_name":"dc1.corp.example","event_data":{"TicketOptions":"0x40810000","TicketEncryptionType":"0x17","IpAddress":"::ffff:10.1.2.3","IpPort":"50321"}}}""")
    Registry.programs("windows.events")(ev, ParseCtx(1765879200000L, 2026)) match {
      case Parsed(Seq(e)) =>
        assert(e.getString("[service][type][0]").contains("Forwardable"))
        assert(e.getString("[service][type][1]").contains("Renewable"))
        assert(e.getString("[service][type][2]").contains("Name-canonicalize"))
        assert(e.get("[service][type][3]").isEmpty)
        assert(e.getString("[tls][cipher]").contains("RC4-HMAC"))
        assert(e.getString("[event][reason]").contains("Clients credentials have been revoked"))
        assert(e.getString("[source][ip]").contains("10.1.2.3")) // ::ffff: stripped
      case other => fail(s"unexpected $other")
    }
  }
}
