package graft.rules

import graft.model.Event
import graft.parse._
import scala.collection.mutable

/** Per-technology pipeline compilation config — the Spark analogue of the
  * reference's settings.json entry per log source (elastic index name, output
  * list, enrichments opt-out; ref: build_scripts/README.md:121-137,177-199). */
final case class TechnologyConfig(
  tech: String,
  indexName: String,
  outputs: Vector[String],
  disabledEnrichments: Set[String],
  volumeClass: String, // high|medium|low — maps to the 8/4/2-worker classes
  jsonCodec: Boolean = false // kafka_input.codec == "json" (settings.json)
)

/** Outcome of a parse program. `Dropped` mirrors the `drop {}` filter;
  * `Parsed` carries 1..N finished events (N>1 only on envelope splits);
  * `Pending` carries them with the program's 1:1 rest still to run. */
sealed trait ParseOutcome
case object Dropped extends ParseOutcome
final case class Parsed(events: Seq[Event]) extends ParseOutcome
/** The events a program's cardinality step yields, each still owed `body`.
  * Typed `Unit`, a body can neither drop its event nor add one, so
  * `events.size` is the turn's event count before any body runs. */
final case class Pending(events: Seq[Event], body: (Event, ParseCtx) => Unit) extends ParseOutcome

/** A parse program, split at its last cardinality decision. `step` holds
  * the drop guards and the splits: it returns `Dropped` or the turn's
  * events, `Pending` their 1:1 rest (or `Parsed` for a program left whole).
  * A program with no such decision has no step and is all `body`: it keeps
  * the one event the kernel preamble made. Applied as a function, a program
  * runs whole and returns `Dropped` or `Parsed`. */
final class Program private (step: (Event, ParseCtx) => ParseOutcome,
                             body: (Event, ParseCtx) => Unit)
    extends ((Event, ParseCtx) => ParseOutcome) {
  /** Whether the program can yield other than exactly one event. */
  def splits: Boolean = step != null

  /** The cardinality step alone. */
  def events(ev: Event, ctx: ParseCtx): ParseOutcome =
    if (step == null) Pending(ev :: Nil, body) else step(ev, ctx)

  def apply(ev: Event, ctx: ParseCtx): ParseOutcome = Program.finish(events(ev, ctx), ctx)
}

object Program {
  /** A program with no cardinality step. */
  def apply(body: (Event, ParseCtx) => Unit): Program = new Program(null, body)

  /** A program whose `step` drops or splits. */
  def split(step: (Event, ParseCtx) => ParseOutcome): Program = new Program(step, null)

  /** Runs a pending body on each event, in order. */
  def finish(outcome: ParseOutcome, ctx: ParseCtx): ParseOutcome = outcome match {
    case Pending(events, body) => events.foreach(body(_, ctx)); Parsed(events)
    case done => done
  }

  def cardinality(outcome: ParseOutcome): Int = outcome match {
    case Dropped => 0
    case Parsed(events) => events.size
    case Pending(events, _) => events.size
  }
}

/** Context handed to programs: deterministic clock material (no Time.now —
  * SURVEY.md §7.4 #4). */
final case class ParseCtx(tsMillis: Long, tsYear: Int)

/** Technology-keyed registry of parse programs (SURVEY.md §2.5 "rule
  * registry"): an ordered ladder per technology, with cheap substring
  * pre-filters before regex dispatch — mirroring the reference's
  * most-common-first if/else-if ladders with `break` on first match
  * (ref: config/processors/syslog_security_palo.alto.fw.conf:26-110).
  */
object Registry {

  val configs: Map[String, TechnologyConfig] = Map(
    "palo.alto.fw" -> TechnologyConfig("palo.alto.fw", "logs-palo.alto.fw",
      Vector("elastic", "s3"), Set.empty, "high"),
    "aws.vpcflow" -> TechnologyConfig("aws.vpcflow", "logs-aws.vpcflow",
      Vector("s3"), Set("dns"), "high"),
    "linux.rsyslog" -> TechnologyConfig("linux.rsyslog", "logs-linux.rsyslog",
      Vector("elastic"), Set.empty, "medium"),
    "cef.fw" -> TechnologyConfig("cef.fw", "logs-cef.fw",
      Vector("elastic", "s3"), Set.empty, "medium"),
    "azure.signin" -> TechnologyConfig("azure.signin", "logs-azure.signin",
      Vector("elastic"), Set.empty, "low"),
    "mcafee.mcp" -> TechnologyConfig("mcafee.mcp", "logs-mcafee.mcp",
      Vector("s3"), Set.empty, "low"),
    "trellix.epo" -> TechnologyConfig("trellix.epo", "logs-trellix.epo",
      Vector("elastic"), Set.empty, "low"),
    "cisco.switch" -> TechnologyConfig("cisco.switch", "logs-cisco.switch",
      Vector("elastic"), Set.empty, "high"),
    "okta.audit" -> TechnologyConfig("okta.audit", "logs-okta.audit",
      Vector("elastic"), Set.empty, "low"),
    "aws.cloudtrail" -> TechnologyConfig("aws.cloudtrail", "logs-aws.cloudtrail",
      Vector("elastic", "s3"), Set.empty, "medium"),
    "windows.events" -> TechnologyConfig("windows.events", "logs-windows.events",
      Vector("elastic"), Set.empty, "high"),
    "proofpoint.siem_clicks" -> TechnologyConfig("proofpoint.siem_clicks",
      "logs-proofpoint.siem_clicks", Vector("elastic"), Set.empty, "low"),
    "azure.atp" -> TechnologyConfig("azure.atp", "logs-azure.atp",
      Vector("elastic"), Set.empty, "low"),
    "proofpoint.siem_messages" -> TechnologyConfig("proofpoint.siem_messages",
      "logs-proofpoint.siem_messages", Vector("elastic"), Set.empty, "low"),
    "aws.elb" -> TechnologyConfig("aws.elb", "logs-aws.elb",
      Vector("elastic", "s3"), Set.empty, "high"),
    "snowflake.signin" -> TechnologyConfig("snowflake.signin",
      "logs-snowflake.signin", Vector("elastic"), Set.empty, "low"),
    "snowflake.failed_login" -> TechnologyConfig("snowflake.failed_login",
      "logs-snowflake.failed_login", Vector("elastic"), Set.empty, "low"),
    "azure.officeactivity" -> TechnologyConfig("azure.officeactivity",
      "logs-azure.officeactivity", Vector("elastic"), Set.empty, "medium"),
    "cisco.ise" -> TechnologyConfig("cisco.ise", "logs-cisco.ise",
      Vector("elastic", "s3"), Set.empty, "high"),
    "iis.w3c" -> TechnologyConfig("iis.w3c", "logs-iis.w3c",
      Vector("elastic"), Set.empty, "medium"),
    "hadoop.hdfs_audit" -> TechnologyConfig("hadoop.hdfs_audit",
      "logs-hadoop.hdfs_audit", Vector("elastic"), Set.empty, "medium"),
    "f5.loadbalancer" -> TechnologyConfig("f5.loadbalancer",
      "logs-f5.loadbalancer", Vector("elastic", "s3"), Set.empty, "high"),
    "aws.cloudfront" -> TechnologyConfig("aws.cloudfront",
      "logs-aws.cloudfront", Vector("elastic", "s3"), Set.empty, "high"),
    "cisco.netflow" -> TechnologyConfig("cisco.netflow",
      "logs-cisco.netflow", Vector("s3"), Set("dns"), "high"),
    "aws.guardduty" -> TechnologyConfig("aws.guardduty",
      "logs-aws.guardduty", Vector("elastic"), Set.empty, "low"),
    "azure.securityalert" -> TechnologyConfig("azure.securityalert",
      "logs-azure.securityalert", Vector("elastic"), Set.empty, "low"),
    "linux.host" -> TechnologyConfig("linux.host", "logs-linux.syslog",
      Vector("elastic"), Set.empty, "high"),
    "checkpoint.fw" -> TechnologyConfig("checkpoint.fw", "logs-checkpoint.fw",
      Vector("elastic", "s3"), Set.empty, "high"),
    "github.audit" -> TechnologyConfig("github.audit", "logs-github.audit",
      Vector("elastic"), Set.empty, "low"),
    "citrix.session" -> TechnologyConfig("citrix.session", "logs-citrix.session",
      Vector("elastic"), Set.empty, "low"),
    "cisco.meraki.fw" -> TechnologyConfig("cisco.meraki.fw",
      "logs-cisco.meraki.fw", Vector("elastic", "s3"), Set.empty, "high"),
    "proofpoint.trap" -> TechnologyConfig("proofpoint.trap",
      "logs-proofpoint.trap", Vector("elastic"), Set.empty, "low"),
    "aws.securityhub" -> TechnologyConfig("aws.securityhub",
      "logs-aws.securityhub", Vector("elastic"), Set.empty, "low"),
    "a10.proxy" -> TechnologyConfig("a10.proxy", "logs-a10.proxy",
      Vector("elastic"), Set.empty, "medium", jsonCodec = true),
    "entrust.mpki.cmpv2" -> TechnologyConfig("entrust.mpki.cmpv2",
      "logs-entrust.mpki.cmpv2", Vector("elastic"), Set.empty, "low"),
    "cisco.mso" -> TechnologyConfig("cisco.mso", "logs-cisco.mso",
      Vector("elastic"), Set.empty, "low"),
    "sap.t-codes" -> TechnologyConfig("sap.t-codes", "logs-sap.t-codes",
      Vector("elastic"), Set.empty, "low"),
    "cisco.riverbed.stdout" -> TechnologyConfig("cisco.riverbed.stdout",
      "logs-cisco.riverbed.stdout", Vector("elastic"), Set.empty, "low"),
    "oci.vcn" -> TechnologyConfig("oci.vcn", "logs-oci.vcn",
      Vector("elastic"), Set.empty, "high"),
    "aix.rsyslog" -> TechnologyConfig("aix.rsyslog", "logs-aix.rsyslog",
      Vector("elastic"), Set.empty, "medium"),
    "as400.audit" -> TechnologyConfig("as400.audit", "logs-as400.audit",
      Vector("elastic"), Set.empty, "low"),
    "dell.drac" -> TechnologyConfig("dell.drac", "logs-dell.drac",
      Vector("elastic"), Set.empty, "low"),
    "checkpoint.fw_audit" -> TechnologyConfig("checkpoint.fw_audit",
      "logs-checkpoint.fw_audit", Vector("elastic"), Set.empty, "medium"),
    "hadoop.hms_audit" -> TechnologyConfig("hadoop.hms_audit",
      "logs-hadoop.hms_audit", Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "ansible.audit" -> TechnologyConfig("ansible.audit", "logs-ansible.audit",
      Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "azure.mcas" -> TechnologyConfig("azure.mcas", "logs-azure.mcas",
      Vector("elastic"), Set.empty, "low"),
    "redhat.syslog" -> TechnologyConfig("redhat.syslog", "logs-redhat.syslog",
      Vector("elastic"), Set.empty, "medium"),
    "virtustream.trendmicro" -> TechnologyConfig("virtustream.trendmicro",
      "logs-virtustream.trendmicro", Vector("elastic"), Set.empty, "medium"),
    "rsa.auth" -> TechnologyConfig("rsa.auth", "logs-rsa.auth",
      Vector("elastic"), Set.empty, "medium"),
    "vuln.gitguardian_api" -> TechnologyConfig("vuln.gitguardian_api",
      "logs-vuln.gitguardian_api", Vector("elastic"), Set.empty, "low"),
    "github.ghe" -> TechnologyConfig("github.ghe", "logs-github.ghe",
      Vector("elastic"), Set.empty, "low"),
    "oci.audit" -> TechnologyConfig("oci.audit", "logs-oci.audit",
      Vector("elastic"), Set.empty, "medium"),
    "aws.cloudflare" -> TechnologyConfig("aws.cloudflare", "logs-aws.cloudflare",
      Vector("elastic"), Set.empty, "high"),
    "known_good_file_hash.nist" -> TechnologyConfig("known_good_file_hash.nist",
      "logs-known_good_file_hash.nist", Vector("elastic"), Set.empty, "low"),
    "sysdig.scan.api" -> TechnologyConfig("sysdig.scan.api",
      "logs-sysdig.scan.api", Vector("elastic"), Set.empty, "low"),
    "kafka.error" -> TechnologyConfig("kafka.error", "logs-kafka.error",
      Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "syncplicity.admin_logs" -> TechnologyConfig("syncplicity.admin_logs",
      "logs-syncplicity.admin_logs", Vector("elastic"), Set.empty, "low"),
    "syncplicity.user_logs" -> TechnologyConfig("syncplicity.user_logs",
      "logs-syncplicity.user_logs", Vector("elastic"), Set.empty, "low"),
    "security_scorecard.company_scores" -> TechnologyConfig("security_scorecard.company_scores",
      "logs-security_scorecard.company_scores", Vector("elastic"), Set.empty, "low"),
    "tanium.agent" -> TechnologyConfig("tanium.agent", "logs-tanium.agent",
      Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "rundeck.agent" -> TechnologyConfig("rundeck.agent", "logs-rundeck.agent",
      Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "hadoop.agent" -> TechnologyConfig("hadoop.agent", "logs-hadoop.agent",
      Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "elasticsearch.audit" -> TechnologyConfig("elasticsearch.audit",
      "logs-elasticsearch.audit", Vector("elastic"), Set.empty, "low", jsonCodec = true),
    "unidentified" -> TechnologyConfig("unidentified", "logs-unidentified",
      Vector("elastic"), Set.empty, "low"),
    "cisco.meraki.wap" -> TechnologyConfig("cisco.meraki.wap",
      "logs-cisco.meraki.wap", Vector("elastic"), Set.empty, "low"),
    "cisco.meraki.router" -> TechnologyConfig("cisco.meraki.router",
      "logs-cisco.meraki.router", Vector("elastic"), Set.empty, "low"),
    "cisco.satellite" -> TechnologyConfig("cisco.satellite",
      "logs-cisco.satellite", Vector("elastic"), Set.empty, "low"),
    "cisco.wireless.bridge" -> TechnologyConfig("cisco.wireless.bridge",
      "logs-cisco.wireless.bridge", Vector("elastic"), Set.empty, "low"),
    "cisco.prime" -> TechnologyConfig("cisco.prime", "logs-cisco.prime",
      Vector("elastic"), Set.empty, "low"),
    "cisco.riverbed.amauth" -> TechnologyConfig("cisco.riverbed.amauth",
      "logs-cisco.riverbed.amauth", Vector("elastic"), Set.empty, "low"),
    "securityonion.zeek" -> TechnologyConfig("securityonion.zeek",
      "logs-securityonion.zeek", Vector("elastic"), Set.empty, "high", jsonCodec = true),
    "securityonion.suricata" -> TechnologyConfig("securityonion.suricata",
      "logs-securityonion.suricata", Vector("elastic"), Set.empty, "high"),
    "apache.access" -> TechnologyConfig("apache.access",
      "logs-apache.access", Vector("elastic"), Set.empty, "medium"),
    "azure.eventhub.o365_dlp" -> TechnologyConfig("azure.eventhub.o365_dlp",
      "logs-azure.eventhub.o365_dlp", Vector("elastic"), Set.empty, "low"),
    "azure.eventhub.o365.msg_tracking" -> TechnologyConfig("azure.eventhub.o365.msg_tracking",
      "logs-azure.eventhub.o365.msg_tracking", Vector("elastic"), Set.empty, "medium"),
    "azure.fwflow" -> TechnologyConfig("azure.fwflow",
      "logs-azure.fwflow", Vector("elastic"), Set.empty, "high"),
    "proofpoint.pod" -> TechnologyConfig("proofpoint.pod",
      "logs-proofpoint.pod", Vector("elastic"), Set.empty, "medium"),
    "misp.metrics" -> TechnologyConfig("misp.metrics",
      "logs-misp.metrics", Vector("elastic"), Set.empty, "low"),
    "infoblox.ipam_audit" -> TechnologyConfig("infoblox.ipam_audit",
      "logs-infoblox.ipam_audit", Vector("elastic"), Set.empty, "high"),
    "juniper.fw_traffic" -> TechnologyConfig("juniper.fw_traffic",
      "logs-juniper.fw_traffic", Vector("elastic"), Set.empty, "high"),
    "symantec.endpoint_protection" -> TechnologyConfig("symantec.endpoint_protection",
      "logs-symantec.endpoint_protection", Vector("elastic"), Set.empty, "high"),
    "azure.eventhub.insights_audit" -> TechnologyConfig("azure.eventhub.insights_audit",
      "logs-azure.eventhub.insights_audit", Vector("elastic"), Set.empty, "medium"),
    "azure.eventhub.insights_operational" -> TechnologyConfig("azure.eventhub.insights_operational",
      "logs-azure.eventhub.insights_operational", Vector("elastic"), Set.empty, "low"),
    "azure.audit" -> TechnologyConfig("azure.audit", "logs-azure.audit",
      Vector("elastic"), Set.empty, "medium"),
    "azure.riskyuser" -> TechnologyConfig("azure.riskyuser", "logs-azure.riskyuser",
      Vector("elastic"), Set.empty, "low"),
    "azure.emailevents" -> TechnologyConfig("azure.emailevents", "logs-azure.emailevents",
      Vector("elastic"), Set.empty, "medium"),
    "azure.userriskevents" -> TechnologyConfig("azure.userriskevents",
      "logs-azure.userriskevents", Vector("elastic"), Set.empty, "low"),
    "azure.securityincident" -> TechnologyConfig("azure.securityincident",
      "logs-azure.securityincident", Vector("elastic"), Set.empty, "low"),
    "azure.anomalies" -> TechnologyConfig("azure.anomalies", "logs-azure.anomalies",
      Vector("elastic"), Set.empty, "low"),
    "azure.interactivesignin" -> TechnologyConfig("azure.interactivesignin",
      "logs-azure.interactivesignin", Vector("elastic"), Set.empty, "high"),
    "citrix.netscaler" -> TechnologyConfig("citrix.netscaler",
      "logs-citrix.netscaler", Vector("elastic"), Set.empty, "high"),
    "juniper_pulse.ssl.vpn" -> TechnologyConfig("juniper_pulse.ssl.vpn",
      "logs-juniper_pulse.ssl.vpn", Vector("elastic"), Set.empty, "medium"),
    "tanium" -> TechnologyConfig("tanium",
      "logs-tanium", Vector("elastic"), Set.empty, "medium"),
    "guardium.db" -> TechnologyConfig("guardium.db",
      "logs-guardium.db", Vector("elastic"), Set.empty, "medium"),
    "sdwan.app" -> TechnologyConfig("sdwan.app",
      "logs-sdwan.app", Vector("elastic"), Set.empty, "medium"),
    "skyhigh.security.mgr" -> TechnologyConfig("skyhigh.security.mgr",
      "logs-skyhigh.security.mgr", Vector("elastic"), Set.empty, "medium"),
    "skyhigh.swg" -> TechnologyConfig("skyhigh.swg",
      "logs-skyhigh.swg", Vector("elastic", "s3"), Set.empty, "high"),
    "skyhigh.scp" -> TechnologyConfig("skyhigh.scp",
      "logs-skyhigh.scp", Vector("elastic"), Set.empty, "medium"),
    "forescout.counteract.nac" -> TechnologyConfig("forescout.counteract.nac",
      "logs-forescout.counteract.nac", Vector("elastic"), Set.empty, "medium"),
    "cisco.dna" -> TechnologyConfig("cisco.dna",
      "logs-cisco.dna", Vector("elastic"), Set.empty, "medium"),
    "f5.big.ip.gtm.dns" -> TechnologyConfig("f5.big.ip.gtm.dns",
      "logs-f5.big.ip.gtm.dns", Vector("elastic"), Set.empty, "medium"),
    "lieberman.random.pass.mgr" -> TechnologyConfig("lieberman.random.pass.mgr",
      "logs-lieberman.random.pass.mgr", Vector("elastic"), Set.empty, "low"),
    "snmp.forescout" -> TechnologyConfig("snmp.forescout",
      "logs-snmp.forescout", Vector("elastic"), Set.empty, "low"),
    "tenable.nessus_scanner" -> TechnologyConfig("tenable.nessus_scanner",
      "logs-tenable.nessus_scanner", Vector("elastic"), Set.empty, "low"),
    "tenable.security_center" -> TechnologyConfig("tenable.security_center",
      "logs-tenable.security_center", Vector("elastic"), Set.empty, "low"),
    "tenable.sc_api" -> TechnologyConfig("tenable.sc_api",
      "logs-tenable.sc_api", Vector("elastic"), Set.empty, "low"),
    "tenable.asm_api" -> TechnologyConfig("tenable.asm_api",
      "logs-tenable.asm_api", Vector("elastic"), Set.empty, "low"),
    "layer7.securespan.soa.gw" -> TechnologyConfig("layer7.securespan.soa.gw",
      "logs-layer7.securespan.soa.gw", Vector("elastic"), Set.empty, "medium"),
    "microsoft.ata" -> TechnologyConfig("microsoft.ata",
      "logs-microsoft.ata", Vector("elastic"), Set.empty, "low"),
    "spectracom.ntp" -> TechnologyConfig("spectracom.ntp",
      "logs-spectracom.ntp", Vector("elastic"), Set.empty, "low"),
    "sdwan.os_ubuntu" -> TechnologyConfig("sdwan.os_ubuntu",
      "logs-sdwan.os_ubuntu", Vector("elastic"), Set.empty, "low"),
    "a10.waf" -> TechnologyConfig("a10.waf",
      "logs-a10.waf", Vector("elastic", "s3"), Set.empty, "medium"),
    "cisco.router" -> TechnologyConfig("cisco.router",
      "logs-cisco.router", Vector("elastic"), Set.empty, "high"),
    "cisco.apic" -> TechnologyConfig("cisco.apic",
      "logs-cisco.apic", Vector("elastic"), Set.empty, "medium"),
    "cisco.stealthwatch" -> TechnologyConfig("cisco.stealthwatch",
      "logs-cisco.stealthwatch", Vector("elastic"), Set.empty, "medium"),
    "accellion.sft" -> TechnologyConfig("accellion.sft",
      "logs-accellion.sft", Vector("elastic"), Set.empty, "low"),
    "sap.onapsis" -> TechnologyConfig("sap.onapsis",
      "logs-sap.onapsis", Vector("elastic"), Set.empty, "low"),
    "symantec.dlp" -> TechnologyConfig("symantec.dlp",
      "logs-symantec.dlp", Vector("elastic"), Set.empty, "low"),
    "cisco.aci" -> TechnologyConfig("cisco.aci",
      "logs-cisco.aci", Vector("elastic"), Set.empty, "medium"),
    "cisco.wireless.controller" -> TechnologyConfig("cisco.wireless.controller",
      "logs-cisco.wireless.controller", Vector("elastic"), Set.empty, "medium"),
    "azure.eventhub.atp" -> TechnologyConfig("azure.eventhub.atp",
      "logs-azure.eventhub.atp", Vector("elastic"), Set.empty, "medium"),
    "azure.eventhub.security" -> TechnologyConfig("azure.eventhub.security",
      "logs-azure.eventhub.security", Vector("elastic"), Set.empty, "low"),
    "azure.graph_data" -> TechnologyConfig("azure.graph_data",
      "logs-azure.graph_data", Vector("elastic"), Set.empty, "medium"),
    "riverbed.netim" -> TechnologyConfig("riverbed.netim",
      "logs-riverbed.netim", Vector("elastic"), Set.empty, "low"),
    "aws.app" -> TechnologyConfig("aws.app",
      "logs-aws.app", Vector("elastic"), Set.empty, "medium"),
    "tanium.inventory" -> TechnologyConfig("tanium.inventory",
      "logs-tanium.inventory", Vector("elastic"), Set.empty, "low"),
    "virtustream.linux" -> TechnologyConfig("virtustream.linux",
      "logs-virtustream.linux", Vector("elastic"), Set.empty, "medium"),
    "pingfederate.auth" -> TechnologyConfig("pingfederate.auth",
      "logs-pingfederate.auth", Vector("elastic"), Set.empty, "medium"),
    "cisco.riverbed.audit" -> TechnologyConfig("cisco.riverbed.audit",
      "logs-cisco.riverbed.audit", Vector("elastic"), Set.empty, "low"),
    "cisco.riverbed.vnes_analytics" -> TechnologyConfig("cisco.riverbed.vnes_analytics",
      "logs-cisco.riverbed.vnes_analytics", Vector("elastic"), Set.empty, "low"),
    "cisco.riverbed.scportal" -> TechnologyConfig("cisco.riverbed.scportal",
      "logs-cisco.riverbed.scportal", Vector("elastic"), Set.empty, "low"),
    "cisco.riverbed.opnetreport" -> TechnologyConfig("cisco.riverbed.opnetreport",
      "logs-cisco.riverbed.opnetreport", Vector("elastic"), Set.empty, "low"),
    "ubiquiti.wireless.bridge.session" -> TechnologyConfig("ubiquiti.wireless.bridge.session",
      "logs-ubiquiti.wireless.bridge.session", Vector("elastic"), Set.empty, "low"),
    "ubiquiti.controller" -> TechnologyConfig("ubiquiti.controller",
      "logs-ubiquiti.controller", Vector("elastic"), Set.empty, "medium"),
    "cisco.wireless.access_point" -> TechnologyConfig("cisco.wireless.access_point",
      "logs-cisco.wireless.access_point", Vector("elastic"), Set.empty, "medium"),
    "cisco.waas" -> TechnologyConfig("cisco.waas",
      "logs-cisco.waas", Vector("elastic"), Set.empty, "medium"),
    "apache" -> TechnologyConfig("apache",
      "logs-apache", Vector("elastic"), Set.empty, "medium"),
    "apache.audit" -> TechnologyConfig("apache.audit",
      "logs-apache.audit", Vector("elastic"), Set.empty, "low"),
    "mwg.proxy.audit" -> TechnologyConfig("mwg.proxy.audit",
      "logs-mwg.proxy.audit", Vector("elastic"), Set.empty, "medium"),
    "iis" -> TechnologyConfig("iis",
      "logs-iis", Vector("elastic"), Set.empty, "medium"),
    "jira" -> TechnologyConfig("jira",
      "logs-jira", Vector("elastic"), Set.empty, "medium"),
    "jira.audit" -> TechnologyConfig("jira.audit",
      "logs-jira.audit", Vector("elastic"), Set.empty, "low"),
    "beyondtrust.secure_remote_mngt" -> TechnologyConfig("beyondtrust.secure_remote_mngt",
      "logs-beyondtrust.secure_remote_mngt", Vector("elastic"), Set.empty, "low"),
    "tufin.fw_acl_manager" -> TechnologyConfig("tufin.fw_acl_manager",
      "logs-tufin.fw_acl_manager", Vector("elastic"), Set.empty, "low"),
    "hp.nnm_audit" -> TechnologyConfig("hp.nnm_audit",
      "logs-hp.nnm_audit", Vector("elastic"), Set.empty, "low"),
    "oci.cloudguard" -> TechnologyConfig("oci.cloudguard",
      "logs-oci.cloudguard", Vector("elastic"), Set.empty, "low"),
    "oci.object" -> TechnologyConfig("oci.object",
      "logs-oci.object", Vector("elastic"), Set.empty, "medium"),
    "jamf.endpoint_protection" -> TechnologyConfig("jamf.endpoint_protection",
      "logs-jamf.endpoint_protection", Vector("elastic"), Set.empty, "low"),
    "sap.btp" -> TechnologyConfig("sap.btp",
      "logs-sap.btp", Vector("elastic"), Set.empty, "low"),
    "o365.dlp" -> TechnologyConfig("o365.dlp",
      "logs-o365.dlp", Vector("elastic"), Set.empty, "low"),
    "azure.graph_identity_protection" -> TechnologyConfig("azure.graph_identity_protection",
      "logs-azure.graph_identity_protection", Vector("elastic"), Set.empty, "low"),
    "security_scorecard.events" -> TechnologyConfig("security_scorecard.events",
      "logs-security_scorecard.events", Vector("elastic"), Set.empty, "low"),
    "active_directory.users" -> TechnologyConfig("active_directory.users",
      "list_ad_users", Vector("elastic"), Set.empty, "low"),
    "virtustream.windows" -> TechnologyConfig("virtustream.windows",
      "logs-virtustream.windows", Vector("elastic"), Set.empty, "medium"),
    "hadoop.impala_audit" -> TechnologyConfig("hadoop.impala_audit",
      "logs-hadoop.impala_audit", Vector("elastic"), Set.empty, "low"),
    "tenable_nessus.security_center" -> TechnologyConfig("tenable_nessus.security_center",
      "logs-tenable_nessus.security_center", Vector("elastic"), Set.empty, "low"),
    "sap.cloud_connector" -> TechnologyConfig("sap.cloud_connector",
      "logs-sap.cloud_connector", Vector("elastic"), Set.empty, "low"),
    "citrix.admin" -> TechnologyConfig("citrix.admin",
      "logs-citrix.admin", Vector("elastic"), Set.empty, "low"),
    "aws.lb" -> TechnologyConfig("aws.lb",
      "logs-aws.lb", Vector("elastic"), Set.empty, "medium"),
    "skyhigh.atd" -> TechnologyConfig("skyhigh.atd",
      "logs-skyhigh.atd", Vector("elastic"), Set.empty, "low"),
    "preempt.threat_intelligence" -> TechnologyConfig("preempt.threat_intelligence",
      "logs-preempt.threat_intelligence", Vector("elastic"), Set.empty, "low"),
    "skyhigh_scal" -> TechnologyConfig("skyhigh_scal",
      "logs-skyhigh_scal", Vector("elastic"), Set.empty, "low"),
    "infoblox.dns" -> TechnologyConfig("infoblox.dns",
      "logs-infoblox.dns", Vector("elastic"), Set.empty, "medium"),
    "windows.exporter" -> TechnologyConfig("windows.exporter",
      "logs-windows.exporter", Vector("elastic"), Set.empty, "low"),
    "forescout.device_inventory" -> TechnologyConfig("forescout.device_inventory",
      "logs-forescout.device_inventory", Vector("elastic"), Set.empty, "low"),
    "unknown" -> TechnologyConfig("unknown", "logs-unparsed",
      Vector("failed"), Set.empty, "low")) ++ SnowflakeFamily.configs

  /** The shared syslog header grok
    * (ref: syslog_security_palo.alto.fw.conf:13-17). */
  val HeaderGrok: String =
    "(^(.*?)(<(?<pri>\\d+)>)(\\s)?(?<actual_msg>.*$))|(^(?<actual_msg>.*)$)"

  /** palo.alto.fw — semantic port of the TRAFFIC path ("Rule 3",
    * ref: syslog_security_palo.alto.fw.conf:59-70), sized to the synthesized
    * PAN-OS-style CSV. Header grok + syslog_pri + substring-prefiltered
    * dissect + multi-format date. */
  private val paloTrafficDissect =
    "%{?mon} %{?day} %{?time} %{[host][name]} %{?ver},%{date} %{+date},%{?serial}," +
      "%{[event][category]},%{[event][type]},%{?seq},%{gentime} %{+gentime}," +
      "%{[source][ip]},%{[destination][ip]},%{?natsip},%{?natdip},%{[rule][name]}," +
      "%{?f1},%{?f2},%{[network][protocol]},%{[event][action]}," +
      "%{[source][port]},%{[destination][port]},%{[network][bytes]}," +
      "%{[network][packets]},%{[network][iana_number]}"

  def paloAlto(ev: Event, ctx: ParseCtx): ParseOutcome = {
    // bare `split {}` on newline (ref: syslog_security_palo.alto.fw.conf:27):
    // a multi-line datagram becomes one event per line, each running the
    // full palo program — the third cardinality-increasing path
    val raw = ev.stringOrNull("message")
    val events =
      if (raw != null && raw.indexOf('\n') >= 0) raw.split("\n").toVector.map { line =>
        val sub = new Event
        ev.tags.foreach(sub.addTag)
        sub.set("message", line)
        sub
      }
      else Seq(ev)
    Pending(events, paloAltoOne)
  }

  private def paloAltoOne(ev: Event, ctx: ParseCtx): Unit = {
    Mutate.gsub(ev, "message", "\\\\\"", "\"") // ref :9-12
    Grok(ev, "message", Seq(HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev) // ref :18-21
    ev.set("[event][module]", "palo.alto")
    ev.set("[event][dataset]", "palo.alto.fw")
    val msg = ev.getString("message").getOrElse("")
    // cheap substring pre-filter BEFORE any further regex/dissect dispatch
    if (msg.contains(",TRAFFIC,")) {
      ev.set("[event][kind]", "palo.alto.fw_traffic")
      ev.set("[agent][parse_rule]", "Rule 3")
      if (Dissect(ev, "actual_msg", paloTrafficDissect, Seq("_dissectfailure_1"))) {
        Dates(ev, "date", Seq("yyyy/MM/dd HH:mm:ss", "MMM d HH:mm:ss yyyy"),
          "[event][created_ms]", timezone = "GMT",
          tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear)
        ev.remove("date"); ev.remove("gentime")
      }
    } else {
      ev.set("[agent][parse_rule]", "not parsed") // ref :449
      ev.addTag("_parse_failure")
    }
  }

  /** aws.vpcflow — semantic port of
    * config/processors/api_network_aws.vpcflow.conf:9-56 (drop, dissect,
    * sprintf add_field, UNIX date ×2 with remove-on-failure). */
  private val vpcflowDissect =
    "%{[[service][version]]} %{[[cloud][account][id]]} %{[[observer][egress][interface][id]]} " +
      "%{[[source][ip]]} %{[[destination][ip]]} %{[[source][port]]} %{[[destination][port]]} " +
      "%{[[network][iana_number]]} %{[[network][packets]]} %{[[network][bytes]]} " +
      "%{[[event][created]]} %{[[event][end]]} %{[[event][action]]} %{[[event][outcome]]}"

  def vpcflow(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[cloud][provider]", "aws")
    ev.set("[event][module]", "aws")
    ev.set("[event][dataset]", "aws.vpcflow")
    val msg = ev.getString("message").getOrElse("")
    if (msg.startsWith("version") || msg.contains("NODATA") || msg.isEmpty)
      Dropped // ref :14-16
    else Pending(Seq(ev), vpcflowBody)
  }

  private def vpcflowBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[agent][parse_rule]", "Rule 1")
    if (Dissect(ev, "message", vpcflowDissect, Seq("_dissectfailure_1"))) {
      Mutate.addField(ev, "[log][source][hostname]", "%{[cloud][account][id]}") // ref :24-26
      if (Dates(ev, "[event][created]", Seq("UNIX"), "[event][created_ms]",
        timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ec")))
        ev.remove("[event][created]")
      else ev.remove("[event][created]") // ref :36-40
      if (Dates(ev, "[event][end]", Seq("UNIX"), "[event][end_ms]",
        timezone = "GMT", tagOnFailure = Seq("_dateparsefailure_ee")))
        ev.remove("[event][end]")
      else ev.remove("[event][end]")
    } else {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    }
  }

  /** linux.rsyslog — sshd auth ladder, grok-primary (semantic port of the
    * auth rules in config/processors/syslog_audit_linux_rsyslog.conf:44-80).
    * Rule order: Accepted (most common first per ladder convention), Failed. */
  private val sshdAccepted =
    "^%{SYSLOGTIMESTAMP:[tmp][ts]} %{NOTSPACE:[host][name]} sshd\\[%{INT:[process][pid]}\\]: " +
      "Accepted password for %{USERNAME:[user][name]} from %{IPV4:[source][ip]} port %{INT:[source][port]} ssh2"
  private val sshdFailed =
    "^%{SYSLOGTIMESTAMP:[tmp][ts]} %{NOTSPACE:[host][name]} sshd\\[%{INT:[process][pid]}\\]: " +
      "Failed password for invalid user %{USERNAME:[user][name]} from %{IPV4:[source][ip]} port %{INT:[source][port]} ssh2"

  def rsyslog(ev: Event, ctx: ParseCtx): Unit = {
    Grok(ev, "message", Seq(HeaderGrok), Seq("_parsefailure_header"))
    SyslogPri(ev)
    ev.set("[event][module]", "linux")
    ev.set("[event][dataset]", "linux.rsyslog")
    ev.set("[event][kind]", "event")
    ev.set("[event][category]", "authentication")
    val msg = ev.getString("actual_msg").getOrElse("")
    // keyword pre-filter: dispatch on cheap contains before regex
    if (msg.contains("Accepted password") &&
      Grok(ev, "actual_msg", Seq(sshdAccepted), Seq("_grokparsefailure"))) {
      ev.set("[agent][parse_rule]", "Rule 1")
      ev.set("[event][action]", "logged-in")
      ev.set("[event][outcome]", "success")
    } else if (msg.contains("Failed password") &&
      Grok(ev, "actual_msg", Seq(sshdFailed), Seq("_grokparsefailure"))) {
      ev.set("[agent][parse_rule]", "Rule 2")
      ev.set("[event][action]", "logon-failed")
      ev.set("[event][outcome]", "failure")
    } else {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    }
    if (ev.has("[tmp][ts]")) {
      Dates(ev, "[tmp][ts]", Seq("MMM d HH:mm:ss", "MMM dd HH:mm:ss"),
        "[event][created_ms]", timezone = "GMT",
        tagOnFailure = Seq("_dateparsefailure_ec"), defaultYear = ctx.tsYear)
      ev.remove("tmp")
    }
  }

  /** cef.fw — CEF header dissect + kv extensions (semantic port of "Rule 1",
    * ref: syslog_security_palo.alto.fw.conf:99-122 and the rename block that
    * follows it). */
  private val cefDissect =
    "CEF:%{?v}|%{[observer][vendor]}|%{[observer][product]}|%{[rule][version]}|" +
      "%{[rule][category]}|%{[rule][name]}|%{[event][severity]}|%{somedata}"

  def cef(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "cef")
    ev.set("[event][dataset]", "cef.fw")
    ev.set("[event][kind]", "firewall")
    if (Dissect(ev, "message", cefDissect, Seq("dissect_failure_1"))) {
      ev.set("[agent][parse_rule]", "Rule 1")
      Kv(ev, "somedata", ' ', '=', target = "fw", trimKey = "$ ")
      ev.rename("[fw][src]", "[source][ip]")
      ev.rename("[fw][dst]", "[destination][ip]")
      ev.rename("[fw][spt]", "[source][port]")
      ev.rename("[fw][dpt]", "[destination][port]")
      ev.rename("[fw][act]", "[event][action]")
      ev.rename("[fw][smac]", "[source][mac]")
      ev.rename("[fw][request]", "[url][original]")
      ev.rename("[fw][cs2]", "[threat][tactic][id]")
      ev.remove("somedata")
    } else {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    }
  }

  /** azure.signin — Event Hub records[] envelope: json → split → json_encode
    * → per-record ECS renames (semantic port of
    * config/processors/event_hub_audit_azure.event_hub_signin.conf:16-60).
    * The ONLY cardinality-increasing path (SURVEY.md §3.2). */
  def azureSignin(ev: Event, ctx: ParseCtx): ParseOutcome = {
    ev.set("[event][module]", "azure")
    ev.set("[event][dataset]", "azure.eventhub.signin")
    ev.set("[agent][name]", "azure.eventhub")
    ev.set("[log][source][hostname]", "api_azure_eventhub_signin")
    if (!JsonOps.parse(ev, "message", "azure")) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
      return Parsed(Seq(ev))
    }
    ev.set("[agent][parse_rule]", "Rule 1")
    val records = ev.get("[azure][records]") match {
      case Some(a: mutable.ArrayBuffer[Any @unchecked]) if a.nonEmpty => a.toVector
      case _ => Vector(ev.get("[azure]").getOrElse(new Event.FMap()))
    }
    val out = records.map { rec =>
      val sub = new Event
      ev.root.forEach((k, v) => if (k != "azure") sub.root.put(k, Event.deepCopy(v)))
      ev.tags.foreach(sub.addTag)
      sub.set("azsign", Event.deepCopy(rec))
      sub
    }
    Pending(out, azureSigninRecord)
  }

  private def azureSigninRecord(sub: Event, ctx: ParseCtx): Unit = {
    JsonOps.encode(sub, "azsign", "message") // ref :26-29 json_encode
    sub.rename("[azsign][resultType]", "[error][code]")
    sub.rename("[azsign][identity]", "[user][full_name]")
    sub.rename("[azsign][properties][userPrincipalName]", "[user][email]")
    sub.rename("[azsign][properties][userAgent]", "[user_agent][original]") // ref :44
    sub.rename("[azsign][properties][appDisplayName]", "[service][name]")
    sub.rename("[azsign][callerIpAddress]", "[source][ip]")
    val cas = sub.getString("[azsign][properties][conditionalAccessStatus]").getOrElse("")
    if (cas.contains("success")) sub.set("[event][outcome]", "authentication_successful")
    else if (cas.contains("failure")) sub.set("[event][outcome]", "authentication_failure")
    else sub.set("[event][outcome]", "unknown")
    sub.remove("azsign")
  }

  /** mcafee.mcp — positional CSV parse (semantic port of
    * config/processors/api_security_mcafee.mcp_v5.conf:10-27: strip, drop
    * empty, csv with skip_empty_columns, integer converts; column list is
    * the leading subset of the reference's). */
  private val mcafeeColumns = Vector("num", "usr", "[source][nat][ip]",
    "[http][request][method]", "[destination][bytes]", "[source][bytes]",
    "[url][domain]", "[url][path]", "[event][action]", "[rule][name]")

  def mcafeeMcp(ev: Event, ctx: ParseCtx): ParseOutcome = {
    Mutate.strip(ev, "message")
    val msg = ev.getString("message").getOrElse("")
    if (msg.isEmpty) Dropped // ref :13-15
    else Pending(Seq(ev), mcafeeMcpBody)
  }

  private def mcafeeMcpBody(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "mcafee")
    ev.set("[event][dataset]", "mcafee.mcp")
    ev.set("[agent][parse_rule]", "Rule 1")
    if (Csv(ev, "message", mcafeeColumns, skipEmptyColumns = true)) {
      Mutate.convert(ev, "[destination][bytes]", "integer") // ref :19-22
      Mutate.convert(ev, "[source][bytes]", "integer")
      ev.rename("usr", "[user][name]")
      ev.remove("num")
    } else {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    }
  }

  /** trellix.epo — header/xml split grok + xml parse + ECS renames
    * (semantic port of config/processors/syslog_audit_trellix.epo.conf:8-45). */
  private val epoSplitGrok =
    "^(?<[tmp][header]>epoevents.*?) .*?(?<[tmp][xml]><" + "\\?xml.*)$"

  def trellixEpo(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "trellix")
    ev.set("[event][dataset]", "trellix.epo")
    if (Grok(ev, "message", Seq(epoSplitGrok), Seq("_grokparsefailure_to_tmp")) &&
      Xml(ev, "[tmp][xml]", "xmlt")) {
      ev.set("[agent][parse_rule]", "Rule 1")
      ev.rename("[xmlt][machineinfo][machinename]", "[host][name]")
      ev.rename("[xmlt][machineinfo][ipaddress]", "[host][ip]")
      ev.rename("[xmlt][machineinfo][username]", "[user][name]")
      ev.rename("[xmlt][mcafeecommonupdater][updateevent][severity]", "[event][severity]")
      ev.rename("[xmlt][mcafeecommonupdater][updateevent][error]", "[error][code]")
      ev.rename("[xmlt][mcafeecommonupdater][updateevent][eventid]", "[event][id]")
      ev.rename("[xmlt][mcafeecommonupdater][updateevent][filehash]", "[file][hash][md5]")
      ev.remove("tmp"); ev.remove("xmlt")
    } else {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    }
  }

  /** unknown technology — nothing matches: stamp "not parsed" + failure tag
    * (ref: syslog_security_palo.alto.fw.conf:449 else-branch convention). */
  def unknown(ev: Event, ctx: ParseCtx): Unit = {
    ev.set("[event][module]", "unknown")
    ev.set("[event][dataset]", "unknown")
    ev.set("[agent][parse_rule]", "not parsed")
    ev.addTag("_parse_failure")
  }

  private val basePrograms: Map[String, Program] = Map(
    "palo.alto.fw" -> Program.split(paloAlto),
    "aws.vpcflow" -> Program.split(vpcflow),
    "linux.rsyslog" -> Program(rsyslog),
    "cef.fw" -> Program(cef),
    "azure.signin" -> Program.split(azureSignin),
    "mcafee.mcp" -> Program.split(mcafeeMcp),
    "trellix.epo" -> Program(trellixEpo),
    "cisco.switch" -> Program(CloudRules.ciscoSwitch),
    "okta.audit" -> Program.split(CloudRules.oktaAudit),
    "aws.cloudtrail" -> Program(CloudRules.awsCloudtrail),
    "windows.events" -> Program(WindowsRules.windowsEvents),
    "proofpoint.siem_clicks" -> Program(CloudRules.proofpointClicks),
    "azure.atp" -> Program(ApiRules.azureAtp),
    "proofpoint.siem_messages" -> Program(ApiRules.proofpointMessages),
    "aws.elb" -> Program.split(ApiRules.awsElb),
    "snowflake.signin" -> Program(ApiRules.snowflakeSignin),
    "snowflake.failed_login" -> Program(ApiRules.snowflakeFailedLogin),
    "azure.officeactivity" -> Program.split(ApiRules.azureOfficeactivity),
    "cisco.ise" -> Program(IseRules.ciscoIse),
    "iis.w3c" -> Program.split(IisRules.iisW3c),
    "hadoop.hdfs_audit" -> Program(OpsRules.hdfsAudit),
    "f5.loadbalancer" -> Program.split(OpsRules.f5Ltm),
    "aws.cloudfront" -> Program.split(EdgeRules.awsCloudfront),
    "cisco.netflow" -> Program(EdgeRules.ciscoNetflow),
    "aws.guardduty" -> Program(SecRules.awsGuardduty),
    "azure.securityalert" -> Program.split(SecRules.azureSecurityalert),
    "linux.host" -> Program(OpsRules.linuxHost),
    "checkpoint.fw" -> Program.split(SecRules.checkpointFw),
    "github.audit" -> Program(DbRules.githubAudit),
    "citrix.session" -> Program(DbRules.citrixSession),
    "cisco.meraki.fw" -> Program(SecRules.merakiFw),
    "proofpoint.trap" -> Program(DbRules.proofpointTrap),
    "aws.securityhub" -> Program(SecRules.awsSecurityhub),
    "a10.proxy" -> Program.split(EdgeRules.a10Proxy),
    "entrust.mpki.cmpv2" -> Program(WebSecRules.mpkiCmpv2),
    "cisco.mso" -> Program(WebSecRules.ciscoMso),
    "sap.t-codes" -> Program(WebSecRules.sapTcodes),
    "cisco.riverbed.stdout" -> Program(WebSecRules.riverbedStdout),
    "oci.vcn" -> Program(WebSecRules.ociVcn),
    "aix.rsyslog" -> Program(WebSecRules.aixRsyslog),
    "as400.audit" -> Program(WebSecRules.as400Audit),
    "dell.drac" -> Program(WebSecRules.dellDrac),
    "checkpoint.fw_audit" -> Program(WebSecRules.checkpointOps),
    "hadoop.hms_audit" -> Program(WebSecRules.hmsAudit),
    "ansible.audit" -> Program(WebSecRules.ansibleAudit),
    "azure.mcas" -> Program(WebSecRules.azureMcas),
    "redhat.syslog" -> Program(WebSecRules.redhatSyslog),
    "virtustream.trendmicro" -> Program(WebSecRules.trendmicroFwd),
    "rsa.auth" -> Program(WebSecRules.rsaAuth),
    "vuln.gitguardian_api" -> Program(WebSecRules.gitguardian),
    "github.ghe" -> Program(WebSecRules.awsGhe),
    "oci.audit" -> Program(WebSecRules.ociAudit),
    "aws.cloudflare" -> Program(WebSecRules.awsCloudflare),
    "known_good_file_hash.nist" -> Program(WebSecRules.nistHash),
    "sysdig.scan.api" -> Program(WebSecRules.sysdigScan),
    "kafka.error" -> Program(WebSecRules.beatsAgent("kafka", "kafka.error", 3) _),
    "syncplicity.admin_logs" -> Program(WebSecRules.syncplicityAdmin),
    "syncplicity.user_logs" -> Program(WebSecRules.syncplicityUser),
    "security_scorecard.company_scores" -> Program(WebSecRules.scorecard),
    "tanium.agent" -> Program(WebSecRules.beatsAgent("tanium", "tanium.agent", 0) _),
    "rundeck.agent" -> Program(WebSecRules.beatsAgent("rundeck", "rundeck.agent", 0) _),
    "hadoop.agent" -> Program(WebSecRules.beatsAgent("hadoop", "hadoop.agent", 1) _),
    "elasticsearch.audit" -> Program(WebSecRules.beatsAgent("elasticsearch", "elasticsearch.audit", 2) _),
    "unidentified" -> Program(WebSecRules.unidentified),
    "cisco.meraki.wap" -> Program(WebSecRules.headerOnly("cisco.meraki", "cisco.meraki.wap", strip = false) _),
    "cisco.meraki.router" -> Program(WebSecRules.headerOnly("cisco.meraki", "cisco.meraki.router", strip = true) _),
    "cisco.satellite" -> Program(WebSecRules.headerOnly("cisco", "cisco.satellite", strip = false) _),
    "cisco.wireless.bridge" -> Program(WebSecRules.headerOnly("cisco", "cisco.wireless.bridge", strip = false) _),
    "cisco.prime" -> Program(WebSecRules.ciscoPrime),
    "cisco.riverbed.amauth" -> Program(WebSecRules.riverbedAmauth),
    "securityonion.zeek" -> Program.split(ZeekRules.zeek),
    "securityonion.suricata" -> Program(WebSecRules.suricata),
    "apache.access" -> Program(WebSecRules.apacheAccess),
    "azure.eventhub.o365_dlp" -> Program(WebSecRules.o365Dlp),
    "azure.eventhub.o365.msg_tracking" -> Program(WebSecRules.o365MsgTracking),
    "azure.fwflow" -> Program(WebSecRules.azureFwFlow),
    "proofpoint.pod" -> Program(WebSecRules.proofpointPod),
    "misp.metrics" -> Program.split(MispRules.metrics),
    "infoblox.ipam_audit" -> Program.split(InfobloxRules.ipamAudit),
    "juniper.fw_traffic" -> Program(JuniperRules.fwTraffic),
    "symantec.endpoint_protection" -> Program(SymantecRules.endpoint),
    "azure.eventhub.insights_audit" -> Program.split(EventHubRules.ehAudit),
    "azure.eventhub.insights_operational" -> Program.split(EventHubRules.ehOperational),
    "azure.audit" -> Program.split(EventHubRules.ehAzureaudit),
    "azure.riskyuser" -> Program.split(EventHubRules.ehRiskyuser),
    "azure.emailevents" -> Program.split(EventHubRules.ehEmailevents),
    "azure.userriskevents" -> Program.split(EventHubRules.ehUserriskevents),
    "azure.securityincident" -> Program.split(EventHubRules.ehSecurityincident),
    "azure.anomalies" -> Program.split(EventHubRules.ehAnomalies),
    "azure.interactivesignin" -> Program.split(EventHubRules.ehInteractiveSignin),
    "citrix.netscaler" -> Program.split(NetscalerRules.netscaler),
    "juniper_pulse.ssl.vpn" -> Program(PulseRules.pulseVpn),
    "tanium" -> Program(TaniumRules.tanium),
    "guardium.db" -> Program(GuardiumRules.guardium),
    "sdwan.app" -> Program(SdwanRules.sdwanApp),
    "skyhigh.security.mgr" -> Program.split(SkyhighRules.secMgr),
    "skyhigh.swg" -> Program(SkyhighRules.swg),
    "skyhigh.scp" -> Program.split(SkyhighRules.scp),
    "forescout.counteract.nac" -> Program(ForescoutRules.counteract),
    "cisco.dna" -> Program(DnaF5Rules.ciscoDna),
    "f5.big.ip.gtm.dns" -> Program.split(DnaF5Rules.f5Gtm),
    "lieberman.random.pass.mgr" -> Program.split(LiebermanRules.passManager),
    "snmp.forescout" -> Program(TenableRules.snmpForescout),
    "tenable.nessus_scanner" -> Program.split(TenableRules.nessusScanner),
    "tenable.security_center" -> Program(TenableRules.securityCenter),
    "tenable.sc_api" -> Program.split(TenableRules.vulnSc),
    "tenable.asm_api" -> Program.split(TenableRules.vulnAsm),
    "layer7.securespan.soa.gw" -> Program.split(Layer7Rules.layer7),
    "microsoft.ata" -> Program(AtaRules.ata),
    "spectracom.ntp" -> Program(SpectracomRules.ntp),
    "sdwan.os_ubuntu" -> Program(SdwanOsRules.osUbuntu),
    "a10.waf" -> Program.split(A10WafRules.waf),
    "cisco.router" -> Program(CiscoRouterRules.router),
    "cisco.apic" -> Program(CiscoApicRules.apic),
    "cisco.stealthwatch" -> Program(StealthwatchRules.stealthwatch),
    "accellion.sft" -> Program.split(AccellionRules.sft),
    "sap.onapsis" -> Program(SapOnapsisRules.onapsis),
    "symantec.dlp" -> Program(SymantecDlpRules.dlp),
    "cisco.aci" -> Program(CiscoAciRules.aci),
    "cisco.wireless.controller" -> Program(CiscoWlcRules.wlc),
    "azure.eventhub.atp" -> Program.split(AzureTailRules.ehAtp),
    "azure.eventhub.security" -> Program.split(AzureTailRules.ehSecurity),
    "azure.graph_data" -> Program.split(AzureTailRules.graphApi),
    "riverbed.netim" -> Program(RiverbedNetimRules.netim),
    "aws.app" -> Program(AwsAppRules.awsApp),
    "tanium.inventory" -> Program(InventoryFwdRules.taniumInventory),
    "virtustream.linux" -> Program(InventoryFwdRules.virtustreamLinux),
    "pingfederate.auth" -> Program.split(InventoryFwdRules.pingfederate),
    "cisco.riverbed.audit" -> Program(RiverbedFlatRules.audit),
    "cisco.riverbed.vnes_analytics" -> Program(RiverbedFlatRules.vnes),
    "cisco.riverbed.scportal" -> Program.split(RiverbedFlatRules.scportal),
    "cisco.riverbed.opnetreport" -> Program(RiverbedFlatRules.opnetreport),
    "ubiquiti.wireless.bridge.session" -> Program(WirelessEdgeRules.ubiquitiBridge),
    "ubiquiti.controller" -> Program(WirelessEdgeRules.ubiquitiController),
    "cisco.wireless.access_point" -> Program(WirelessEdgeRules.ciscoWirelessAp),
    "cisco.waas" -> Program(WirelessEdgeRules.ciscoWaas),
    "apache" -> Program(ApacheWebRules.apache),
    "apache.audit" -> Program(ApacheWebRules.apacheAudit),
    "mwg.proxy.audit" -> Program(ApacheWebRules.mwgProxy),
    "iis" -> Program(ApacheWebRules.iisFlat),
    "jira" -> Program(AtlassianRules.jira),
    "jira.audit" -> Program(AtlassianRules.jiraAudit),
    "beyondtrust.secure_remote_mngt" -> Program(SecOpsRules.bomgar),
    "tufin.fw_acl_manager" -> Program(SecOpsRules.tufin),
    "hp.nnm_audit" -> Program(SecOpsRules.hpNnm),
    "oci.cloudguard" -> Program(ApiCloudRules.ociCloudguard),
    "oci.object" -> Program(ApiCloudRules.ociObject),
    "jamf.endpoint_protection" -> Program(ApiCloudRules.jamfProtect),
    "sap.btp" -> Program(ApiCloudRules.sapBtp),
    "o365.dlp" -> Program(ApiDirectoryRules.o365Dlp),
    "azure.graph_identity_protection" -> Program(ApiDirectoryRules.graphIdentity),
    "security_scorecard.events" -> Program(ApiDirectoryRules.scorecard),
    "active_directory.users" -> Program(ApiDirectoryRules.adUsers),
    "virtustream.windows" -> Program(ForwarderDbRules.virtustreamWindows),
    "hadoop.impala_audit" -> Program(ForwarderDbRules.impalaAudit),
    "tenable_nessus.security_center" -> Program(AuditTailRules.securityCenter),
    "sap.cloud_connector" -> Program.split(AuditTailRules.sapCloudConnector),
    "citrix.admin" -> Program(CitrixAdminRules.citrixAdmin),
    "aws.lb" -> Program.split(AwsLbRules.awsLb),
    "skyhigh.atd" -> Program(SkyhighAtdRules.skyhighAtd),
    "preempt.threat_intelligence" -> Program(PreemptRules.preempt),
    "skyhigh_scal" -> Program(ScalAuditRules.scalAudit),
    "infoblox.dns" -> Program(InfobloxFtpRules.infobloxFtp),
    "windows.exporter" -> Program(WindowsExporterRules.windowsExporter),
    "forescout.device_inventory" -> Program(ForescoutPushRules.forescoutPush),
    "unknown" -> Program(unknown))

  val programs: Map[String, Program] =
    basePrograms ++ SnowflakeFamily.programs
}
