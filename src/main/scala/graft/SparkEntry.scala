package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Transcripts
import graft.pipeline.Pipeline

/** Driver contract (see builder prompt + SURVEY.md §7). Every implemented
  * operator has a `queries` entry; wherever the semantics are
  * SQL-expressible the matching `oracleSql` is DuckDB SQL over the SAME
  * parquet tables, sharing the generator CTE so both engines see identical
  * input. Column names/aliases match exactly on both sides (driver compare
  * sorts columns by name).
  */
object SparkEntry {

  // ---------- shared plumbing ----------

  @volatile private var parsedCache: List[(SparkSession, String, DataFrame)] = Nil

  /** Parsed+enriched turns for a sf dir, computed once per LIVE session and
    * persisted (the reference's "enrich once, write N sinks" no-clone
    * strategy — ref: build_scripts/README.md:54-56). Entries for stopped
    * sessions are pruned on access so the cache cannot pin dead sessions. */
  def parsed(spark: SparkSession, dir: String): DataFrame = synchronized {
    parsedCache = parsedCache.filter(e => !e._1.sparkContext.isStopped)
    parsedCache.find(e => (e._1 eq spark) && e._2 == dir) match {
      case Some((_, _, df)) => df
      case None =>
        // RDD-level persistence (guide §1.2 per-task work): a DF .persist
        // here builds Spark's columnar InMemoryRelation over the 332-column
        // kernel output — per-column compression builders cost ~3 s at
        // sf0.1 on top of the kernel, and every cached read paid ~0.5 s of
        // batch decompression. The kernel node already emits UnsafeRows, so
        // caching copies of them makes the cache build ≈ the kernel pass and
        // reads a plain field projection. Same rows, same schema — the 221
        // oracles are the guard.
        val df = org.apache.spark.sql.graft.GraftParse.persistedRows(
          Pipeline.parseDf(spark, Transcripts.input(spark, dir)),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        parsedCache = (spark, dir, df) :: parsedCache
        df
    }
  }

  /** Oracle prefix: generator CTE + px = one row per parsed output event
    * (azure records[] exploded, vpcflow NODATA dropped). DuckDB dialect from
    * here on — the CTE itself stays portable. */
  private val pxCte: String =
    s"""WITH ${Transcripts.cte},
px AS (
  SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, t.role AS role,
         t.tool AS tool, t.text AS text, t.ts AS ts, s.i AS sub_idx,
         g.event_id, g.tsel, g.user_id, g.spt, g.dpt, g.iana, g.act, g.sip,
         g.dip, g.pri, g.pri2, g.ep1, g.nbytes, g.npkts, g.uname, g.eid_s,
         g.uid_s, g.d1, g.t1
  FROM turns t JOIN ge_txt g USING (event_id)
  CROSS JOIN (VALUES (0),(1)) AS s(i)
  WHERE (s.i = 0 OR (g.tsel = 8 AND (g.event_id % 2) = 0))
    AND NOT (g.tsel IN (3,4) AND (g.event_id % 13) = 0)
)"""

  // reusable oracle CASE fragments (DuckDB side of the engine semantics)
  private val oSrcIp =
    """CASE WHEN tsel = 7 THEN (CASE WHEN (event_id % 17) = 0 THEN NULL ELSE sip END)
       WHEN tsel = 8 THEN (CASE WHEN sub_idx = 1 THEN dip ELSE sip END)
       WHEN tsel = 9 THEN NULL ELSE sip END"""
  private val oDstIp =
    "CASE WHEN tsel <= 2 OR tsel IN (3,4) OR tsel = 7 THEN dip ELSE NULL END"
  private val oTransport = // e90: only palo/vpcflow carry network.iana_number
    """CASE WHEN tsel <= 4 THEN (CASE iana WHEN 6 THEN 'tcp' WHEN 17 THEN 'udp' ELSE 'icmp' END)
       ELSE NULL END"""
  private val oProtocol =
    """CASE WHEN tsel <= 2 THEN (CASE (event_id % 3) WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp' ELSE 'icmp' END)
       WHEN tsel IN (3,4) THEN
         (CASE WHEN iana = 6 AND dpt = 443 THEN 'https'
               WHEN iana = 6 AND dpt = 80 THEN 'http'
               WHEN iana = 6 AND dpt = 53 THEN 'domain'
               WHEN iana = 6 AND dpt = 22 THEN 'ssh'
               WHEN iana = 17 AND dpt = 443 THEN 'https'
               WHEN iana = 17 AND dpt = 80 THEN 'http'
               WHEN iana = 17 AND dpt = 53 THEN 'domain'
               WHEN iana = 17 AND dpt = 22 THEN 'ssh'
               ELSE NULL END)
       WHEN tsel = 7 THEN
         (CASE dpt WHEN 443 THEN 'https' WHEN 80 THEN 'http'
                   WHEN 53 THEN 'domain' ELSE 'ssh' END)
       ELSE NULL END"""
  private val oGeoCountry = // geo bands over 8.x second octet = user_id % 200
    """CASE WHEN (user_id % 200) < 50 THEN 'US'
       WHEN (user_id % 200) < 100 THEN 'DE'
       WHEN (user_id % 200) < 150 THEN 'JP' ELSE 'BR' END"""
  private val oSinks = // per-technology output list (Registry.configs)
    """(VALUES ('elastic'), ('s3'), ('failed')) AS snk(sink)"""
  private val oSinkFilter =
    """((tsel <= 2 AND snk.sink IN ('elastic','s3'))
     OR (tsel IN (3,4) AND snk.sink = 's3')
     OR (tsel IN (5,6) AND snk.sink = 'elastic')
     OR (tsel = 7 AND snk.sink IN ('elastic','s3'))
     OR (tsel = 8 AND snk.sink = 'elastic')
     OR (tsel = 9 AND snk.sink = 'failed'))"""

  // ---------- driver contract ----------

  /** Flagship: full parse→enrich→route→aggregate on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.sinkCounts(parsed(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val base: Map[String, (SparkSession, String) => DataFrame] = Map(
    // generator parity: proves Spark and DuckDB see the same input table
    "q01_transcripts" -> ((s, dir) =>
      Transcripts.df(s, dir).select("conv_id", "turn_idx", "role", "tool", "text")),

    // fused parse stage core extraction (grok+dissect+kv+json programs)
    "q02_parse_core" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"), col("technology"),
      col("parse_rule"), col("parse_ok").cast("int").as("parse_ok_i"),
      col("source_ip"), col("destination_ip"), col("source_port"),
      col("destination_port"), col("event_action"), col("agent_name"))),

    // syslog_pri decode + ECS renames
    "q03_syslog_pri" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology").isin("palo.alto.fw", "linux.rsyslog"))
      .select(col("conv_id"), col("turn_idx"),
        col("log_syslog_facility_code").as("fac_code"),
        col("log_syslog_facility_name").as("fac_name"),
        col("log_syslog_severity_code").as("sev_code"),
        col("log_syslog_severity_name").as("sev_name"))),

    // multi-format date parsing (UNIX + yyyy/MM/dd + year-less syslog)
    "q04_dates" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"),
      col("event_created_ms"), col("event_end_ms"))),

    // north-rule aggregate: per-sink counts by (technology, role, tool, hour)
    "q05_sink_counts" -> ((s, dir) => Pipeline.sinkCounts(parsed(s, dir))),

    // counts-only narrow kernel (no enrichment chain, no wide flatten) —
    // shares q05's oracle SQL, so the driver proves it equal to the full path
    "q05f_sink_counts_fast" -> ((s, dir) =>
      Pipeline.sinkCountsFromInput(s, Transcripts.input(s, dir))),

    // lazy flatten (round-4): full parse+enrich but only the aggregate's 5
    // columns materialized by the kernel — shares q05's oracle SQL, so the
    // driver proves the masked flatten count-identical to the full path
    "q05p_counts_projected" -> ((s, dir) =>
      Pipeline.sinkCounts(Pipeline.parseDfSelect(s, Transcripts.input(s, dir),
        Seq("route_outputs", "technology", "role", "tool", "ts")))),

    // same via explicit two-phase salted aggregation (skew defusal)
    "q06_salted_counts" -> ((s, dir) => Pipeline.sinkCountsSalted(parsed(s, dir))),

    // translate: iana transport + protocol dictionaries w/ port-only fallback
    "q07_iana" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology").isin("palo.alto.fw", "aws.vpcflow", "cef.fw"))
      .select(col("conv_id"), col("turn_idx"), col("network_transport"),
        col("network_protocol"), col("network_iana_number"))),

    // cidr private tagging + geo range-table lookup
    "q08_cidr_geo" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"),
      col("source_ip_private").cast("int").as("sip_private_i"),
      col("source_geo_country"), col("source_geo_city"),
      col("destination_ip_private").cast("int").as("dip_private_i"),
      col("destination_geo_country"))),

    // dns broadcast PTR lookup into destination.address (ref semantics) +
    // the 18_host_split cascade (FQDN → address + domain) + per-tech gating
    "q09_dns" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology").isin("palo.alto.fw", "aws.vpcflow", "cef.fw"))
      .select(col("conv_id"), col("turn_idx"),
        col("destination_address"), col("destination_domain"))),

    // fingerprint/md5 of the working message (incl. re-encoded azure records)
    "q10_hash" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"), col("event_hash"))),

    // translate with fallback: MITRE tactics
    "q11_mitre" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "cef.fw")
      .select(col("conv_id"), col("turn_idx"), col("threat_tactic_name"),
        col("threat_tactic_reference"))),

    // url split + tld public-suffix
    "q12_url_tld" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "cef.fw")
      .select(col("conv_id"), col("turn_idx"), col("url_domain"),
        col("url_path"), col("url_query"), col("url_tld"),
        col("url_registered_domain"))),

    // kv extraction + mac standardize + numeric coercion
    "q13_kv_mac" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "cef.fw")
      .select(col("conv_id"), col("turn_idx"), col("source_mac"),
        col("event_severity"), col("observer_vendor"), col("rule_version"),
        col("rule_category"))),

    // related.* merge+dedup (array semantics), emitted sorted for comparison
    "q14_related" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"),
      array_join(array_sort(col("related_ip")), ",").as("related_ip_s"),
      array_join(array_sort(col("related_user")), ",").as("related_user_s"))),

    // lowercase/strip normalization pass
    "q15_normalize" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "palo.alto.fw")
      .select(col("conv_id"), col("turn_idx"), col("event_category"),
        col("event_type"), col("host_name"), col("rule_name"))),

    // north-rule invariant: input text carried through untouched
    "q16_text_equality" -> ((s, dir) => parsed(s, dir)
      .groupBy(col("technology"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("text")).as("distinct_texts"),
        sum(length(col("text"))).as("sum_len"))),

    // conservation: every input turn is routed, failed, or dropped
    "q17_conservation" -> ((s, dir) => {
      val p = parsed(s, dir).filter(col("sub_idx") === 0)
        .select(col("conv_id"), col("turn_idx"), col("tool"),
          when(col("parse_ok"), lit("routed")).otherwise(lit("failed")).as("disposition"))
      val inp = Transcripts.input(s, dir).select(col("conv_id"), col("turn_idx"), col("tool"))
      val dropped = inp.join(p, Seq("conv_id", "turn_idx"), "left_anti")
        .select(col("conv_id"), col("turn_idx"), col("tool"), lit("dropped").as("disposition"))
      p.unionByName(dropped).groupBy(col("tool"), col("disposition"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // tag-driven router: per-event index (dated) + output pipeline list
    "q18_routes" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"), col("route_index"),
      array_join(col("route_outputs"), ",").as("route_outputs_s"))),

    // translate at reference dictionary scale (100k-entry broadcast)
    "q23_mnemonic" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "cef.fw")
      .select(col("conv_id"), col("turn_idx"), col("rule_category"),
        col("rule_ruleset"))),

    // related.hosts family (host.name + destination.domain + url.domain)
    "q22_related_hosts" -> ((s, dir) => parsed(s, dir).select(
      col("conv_id"), col("turn_idx"), col("sub_idx"),
      array_join(array_sort(col("related_hosts")), ",").as("related_hosts_s"))),

    // translate at the Catalyst layer: dict as broadcast DataFrame join
    // (SURVEY §2.4 alternative to the kernel Map lookup) — must agree with
    // the kernel's e90 result on every row
    "q21_translate_join" -> ((s, dir) => {
      import s.implicits._
      val dictDf = graft.enrich.Dicts.IanaTransport.iterator.toSeq
        .toDF("iana_no", "transport_joined")
      parsed(s, dir)
        .filter(col("technology").isin("palo.alto.fw", "aws.vpcflow"))
        .select(col("conv_id"), col("turn_idx"), col("network_iana_number"),
          col("network_transport"))
        .join(broadcast(dictDf), col("network_iana_number") === col("iana_no"), "left")
        .select(col("conv_id"), col("turn_idx"), col("network_transport"),
          col("transport_joined"),
          (col("network_transport") === col("transport_joined")).cast("int").as("agree_i"))
    }),

    // useragent grok enrichment (ref 10_user_agent_enrichment.conf:10-25)
    "q20_useragent" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "azure.signin")
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("user_agent_original"), col("browser_name"), col("browser_version"),
        col("ua_device_name"), col("ua_os_family"), col("ua_os_platform"),
        col("ua_os_version"))),

    // csv filter end-to-end (mcafee.mcp technology)
    "qc01_csv" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.csvInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("technology"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("user_name"),
        col("source_nat_ip"), col("http_request_method"),
        col("source_bytes"), col("destination_bytes"), col("url_domain"),
        col("url_path"), col("event_action"), col("rule_name"))),

    // xml filter end-to-end (trellix.epo technology)
    "qx01_xml" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.xmlInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("technology"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("host_name"),
        col("host_ip"), col("user_name"), col("event_severity"),
        col("error_code"), col("event_id_s"))),

    // 14_related_hash + misp file.hash.md5 namespace (trellix filehash)
    "qx02_related_hash" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.xmlInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        array_join(array_sort(col("related_hash")), ",").as("related_hash_s"),
        array_contains(col("tags"), "log_enriched_by_misp").cast("int").as("misp_i"),
        col("threat_indicator_provider"))),

    // memcached/MISP-style md5-keyed namespace lookups → tag
    "q19_ioc" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology").isin("palo.alto.fw", "aws.vpcflow", "cef.fw"))
      .select(col("conv_id"), col("turn_idx"),
        array_contains(col("tags"), "log_enriched_by_misp").cast("int").as("misp_i"))),

    // MISP payload merge: which namespace won, and the indicator it carried
    "q25_misp" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology").isin("palo.alto.fw", "aws.vpcflow", "cef.fw"))
      .select(col("conv_id"), col("turn_idx"),
        col("threat_indicator_provider"), col("threat_indicator_ip"))),

    // MISP breadth namespaces (user.email / user_agent.original / source.ip)
    // on the azure envelope rows, proving the 58-call-site probe order
    "q27_misp_breadth" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "azure.signin")
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        array_contains(col("tags"), "log_enriched_by_misp").cast("int").as("misp_i"),
        col("threat_indicator_provider"), col("threat_indicator_ip"))),

    // 18_host_split on the cef invalid-ip path: address keeps the name,
    // domain gets the rest
    "q26_host_split" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "cef.fw")
      .select(col("conv_id"), col("turn_idx"),
        col("source_address"), col("source_domain"))),

    // 16_related_mac over the cef smac field (post-standardize)
    "q24_related_mac" -> ((s, dir) => parsed(s, dir)
      .filter(col("technology") === "cef.fw")
      .select(col("conv_id"), col("turn_idx"),
        array_join(array_sort(col("related_mac")), ",").as("related_mac_s"))),

    // cisco.switch end-to-end: main grok, facility CSV translate (real
    // 1,296-entry dict), mnemonic info translate + fallback, per-action
    // parsing (interface grok / bgp dissect), severity→rule.category,
    // device-timestamp date
    "qs01_cisco" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ciscoInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_id_s"), col("host_name"), col("host_hostname"),
        col("event_action"), col("event_provider"), col("event_reason"),
        col("event_recommendation"), col("event_outcome"),
        col("observer_ingress_interface_name"), col("error_message"),
        col("rule_category"), col("event_start_ms"),
        array_join(array_sort(col("related_ip")), ",").as("related_ip_s"))),

    // okta.audit end-to-end: JSON-array split (second cardinality-up path),
    // array-index renames, date parse, nested geo/UA fields
    "qk01_okta" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.oktaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_outcome"), col("event_type"), col("event_category"),
        col("log_level"), col("event_reason"), col("source_ip"),
        col("source_domain"), col("user_type"), col("user_full_name"),
        col("destination_user_id"), col("destination_user_email"),
        col("destination_user_full_name"), col("host_ip"), col("ua_os_name"),
        col("transaction_id"), col("url_path"), col("event_created_ms"))),

    // windows WEF end-to-end: winlog envelope renames, @-split users,
    // ::ffff: strip, Kerberos failure-code translate, per-event-id branches
    "qw01_windows" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.winInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_kind"), col("event_id_s"), col("rule_category"),
        col("user_name"), col("source_ip"), col("source_port"),
        col("destination_address"), col("destination_domain"),
        col("log_source_hostname"), col("event_reason"), col("service_name"))),

    // proofpoint SIEM clicks end-to-end: JSON renames (incl. a dotted JSON
    // key path), dual ISO8601.SSS dates, geo on the sender ip
    "qp01_proofpoint" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ppInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("cloud_provider"), col("url_full"), col("rule_category"),
        col("rule_ruleset"), col("rule_id"), col("rule_uuid"),
        col("rule_reference"), col("event_status"), col("event_kind"),
        col("event_id_s"), col("client_ip"), col("source_ip"),
        col("source_user_email"), col("destination_user_email"),
        col("source_geo_country"), col("event_created_ms"),
        col("threat_list_created_ms"))),

    // aws.cloudtrail end-to-end: arn/principalId groks, non-ip source
    // rename, insight translate, sprintf-before-rename account id
    "qt01_cloudtrail" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ctInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("cloud_provider"), col("cloud_account_id"), col("cloud_region"),
        col("log_source_hostname"), col("event_category"), col("event_type"),
        col("event_kind"), col("service_version"), col("service_type"),
        col("user_name"), col("user_roles"), col("user_id"),
        col("file_directory"), col("file_name"), col("error_code"),
        col("transaction_id"), col("event_id_s"), col("event_created_ms"),
        col("source_ip"), col("source_address"), col("source_geo_country"))),

    // azure.atp end-to-end: JSON renames, mitreTechniques[0] conditional,
    // four ISO8601 dates incl. the reference's _es-tag copy-paste quirk
    "qa01_atp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.atpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("rule_category"), col("event_id_s"), col("group_id"),
        col("event_severity_name"), col("event_outcome"), col("event_type"),
        col("observer_product"), col("event_kind"), col("rule_description"),
        col("event_created_ms"), col("event_start_ms"), col("event_end_ms"),
        col("event_modified_ms"), col("host_id"), col("host_hostname"),
        col("host_domain"), col("user_name"), col("log_source_hostname"),
        array_join(array_sort(col("threat_technique_id")), ",").as("threat_technique_id_s"))),

    // proofpoint SIEM messages end-to-end: array renames (hashes, modules,
    // file names), the double rule.category rename (last wins), truthiness
    // branch on completelyRewritten, score numerics
    "qm01_ppmessages" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ppmInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("url_full"), col("event_type"),
        array_join(array_sort(col("related_hash")), ",").as("related_hash_s"),
        col("rule_reference"), col("rule_id"), col("rule_category"),
        array_join(array_sort(col("file_attributes")), ",").as("file_attributes_s"),
        col("event_kind"), col("event_created_ms"), col("file_size"),
        array_join(array_sort(col("rule_author")), ",").as("rule_author_s"),
        col("rule_name"), col("event_category"), col("source_ip"),
        col("transaction_id"), col("trace_id"), col("event_id_s"),
        col("source_user_email"), col("destination_user_email"),
        col("user_agent_original"), col("event_risk_score"),
        col("vulnerability_score_base"), col("event_risk_score_norm"),
        col("event_severity"), col("email_subject"), col("email_header_from"),
        col("email_header_replyto"), col("event_outcome"),
        col("source_geo_country"))),

    // aws.elb end-to-end: the 27-capture access-log grok with the
    // reference's own \.*? off-by-one quirk (status code lands in
    // received_bytes, sent_bytes spans two tokens → null), drop{} on empty
    // lines, microsecond ISO dates, '-' placeholder alternations
    "qe01_elb" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.elbInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_created_ms"), col("event_ingested_ms"), col("event_duration"),
        col("event_severity"), col("event_category"), col("event_reason"),
        col("cloud_instance_name"), col("url_scheme"), col("url_full"),
        col("url_domain"), col("http_response_status_code"),
        col("http_request_bytes"), col("http_response_bytes"),
        col("http_request_method"), col("http_request_referrer"),
        col("user_agent_name"), col("tls_cipher"), col("tls_version_protocol"),
        col("tls_client_server_name"), col("tls_next_protocol"), col("trace_id"),
        col("rule_name"), col("rule_description"), col("source_port"),
        col("source_ip"), col("destination_ip"), col("destination_port"),
        col("log_source_hostname"), col("source_geo_country"))),

    // snowflake signin + failed_login end-to-end: UPPER_SNAKE JSON columns,
    // IS_SUCCESS branch, per-dataset routing
    "qf01_snowflake" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.sfInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("technology"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_type"), col("client_ip"), col("event_id_s"),
        col("event_created_ms"), col("user_name"), col("error_code"),
        col("error_message"), col("event_outcome"), col("event_start_ms"),
        col("user_roles"), col("database_user_name"), col("event_category"),
        col("log_source_hostname"), col("route_index"))),

    // aws.securityhub end-to-end: message lowercased pre-parse, the ruby
    // loop where the LAST finding wins, array-collected resource ids
    "qsh01_securityhub" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.shInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("cloud_account_id"), col("event_created_ms"), col("rule_description"),
        col("rule_id"), col("event_id_s"), col("service_version"),
        col("event_severity_name"), col("event_kind"), col("event_type"),
        col("event_modified_ms"), col("log_source_hostname"),
        col("cloud_instance_id"), col("cloud_region"))),

    // a10.proxy end-to-end: json input codec (shipper envelope) + the
    // GENERIC host→agent.name input normalization
    // (1_kafka_input_template.conf:37-43), the a10/A10 drop, RULE 1
    // persist-xff grok, RULE 3 proxy-flow grok, and the no-failure-tag
    // "does not match rule" else branch
    "qa01_a10" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.a10Input(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("agent_name"),
        col("host_hostname"), col("process_name"), col("event_provider"),
        col("event_type"), col("user_agent_original"), col("url_path"),
        col("source_ip"), col("destination_ip"), col("destination_port"),
        col("network_protocol"), col("event_action"),
        col("log_syslog_facility_code"), col("log_syslog_facility_name"),
        col("log_syslog_severity_code"), col("log_syslog_severity_name"),
        col("event_created_ms"), col("event_module"), col("event_dataset"),
        col("route_index"))),

    // citrix.netscaler end-to-end: the largest reference conf (681 lines) —
    // header grok + pri, two-stage dissect, classification translate, and the
    // 18-rule kind ladder incl. its mirrored accidents (always-failing RULE 5
    // dissect-with-grok-syntax, `{?starting_data}` literals, RULE 7 user_dom
    // grok failure, RULE 7 recv/send byte swap, RULE 15 stacked parse_rule)
    "qnt01_netscaler" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ntInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_kind"), col("event_category"),
        col("event_type"), col("source_address"), col("source_ip"),
        col("source_port"), col("destination_ip"), col("destination_port"),
        col("network_protocol"), col("source_nat_ip"), col("source_nat_port"),
        col("server_ip"), col("server_port"), col("source_bytes"),
        col("destination_bytes"), col("event_start_ms"), col("event_end_ms"),
        col("event_created_ms"), col("event_reason"), col("event_action"),
        col("event_outcome"), col("event_code"), col("event_sequence"),
        col("event_duration"), col("rule_name"), col("rule_description"),
        col("group_name"), col("group_id"), col("source_user_name"),
        col("source_user_domain"), col("trace_id"), col("url_full"),
        col("url_domain"), col("http_request_method"),
        col("http_request_referrer"), col("http_response_status_code"),
        col("user_agent_name"), col("event_id_s"), col("host_serial"),
        col("http_cookie_name"), col("service_type"), col("service_name"),
        col("error_code"), col("event_risk_score"), col("client_ip"),
        col("destination_address"), col("process_command_line"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // juniper pulse_secure.vpn: wide preamble dissect + 20-rule description
    // ladder + stacked classification ladder (RULE 17-27), incl. the
    // case-sensitivity trap (gate (?i) vs classification exact-case) and the
    // never-matching RULE 3 `hello%{msg}` dissect
    "qjp01_pulse" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.jpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_category"), col("event_code"),
        col("event_type"), col("event_action"), col("event_outcome"),
        col("event_id_s"), col("rule_description"), col("source_address"),
        col("source_ip"), col("source_user_name"), col("source_mac"),
        col("server_user_id"), col("trace_id"), col("destination_ip"),
        col("url_full"), col("source_nat_ip"), col("host_name"),
        col("user_id"), col("user_agent_name"), col("ua_os_version"),
        col("ua_os_name"), col("event_duration"), col("source_bytes"),
        col("destination_bytes"), col("group_name"), col("source_user_roles"),
        col("tls_client_subject"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // tanium.events: JSON decode + four-way Intel-Type branch (signal/
    // reputation renames + six-level ancestry chain, asset inventory,
    // openioc finding, Custom-Tags fallback); 'not parsed' default
    // parse_rule is the conf's own behavior (it never sets one)
    "qtn01_tanium" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.tnInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_type"), col("event_id_s"),
        col("rule_name"), col("host_hostname"), col("host_name"),
        col("source_ip"), col("source_nat_ip"), col("host_ip"),
        col("host_os_name"), col("host_os_family"), col("host_os_version"),
        col("host_serial"), col("host_domain"), col("host_mac"),
        col("host_model"), col("host_manufacturer"), col("observer_hostname"),
        col("observer_vendor"), col("observer_name"), col("observer_version"),
        col("network_name"), col("event_reason"), col("service_name"),
        col("service_version"), col("service_type"), col("rule_ruleset"),
        col("event_original"), col("user_name"), col("user_domain"),
        col("process_executable"), col("file_size"), col("file_path"),
        when(size(col("threat_technique_id")) > 0,
          concat_ws(",", col("threat_technique_id"))).as("techniques"),
        when(size(col("related_hash")) > 0,
          concat_ws(",", col("related_hash"))).as("rhash"),
        col("event_created_ms"), col("event_start_ms"), col("event_end_ms"),
        col("event_ingested_ms"), col("route_index"))),

    // guardium.db: quote-stripped alarm kv with ~20 ECS renames, STAP
    // sub-rule, run-parts/pam lines, and the dead two-space RULE 5 gate
    // (GuardiumSniffer rows surface 'not parsed' with parse_ok true)
    "qgd01_guardium" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.gdmInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_name"), col("rule_id"),
        col("event_id_s"), col("event_severity_name"), col("source_ip"),
        col("source_address"), col("source_port"), col("source_user_name"),
        col("destination_ip"), col("destination_address"),
        col("destination_port"), col("service_name"), col("service_type"),
        col("network_protocol"), col("database_name"), col("process_name"),
        col("process_pid"), col("event_start_ms"), col("event_end_ms"),
        col("event_sequence"), col("user_domain"), col("user_name"),
        col("file_path"), col("server_ip"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // versa sdwan.app: lowercase-first, pri-presence rule split, per-dataset
    // kv + kind translate, alarmlog/slam/eventlog/systemload rename blocks,
    // sla alarmkey pipe-dissect, site/appliance gsub derivation; Rule-1
    // eventlog rows carry the conf's own unresolved sprintf literals
    "qsd01_sdwan" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.sdInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_provider"), col("event_kind"),
        col("log_level"), col("host_hostname"), col("observer_hostname"),
        col("organization_name"), col("error_type"), col("event_action"),
        col("event_outcome"), col("event_id_s"), col("error_message"),
        col("host_id"), col("rule_category"), col("event_type"),
        col("event_code"), col("event_reason"), col("event_severity_name"),
        col("event_start_ms"), col("event_created_ms"),
        when(size(col("related_hosts")) > 0,
          concat_ws(",", col("related_hosts"))).as("rhosts"),
        col("observer_ingress_interface_name"), col("network_direction"),
        col("rule_ruleset"), col("network_name"), col("service_type"),
        col("log_syslog_facility_code"), col("log_syslog_facility_name"),
        col("log_syslog_severity_code"), col("log_syslog_severity_name"),
        col("route_index"))),

    // skyhigh.security.mgr: NSM forwarder dissect ladder with stacked
    // categories and the rule-name paren re-append quirk
    "qsh01_secmgr" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.shmInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_category"), col("event_category"),
        col("observer_hostname"), col("source_address"), col("rule_name"),
        col("source_ip"), col("destination_ip"), col("source_port"),
        col("destination_port"), col("network_protocol"), col("event_action"),
        col("rule_description"), col("event_severity_name"),
        col("log_source_hostname"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // skyhigh.swg: double-space kv access lines, virus lines, cert-error
    // grok; rule-id → description translate (40 entries) driving the
    // allowed/denied action; ts=[...] bracket-gsub date
    "qsw01_swg" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.swgInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_original"), col("user_name"),
        col("source_ip"), col("destination_ip"), col("source_port"),
        col("destination_port"), col("network_protocol"),
        col("http_response_status_code"), col("http_request_bytes"),
        col("http_response_bytes"), col("rule_category"), col("rule_id"),
        col("rule_uuid"), col("rule_ruleset"), col("rule_name"),
        col("rule_description"), col("event_action"), col("event_risk_score"),
        col("event_severity_name"), col("observer_ip"), col("process_name"),
        col("user_agent_original"), col("tls_next_protocol"),
        col("http_request_method"), col("url_full"), col("error_id"),
        col("error_code"), col("error_message"), col("event_severity"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // skyhigh.scp: 49-column API CSV + the corpus's SECOND tld call site
    // (url.registered_domain / url.top_level_domain from url.domain)
    "qsc01_scp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.scpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("user_name"), col("user_domain"),
        col("source_ip"), col("source_nat_ip"), col("source_nat_port"),
        col("http_request_method"), col("destination_bytes"),
        col("source_bytes"), col("url_domain"), col("url_path"),
        col("url_scheme"), col("url_full"), col("url_registered_domain"),
        col("url_tld"), col("event_action"), col("rule_name"),
        col("rule_uuid"), col("rule_description"), col("rule_ruleset"),
        col("event_severity_name"), col("http_response_status_code"),
        col("user_agent_name"), col("process_name"), col("destination_ip"),
        col("destination_port"), col("network_protocol"),
        col("http_request_referrer"), col("source_address"), col("file_name"),
        col("event_risk_score"), col("service_name"), col("service_state"),
        col("cloud_provider"), col("log_source_hostname"),
        col("event_created_ms"), col("route_index"))),

    // forescout.counteract_nac: CounterAct threat-Log kv, application
    // status, NAC-policy MAC dissects, RULE 8 (trailing-space parse_rule,
    // ref :203) and the custom-action JSON inventory (RULE 11)
    "qfs01_forescout" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.fsInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_category"), col("rule_ruleset"),
        col("service_type"), col("source_ip"), col("destination_ip"),
        col("event_severity_name"), col("source_address"),
        col("host_hostname"), col("host_name"), col("log_source_hostname"),
        col("source_port"), col("process_pid"), col("service_state"),
        col("event_action"), col("rule_name"), col("source_mac"),
        col("event_start_ms"), col("event_original"), col("process_name"),
        col("user_name"), col("host_domain"), col("host_serial"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // cisco.dna: DNA-center webhook JSON with the conf's own self-defeating
    // envelope sprintf (literal hostnames), dead category translate, and
    // issue-name split; f5 gtm: 12-branch dissect ladder with the DBUG drop
    // and a severity translate whose source never exists
    "qdna01_dna" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.dnaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_category"), col("event_kind"),
        col("event_type"), col("event_provider"), col("event_id_s"),
        col("event_url"), col("error_type"), col("error_message"),
        col("event_severity"), col("event_action"), col("event_reason"),
        col("host_hostname"), col("host_domain"), col("observer_hostname"),
        col("network_name"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    "qfg01_f5gtm" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.fgInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("destination_address"),
        col("source_address"), col("process_name"), col("process_pid"),
        col("user_id"), col("user_name"), col("rule_description"),
        col("source_ip"), col("url_path"), col("event_id_s"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // lieberman erpm: XML-attribute event dissect (four shape variants),
    // map-context key extractors, swapped yyyy-dd-MM dtPostTime, and the
    // Description add_field that hides user.name behind array promotion
    "qlb02_lieberman" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.lbInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("service_type"), col("rule_id"),
        col("event_id_s"), col("event_action"), col("source_address"),
        col("source_user_name"), col("rule_description"),
        col("event_start_ms"), col("event_created_ms"), col("rule_category"),
        col("rule_ruleset"), col("process_name"), col("group_name"),
        col("user_name"), col("source_ip"), col("destination_address"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // snmp_forescout varbind kv (trailing-space keys, leading-space trap id)
    // + tenable nessus scanner (stack-dump drop, bracket-blob kv, 10e9
    // duration, the greedy-grok hostname bug) + security center pipe grok
    "qtb01_tenable" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.tbInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_kind"), col("host_hostname"),
        col("rule_description"), col("event_action"), col("event_start_ms"),
        col("event_created_ms"), col("destination_address"),
        col("destination_port"), col("process_pid"), col("event_id_s"),
        col("event_duration"), col("source_ip"), col("observer_product"),
        col("error_id"), col("error_code"), col("error_type"),
        col("event_outcome"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // tenable sc/asm APIs: JSON findings, vprContext sub-JSON mapper, the
    // CVE split{} fan-out (sub_idx 0/1 per finding), netbios/dns host
    // splits, UNIX date family, transport+port protocol backfill
    "qtv01_tenable_vuln" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.tvInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("event_severity"), col("event_severity_name"), col("host_ip"),
        col("event_id_s"), col("destination_port"), col("network_transport"),
        col("network_protocol"), col("event_start_ms"), col("event_end_ms"),
        col("host_mac"), col("service_name"), col("service_version"),
        col("rule_description"), col("vulnerability_score_base"),
        col("event_risk_score"), col("event_risk_score_norm"),
        col("event_recommendation"), col("threat_framework"),
        col("threat_list_attribute_tag"), col("threat_list_severity_name"),
        col("threat_list_comment"), col("host_hostname"), col("host_domain"),
        col("host_name"), col("cloud_account_id"),
        col("destination_user_email"), col("destination_user_name"),
        col("observer_name"), col("event_action"), col("cloud_provider"),
        col("cloud_region"), col("rule_name"), col("log_source_hostname"),
        col("event_created_ms"), col("route_index"))),

    // layer7 securespan: pri-substring gate, the RULE 1 headers+XML giant
    // dissect, ', , 200' drop, and the rest_msg branches that can only fail
    "ql701_layer7" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.l7Input(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_severity_name"), col("rule_category"),
        col("rule_description"), col("rule_ruleset"), col("file_size"),
        col("file_extension"), col("event_action"), col("process_name"),
        col("network_protocol"), col("source_address"), col("source_port"),
        col("event_start_ms"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // microsoft ata: CEF pipe dissect (both conditional branches identical),
    // root-level kv, msg= description dissect, 26-entry alert translate
    "qma01_ata" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mataInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_name"), col("rule_description"),
        col("rule_ruleset"), col("rule_category"), col("event_id_s"),
        col("event_action"), col("source_address"), col("source_user_id"),
        col("host_hostname"), col("host_domain"), col("host_name"),
        col("process_pid"), col("event_start_ms"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // spectracom ntp: 12-branch process-line ladder with dead
    // severity_name gates (the field is never set) and the XO1 day-of-year
    // clock ('yyyy D HH:mm:ss SSS')
    "qnp01_spectracom" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ntpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("process_name"), col("process_pid"),
        col("user_id"), col("group_name"), col("user_name"),
        col("rule_description"), col("source_ip"), col("source_port"),
        col("source_address"), col("event_type"), col("event_id_s"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // versa sdwan.os_ubuntu: tailf alarmman kv with the vdirector swap and
    // payload-severity override, the ']}'-tailed connection-closed dissect,
    // and the generic catch-all whose captures are all removed
    "qvo01_sdwanos" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.vosInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_provider"), col("observer_hostname"),
        col("host_hostname"), col("error_message"), col("error_type"),
        col("event_action"), col("source_ip"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("log_syslog_severity_name"), col("route_index"))),

    // a10.waf: CEF WAF grok, resets-connection dissect (success-only
    // parse_rule), persist-xff pair, literal '^A10' non-drop
    "qaw01_a10waf" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.awInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("process_name"), col("event_severity"),
        col("event_created_ms"), col("source_ip"), col("source_port"),
        col("destination_ip"), col("destination_port"), col("host_ip"),
        col("rule_name"), col("event_id_s"), col("event_action"),
        col("rule_ruleset"), col("network_protocol"),
        col("network_transport"), col("http_request_method"),
        col("url_path"), col("rule_description"), col("event_type"),
        col("user_agent_original"), col("client_ip"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // cisco.router: nine-pattern IOS grok ladder; the final remove_field
    // deletes the whole pri decode (facility/severity NULL) and all
    // observer captures; lowercased-mnemonic translate always falls back
    "qcr01_ciscorouter" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.crInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_id_s"), col("event_severity"),
        col("event_category"), col("rule_name"), col("event_action"),
        col("network_transport"), col("network_protocol"), col("source_ip"),
        col("source_port"), col("destination_ip"), col("destination_port"),
        col("network_packets"), col("error_message"), col("event_created_ms"),
        col("event_ingested_ms"), col("rule_description"),
        col("event_recommendation"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // cisco.apic: pam auth failure, packet-flags, aaa subj-[...] user split
    "qca01_ciscoapic" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.caInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("service_type"), col("event_action"),
        col("user_name"), col("user_id"), col("source_ip"),
        col("source_port"), col("destination_ip"), col("destination_port"),
        col("network_protocol"), col("rule_description"), col("event_id_s"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // cisco.stealthwatch: CSV flow / pipe-named rule / pipe-kv alarm (the
    // `=~ "|"` empty-alternation gates are vacuous — mirrored)
    "qsw02_stealthwatch" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.swtInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("source_address"), col("process_name"),
        col("process_pid"), col("source_port"), col("event_start_ms"),
        col("user_name"), col("destination_ip"), col("destination_address"),
        col("event_action"), col("rule_name"), col("source_ip"),
        col("event_duration"), col("rule_description"),
        col("destination_port"), col("network_protocol"), col("event_id_s"),
        col("event_severity_name"), col("rule_category"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // accellion.sft: httpd sessions, Download audit, sendmail family
    // (angle-bracket strip, STARTTLS cipher → tls hash quirk), message drop
    "qac01_accellion" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.acInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("process_name"), col("source_port"),
        col("source_ip"), col("source_user_email"), col("event_action"),
        col("destination_user_email"), col("observer_hostname"),
        col("observer_ip"), col("event_id_s"), col("rule_description"),
        col("source_bytes"), col("destination_bytes"), col("source_name"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // sap.onapsis: heartbeat conditional ('hearbeat' typo), incident JSON
    // (alarm collector overrides ruleset, [source][adress] typo arm,
    // 5-format GMT date list), else-branch mega-grok (top-level captures)
    "qon01_onapsis" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.onpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_category"), col("event_type"),
        col("network_protocol"), col("user_name"), col("source_ip"),
        col("destination_ip"), col("destination_address"),
        col("destination_domain"),
        col("rule_ruleset"), col("rule_description"), col("rule_name"),
        col("process_name"), col("event_original"),
        col("user_agent_original"), col("destination_user_name"),
        col("event_id_s"), col("event_severity"), col("source_port"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // symantec.dlp: 3-token syslog-date dissect, CR-separated kv body, the
    // N\/A rename-guard literal, the no-ip scrub, url-case copy split
    "qsd01_dlp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.sdlInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("rule_ruleset"), col("rule_name"),
        col("rule_description"), col("event_severity_name"),
        col("event_action"), col("network_protocol"), col("event_id_s"),
        col("file_name"), col("file_path"), col("file_target_path"),
        col("url_full"), col("rule_reference"), col("email_subject"),
        col("source_user_email"), col("destination_user_email"),
        col("user_email"), col("source_user_name"), col("user_name"),
        col("source_ip"), col("destination_address"),
        col("destination_domain"), col("host_hostname"), col("host_domain"),
        col("host_name"), col("host_id"), col("observer_hostname"),
        col("event_created_ms"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("route_index"))),

    // cisco.aci: SYSTEM_MSG bracket grok, alert/event kind, error-code
    // translate with fallback rebuild, hostname-derived network/service
    "qaci01_aci" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.aciInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_kind"), col("event_action"),
        col("event_category"), col("event_type"), col("error_code"),
        col("error_message"), col("error_type"), col("event_reason"),
        col("event_recommendation"), col("event_severity"),
        col("log_level"), col("host_hostname"), col("network_name"),
        col("service_type"), col("observer_hostname"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        col("log_syslog_facility_name"), col("event_created_ms"),
        col("route_index"))),

    // cisco.wireless.control.system: colon-ladder dissects, optional
    // leading-MAC grok, 10-arm rule.name category cascade
    "qwl01_wlc" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.wlcInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("technology"), col("parse_rule"), col("event_module"),
        col("event_dataset"), col("event_id_s"), col("rule_name"),
        col("rule_description"), col("rule_category"), col("host_mac"),
        col("source_address"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("route_index"))),

    // azure.eventhub.atp: records[] split, dataset-overwrite quirk, both
    // source-ip renames, SHA1/SHA256 parent mis-mapping, lowercase
    // versioninfo last-wins pairs, four per-clone ISO dates
    "qeh10_atp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.eatInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("agent_name"), col("log_source_hostname"), col("event_module"),
        col("event_dataset"), col("route_index"), col("event_created_ms"),
        col("event_ingested_ms"), col("cloud_account_id"),
        col("event_action"), col("event_outcome"), col("event_original"),
        col("container_id"), col("cloud_instance_id"),
        col("cloud_instance_name"), col("file_name"), col("source_ip"),
        col("http_request_referrer"), col("url_full"), col("file_size"),
        col("file_path"), col("user_domain"), col("user_name"),
        col("process_command_line"), col("process_start_ms"),
        col("process_name"), col("process_pid"), col("process_hash_md5"),
        col("process_parent_start_ms"), col("process_parent_name"),
        col("process_parent_pid"), col("process_parent_hash_sha1"),
        col("process_parent_hash_sha256"),
        when(size(col("file_hash_md5")) > 0,
          concat_ws(",", col("file_hash_md5"))).as("fh_md5"),
        when(size(col("file_hash_sha1")) > 0,
          concat_ws(",", col("file_hash_sha1"))).as("fh_sha1"),
        when(size(col("file_hash_sha256")) > 0,
          concat_ws(",", col("file_hash_sha256"))).as("fh_sha256"),
        col("rule_id"), col("source_user_domain"), col("source_user_id"),
        col("alarm_id"), col("network_protocol"), col("source_port"),
        col("process_pe_company"), col("process_pe_description"),
        col("process_pe_file_version"),
        col("process_pe_original_file_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // azure.eventhub.security: space-stripping gsub, json_encode message,
    // envelope [tmp] riding every split clone, FileHashes entity ruby
    "qeh11_seccenter" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehcInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("agent_name"), col("log_source_hostname"), col("event_module"),
        col("event_dataset"), col("route_index"), col("event_created_ms"),
        col("message"), col("rule_name"), col("event_category"),
        col("event_severity_name"), col("event_recommendation"),
        col("rule_version"), col("event_reference"), col("event_type"),
        col("error_code"), col("event_action"), col("log_level"),
        col("rule_description"), col("source_ip"), col("rule_category"),
        col("host_geo_name"), col("event_start_ms"), col("host_os_version"),
        col("event_duration"), col("event_id_s"),
        col("threat_tactic_name"), col("event_url"),
        when(size(col("file_hash_md5")) > 0,
          concat_ws(",", col("file_hash_md5"))).as("fh_md5"),
        when(size(col("file_hash_sha1")) > 0,
          concat_ws(",", col("file_hash_sha1"))).as("fh_sha1"),
        when(size(col("file_hash_sha256")) > 0,
          concat_ws(",", col("file_hash_sha256"))).as("fh_sha256"),
        when(size(col("file_hash_sha512")) > 0,
          concat_ws(",", col("file_hash_sha512"))).as("fh_sha512"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // azure.graph_data: \' gsub pre-parse, name-clobbers-start,
    // fileStates list overwrite, hostStates fan-out, dead ip probes
    "qgr01_graphsec" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.graInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("cloud_provider"), col("log_source_hostname"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"),
        col("event_end_ms"), col("event_modified_ms"),
        col("rule_category"), col("event_risk_score_norm"),
        col("rule_description"), col("event_id_s"),
        col("event_severity_name"), col("rule_reference"),
        col("event_kind"), col("source_as_organization_name"),
        col("client_as_organization_name"), col("observer_vendor"),
        col("user_domain"), col("user_email"), col("event_type"),
        col("host_geo_location"), col("file_path"),
        when(size(col("file_hash_md5")) > 0,
          concat_ws(",", col("file_hash_md5"))).as("fh_md5"),
        when(size(col("file_hash_sha256")) > 0,
          concat_ws(",", col("file_hash_sha256"))).as("fh_sha256"),
        col("host_hostname"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // riverbed.netim: lowercase-first header dissect, app-severity RFC5424
    // remap, dual self-targeting kv, sample map -> [labels] via
    // json_encode/gsub/json, CST6CDT crossed-at date
    "qrv01_netim" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.rvbInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("event_created_ms"), col("host_ip"),
        col("host_hostname"), col("rule_category"), col("rule_ruleset"),
        col("event_reason"), col("event_action"), col("event_category"),
        col("event_kind"), col("event_outcome"),
        col("observer_ingress_interface_alias"),
        col("observer_ingress_interface_id"),
        col("observer_ingress_interface_name"), col("error_message"),
        col("event_start_ms"), col("labels_tags"),
        col("log_syslog_severity_code"), col("log_syslog_severity_name"),
        col("log_syslog_facility_code"), col("log_syslog_facility_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // aws.app: journald/k8s rename blocks, nested-JSON jtmp payload,
    // bounded-UNIX microsecond created, skip_on_invalid_json drop
    "qap02_awsapp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.appInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("log_source_hostname"), col("event_created_ms"),
        col("event_ingested_ms"), col("process_executable"),
        col("process_name"), col("process_entity_id"),
        col("process_parent_command_line"), col("process_parent_name"),
        col("service_name"), col("process_pgid"), col("process_pid"),
        col("process_command_line"), col("file_uid"), col("group_name"),
        col("network_transport"), col("host_id"),
        col("log_origin_function"), col("log_origin_file_line"),
        col("host_hostname"), col("log_syslog_facility_name"),
        col("log_syslog_priority"), col("log_syslog_facility_code"),
        col("cloud_instance_name"), col("container_id"),
        col("container_runtime"), col("container_image_tag"),
        col("container_image_name"), col("container_name"),
        col("cloud_instance_id"), col("cloud_project_id"),
        when(size(col("cloud_project_name")) > 0,
          concat_ws(",", col("cloud_project_name"))).as("cloud_project_name_s"),
        col("cloud_account_name"),
        col("cloud_service_name"), col("cloud_machine_type"),
        col("event_kind"), col("event_provider"),
        col("dns_answers_class"), col("log_syslog_severity_name"),
        col("log_level"), col("log_syslog_severity_code"),
        col("log_logger"), col("process_thread_name"),
        col("error_message"), col("trace_id"), col("span_id"),
        col("file_name"), col("file_type"), col("file_mime_type"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // tanium.inventory: braced-prefix grok, Intel Type dataset overwrite,
    // "[current result unavailable]" sweeps, M/d/yyyy install date
    "qti01_taninv" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.tinInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("host_hostname"), col("host_name"),
        col("host_os_name"), col("host_os_installation_date_ms"),
        col("host_serial"), col("host_domain"), col("host_mac"),
        col("host_ip"), col("source_ip"), col("source_nat_ip"),
        col("observer_hostname"), col("host_logged_in_users"),
        col("host_last_logged_in_user"), col("host_timezone"),
        col("host_manufacturer"), col("host_model"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // virtustream.linux: forwarder envelope renames, logstash self-log
    // grok with ruby exception suffix, three envelope dates
    "qvl01_virtlinux" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.vlInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("host_os_type"), col("log_source_hostname"),
        col("log_syslog_facility_name"), col("event_type"),
        col("event_kind"), col("observer_version"), col("event_original"),
        col("log_syslog_facility_code"), col("process_pid"),
        col("log_syslog_priority"), col("log_source_ip"),
        col("log_syslog_severity_code"), col("process_parent_name"),
        col("process_name"), col("process_id"), col("event_action"),
        col("error_message"), col("error_type"), col("event_created_ms"),
        col("event_start_ms"), col("event_ingested_ms"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // pingfederate.auth: drop rules, newline/double-space gsubs, braced
    // trace-id dissect, 187/188 rule ladder, level translate
    "qpf01_pingfed" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.pfInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("log_level"), col("event_created_ms"), col("source_address"),
        col("log_logger"), col("rule_description"),
        col("http_request_method"), col("url_full"), col("error_code"),
        col("rule_category"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // riverbed.audit: quote/tab/CR scrubs, three dissect rules, all
    // captures but user/host discarded by the conf's own sweep
    "qra01_rvbaudit" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.rauInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("user_name"), col("host_hostname"),
        col("host_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // riverbed.vnes: broken dissect-2 literal tail + trailing-dot ip grok
    "qrn01_vnes" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.rvnInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_level"), col("rule_description"),
        col("source_ip"), col("user_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // riverbed.scportal: dict-key source.address, Start double-space
    // delimiter, trailing-space RULE 4 mapping, workflow drop
    "qrs01_scportal" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.rscInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("host_hostname"), col("host_name"),
        col("source_address"), col("event_action"), col("event_start_ms"),
        col("process_pid"), col("rule_category"), col("log_level"),
        col("rule_description"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // riverbed.opnetreport: five-rule ladder keyed on the hard-coded 2019
    "qro01_opnet" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ropInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_level"), col("event_original"),
        col("file_path"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // ubiquiti bridge: folded-frame gsubs, three timestamp-skip dissects,
    // copy-based bad-pw/child/login refinements, ip:port self-redissect
    "qub01_ubiqbridge" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ubbInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("rule_description"), col("observer_type"),
        col("user_name"), col("source_ip"), col("source_port"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // ubiquiti controller: filebeat envelope renames, yyy.MM.dd date,
    // hostname copied to host.name then renamed away to log.source.hostname
    "qub02_ubiqctrl" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ubcInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_provider"), col("event_category"),
        col("observer_product"), col("observer_type"), col("observer_vendor"),
        col("organization_name"), col("host_hostname"), col("host_name"),
        col("log_source_hostname"), col("log_offset"), col("log_file_path"),
        col("ecs_version"), col("event_description"), col("service_name"),
        col("event_type"), col("rule_description"), col("user_name"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // cisco wireless ap: RULE 2 colon guard bug, parse_rule array join,
    // asterisk/apname clock refinements, sprintf-literal date failure
    "qcw01_ciscoap" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.cwaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("rule_name"), col("rule_description"),
        col("event_action"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // cisco waas: lowercased rest_msg, service.type overwrite, shared
    // rule-2/other mapping, cascading main+other dissect failures
    "qcs01_waas" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.cwsInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("service_type"), col("event_code"),
        col("event_action"), col("user_name"), col("user_id"),
        col("source_ip"), col("source_port"), col("destination_ip"),
        col("destination_port"), col("rule_description"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // apache rsyslog envelope: dissected (not json-parsed), per-branch
    // "}-junk gsubs, ::1 nat rewrites, string ingested date -> _ei tag
    "qah01_apache" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.apaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_kind"), col("host_name"),
        col("log_syslog_priority"), col("log_syslog_facility_code"),
        col("host_user_name"), col("log_logger"), col("log_source_hostname"),
        col("client_nat_ip"), col("server_port"), col("http_request_method"),
        col("url_full"), col("url_query"), col("network_protocol"),
        col("http_response_status_code"), col("client_bytes"),
        col("process_uptime"), col("dns_header_flags"), col("user_agent_name"),
        col("network_forwarded_ip"), col("log_level"), col("process_pid"),
        col("log_origin_file_name"), col("file_name"), col("file_path"),
        col("event_reason"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // apache.audit: quote gsubs, five-rule error.type ladder, sprintf ip copy
    "qae01_apacheaudit" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.apeInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_level"), col("source_address"),
        col("source_ip"), col("error_type"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // mwg proxy: underscore/newline fold gsubs into comma-colon kv,
    // entry-overwrites-source-id rename pair, event.original case kept
    "qmw01_mwgproxy" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mwgInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("source_user_name"), col("event_action"),
        col("process_name"), col("event_category"), col("source_ip"),
        col("source_user_group_name"), col("user_agent_original"),
        col("source_address"), col("file_path"), col("event_original"),
        col("observer_hostname"), col("log_source_hostname"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // iis flat file: root-resolved bracket csv columns, dead dotted renames,
    // XFF copy pair, sprintf log.source.hostname before renames
    "qis01_iisflat" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.iifInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"),
        col("destination_address"), col("source_ip"), col("source_port"),
        col("client_ip"), col("observer_ip"), col("http_request_method"),
        col("url_path"), col("url_query"), col("user_name"),
        col("tls_next_protocol"), col("user_agent_version"),
        col("http_request_referrer"), col("http_response_status_code"),
        col("http_response_bytes"), col("http_request_bytes"),
        col("event_duration"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // jira: Container dissect vs duplicate-named-group session groks,
    // action1+action2 sprintf rebuild, dash gsub, "/" url-tree drop
    "qji01_jira" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.jirInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("host_hostname"), col("log_source_hostname"),
        col("log_file_path"), col("event_original"), col("process_thread_name"),
        col("event_action"), col("user_name"), col("file_name"),
        col("source_ip"), col("network_forwarded_ip"), col("url_path"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // jira.audit: double-encoded record, changedValues ruby fold,
    // hostname copied into both ip fields with the ip- gsub on host.ip only
    "qji02_jiraaudit" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.jiaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"),
        col("log_source_ip"), col("host_ip"), col("log_file_path"),
        col("user_id"), col("event_action"), col("event_category"),
        col("url_full"), col("user_email"), col("user_full_name"),
        col("user_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // bomgar: header unix clock string -> _es tag, kv target overwrite of
    // destination.address, who_ip strip, action translate with fallback
    "qbg01_bomgar" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.bgrInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"),
        col("destination_address"), col("host_geo_country_iso_code"),
        col("event_action"), col("rule_ruleset"), col("host_hostname"),
        col("event_outcome"), col("user_name"), col("source_ip"),
        col("rule_category"), col("log_source_hostname"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // tufin: five-rule ladder, SC user-id gsubs, broken remove refs,
    // dead severity_name translate (rule.category always empty)
    "qtf01_tufin" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.tufInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("destination_domain"), col("user_id"),
        col("server_address"), col("observer_name"), col("source_ip"),
        col("destination_host_name"), col("destination_ip"),
        col("destination_port"), col("server_host_name"), col("rule_category"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // hp.nnm: newline/tab dissect + kv, @realm strip on failed logins,
    // space-joined clock never parses (always _dateparsefailure + _ec)
    "qhp01_hpnnm" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.hpnInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_action"), col("client_user_name"),
        col("client_user_roles"), col("client_address"), col("client_port"),
        col("destination_address"), col("destination_port"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // oci.cloudguard: backslash gsub + quote-gsub'd embedded dict reparse
    "qoc01_cloudguard" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ocgInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"),
        col("event_provider"), col("cloud_region"), col("event_reason"),
        col("dns_answers_type"), col("rule_description"), col("rule_category"),
        col("service_state"), col("event_start_ms"), col("event_end_ms"),
        col("event_ingested_ms"), col("event_type"), col("event_recommendation"),
        col("file_gid"), col("rule_id"), col("cloud_provider"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // oci.object: flat envelope renames, three iso dates
    "qoc02_ociobject" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.oobInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"), col("event_type"),
        col("event_provider"), col("event_category"), col("client_ip"),
        col("event_end_ms"), col("event_start_ms"), col("event_ingested_ms"),
        col("cloud_region"), col("error_code"), col("event_action"),
        col("http_request_method"), col("url_path"),
        col("http_response_status_code"), col("user_agent_original"),
        col("cloud_account_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // jamf: dotted event.description key, ruby array folds, broken
    // field-ref date guard
    "qjp01_jamf" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.jmfInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"), col("host_ip"),
        col("host_serial"), col("host_name"), col("file_path"),
        col("event_description"), col("event_type"), col("event_provider"),
        col("cloud_provider"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // sap.btp: triple-encoded record, hash-lowercase no-op, email grok
    "qsb01_sapbtp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.btpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"), col("service_id"),
        col("event_category"), col("rule_uuid"), col("cloud_project_id"),
        col("cloud_instance_id"), col("cloud_account_id"), col("event_type"),
        col("source_ip"), col("user_name"), col("email_subject"),
        col("user_email"), col("event_code"),
        md5(col("event_original")).as("event_original_md5"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // o365.dlp: backwards merge (dest = doomed envelope field), To array
    // nulls the flat email column
    "qdl02_o365dlpapi" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.odlInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"), col("event_action"),
        col("user_id"), col("observer_vendor"), col("destination_user_email"),
        col("source_user_email"), col("file_size"), col("email_subject"),
        col("log_source_hostname"), col("cloud_provider"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // azure graph identity protection: riskEventTypes-vs-activity fallback,
    // mismatched date-failure guard
    "qgi01_graphident" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.gipInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_outcome"), col("rule_category"),
        col("rule_description"), col("event_kind"), col("client_ip"),
        col("source_geo_city"), col("user_email"), col("user_name"),
        col("observer_product"), col("source_as_organization_name"),
        col("event_type"), col("log_source_hostname"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // scorecard: dst_host overwrite on dns.answers.name, public scan ips
    "qss01_scorecard" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.sscInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"), col("event_end_ms"),
        col("network_protocol"), col("url_full"), col("host_domain"),
        col("user_agent_original"), col("source_ip"), col("service_state"),
        col("rule_reference"), col("rule_description"), col("network_transport"),
        col("destination_port"), col("destination_ip"), col("event_kind"),
        col("log_source_hostname"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // ad users: undated list index override, literal sprintf fallbacks
    "qad01_adusers" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.aduInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_ingested_ms"),
        col("log_source_hostname"), col("file_path"), col("user_full_name"),
        col("user_name"), col("user_id"), col("user_domain"),
        col("user_email"), col("user_roles"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // virtustream.windows: rename-overwrite chains, literal message update,
    // x1e7 duration
    "qvw01_virtwin" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.vwInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("message"), col("event_created_ms"), col("event_start_ms"),
        col("event_ingested_ms"), col("destination_domain"), col("error_code"),
        col("host_name"), col("host_ip"), col("source_port"), col("user_id"),
        col("user_name"), col("event_type"), col("event_severity"),
        col("source_user_id"), col("source_user_name"), col("source_user_domain"),
        col("process_name"), col("process_pid"), col("event_duration"),
        col("source_address"), col("log_level"), col("event_severity_name"),
        col("event_category"), col("rule_category"), col("process_parent_name"),
        col("event_provider"), col("log_source_hostname"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // impala: wrapper grok + unescape, always-true outcome literal,
    // dead second catalog rename
    "qim01_impala" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.impInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("source_ip"), col("source_port"),
        col("user_name"), col("database_query"), col("event_action"),
        col("database_table"), col("event_type"), col("event_kind"),
        col("event_outcome"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // tenable security center: untagged app grok fails OS lines
    "qtc01_tenablesc" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.tscInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_kind"), col("host_hostname"),
        col("observer_product"), col("event_action"), col("error_id"),
        col("error_code"), col("error_type"), col("event_outcome"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // sap cloud connector: header drop, lowercased dissect, T-join gsub
    "qsc02_sapcc" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.sccInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_action"), col("user_name"),
        col("process_name"), col("destination_address"), col("destination_port"),
        col("file_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // citrix.admin: copy-based ECS mapping, boolean truthiness branch,
    // the sss/lowercase date-format bug pair
    "qct01_citrixadmin" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ctaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"), col("event_end_ms"),
        col("error_message"), col("source_ip"), col("user_id"),
        col("event_kind"), col("user_agent_name"), col("user_email"),
        col("user_domain"), col("user_name"), col("event_action"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // aws.lb: verbatim mega-grok with the missing-space field shift
    "qlb02_awslb" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.albInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_ingested_ms"), col("url_scheme"),
        col("cloud_instance_name"), col("log_source_hostname"),
        col("source_ip"), col("source_port"), col("destination_ip"),
        col("destination_port"), col("event_duration"), col("event_severity"),
        col("event_category"), col("event_reason"),
        col("http_response_status_code"), col("http_request_bytes"),
        col("http_response_bytes"), col("http_request_method"),
        col("url_full"), col("url_domain"), col("tls_next_protocol"),
        col("user_agent_name"), col("tls_cipher"), col("tls_version_protocol"),
        col("trace_id"), col("rule_name"), col("http_request_referrer"),
        col("cloud_provider"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // skyhigh.atd: Summary vs flat rename trees, MWG/animalized default
    "qsa01_skyhighatd" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.atdInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"), col("source_address"),
        col("process_name"), col("process_pid"), col("source_ip"),
        col("user_name"), col("destination_ip"), col("destination_port"),
        col("file_name"), col("file_type"),
        array_join(col("file_hash_md5"), ",").as("file_md5_s"),
        array_join(col("file_hash_sha256"), ",").as("file_sha256_s"),
        col("file_size"), col("event_severity"), col("event_severity_name"),
        col("event_action"), col("url_full"), col("threat_technique_name"),
        col("threat_tactic_name"), col("rule_description"),
        col("log_syslog_severity_code"), col("log_syslog_facility_code"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // preempt: flat "parsing rule" field, backslash domain split, broken
    // end-date formats
    "qpe01_preempt" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.preInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_start_ms"), col("event_end_ms"),
        col("log_level"), col("rule_name"), col("rule_description"),
        col("rule_uuid"), col("user_domain"), col("user_name"),
        col("source_ip"), col("host_hostname"), col("host_name"),
        col("rule_ruleset"), col("event_reference"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // skyhigh_scal: whole-message lowercase, surname-first full_name,
    // UNIX_MS clocks
    "qsl01_scalaudit" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.sclInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_ingested_ms"), col("source_ip"),
        col("host_hostname"), col("service_version"), col("cloud_account_id"),
        col("process_name"), col("event_category"), col("event_code"),
        col("event_kind"), col("error_message"), col("error_type"),
        col("user_email"), col("user_id"), col("user_full_name"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // infoblox ftp_gzip dns: three-pattern query grok, shuffled answer
    // grok, missing-tail default _grokparsefailure
    "qif01_infobloxftp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ifxInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("log_source_hostname"), col("source_ip"),
        col("source_port"), col("network_transport"), col("dns_op_code"),
        col("dns_question_name"), col("dns_question_class"),
        col("dns_question_type"), col("dns_response_code"),
        col("dns_header_flags"), col("dns_resolved_ip"),
        col("dns_answers_data"), col("dns_id"), col("dns_answers_class"),
        col("dns_answers_type"), col("dns_answers_name"), col("url_full"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // windows.exporter: double-encoded Payload fold, ==-regex dead branch,
    // 7-digit clock trim
    "qwx01_winexport" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.wxpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_provider"), col("event_outcome"),
        col("event_action"), col("event_reason"), col("event_kind"),
        col("event_type"), col("process_entity_id"), col("process_pid"),
        col("host_type"), col("file_path"), col("user_name"),
        col("package_name"), col("process_name"), col("destination_domain"),
        col("destination_user_id"), col("source_port"), col("source_ip"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // forescout push: kv inventory, dhcp-overwrites-netbios hostname,
    // seconds-as-UNIX_MS clock bug
    "qfd01_forescoutinv" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.fsdInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("host_hostname"), col("dns_answers_name"),
        col("user_name"), col("user_id"), col("event_action"), col("host_ip"),
        col("host_mac"), col("host_manufacturer"), col("host_type"),
        col("host_os_name"), col("host_model"),
        col("observer_ingress_interface_alias"), col("network_name"),
        col("observer_name"), col("observer_ip"), col("host_serial"),
        col("observer_ingress_interface_name"),
        col("observer_ingress_interface_id"),
        array_join(array_sort(col("tags")), ",").as("tags_s"))),

    // entrust mpki kv + cisco.mso fluentd refinement dissects
    "qmp01_mpki" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("event_created_ms"),
        col("user_name"), col("rule_description"))),

    // sap tcodes (compact date, value_header[0] probes, client_pc migrated
    // to source.address) + riverbed stdout bracketed-line branches
    "qsp01_sap" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.spInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("event_created_ms"), col("event_reason"),
        col("agent_name"), col("source_ip"), col("source_address"),
        col("user_name"), col("group_id"), col("process_name"),
        col("rule_name"), col("rule_id"), col("rule_description"),
        col("rule_category"), col("host_id"), col("host_hostname"),
        col("log_source_hostname"), col("log_level"), col("file_path"))),

    // oci.vcn flow logs + aix embedded-JSON audit re-dissect
    "qvx01_vcnaix" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.vxInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("cloud_provider"), col("log_source_hostname"),
        col("event_action"), col("network_bytes"), col("destination_ip"),
        col("destination_port"), col("network_transport"),
        col("network_iana_number"), col("network_packets"), col("source_ip"),
        col("source_port"), col("rule_description"), col("event_ingested_ms"),
        col("rule_version"), col("event_start_ms"), col("event_type"),
        col("rule_uuid"), col("event_created_ms"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("event_severity"), col("user_name"), col("process_command_line"),
        col("event_original"))),

    // as400 dotted-time JSON audit + dell.drac action-refining dissects
    "qa401_as400" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.a4Input(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("event_created_ms"),
        col("host_name"), col("log_source_hostname"), col("event_id_s"),
        col("process_command_line"), col("host_ip"), col("rule_name"),
        col("rule_id"), col("user_name"), col("event_action"),
        col("source_ip"), col("service_name"))),

    // checkpoint fw-audit branches, hms tab-kv (severity killed by long
    // coercion), ansible path groks (dead Dev pattern + quoted-literal if)
    "qch01_cpops" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.chInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("event_created_ms"),
        col("observer_name"), col("rule_description"), col("user_id"),
        col("network_protocol"), col("user_name"), col("network_name"),
        col("service_type"), col("source_ip"), col("source_port"),
        col("database_instance"), col("event_severity"), col("user_roles"),
        col("event_provider"), col("process_command_line"), col("url_path"),
        col("file_directory"), col("file_name"))),

    // mcas (date probes created but timestamp landed in start — dead),
    // redhat (uppercase sudo kv keys kill all three renames), trendmicro
    // forwarder (json envelope + pipe dissect + space kv)
    "qmc01_mcas" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mcInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("log_source_hostname"), col("route_index"), col("cloud_provider"),
        col("event_created_ms"), col("event_id_s"), col("event_severity"),
        col("event_risk_score"), col("event_category"), col("event_url"),
        col("user_name"), col("user_email"), col("event_reason"),
        col("event_action"), col("event_start_ms"), col("agent_name"),
        col("process_name"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("host_hostname"),
        col("event_provider"), col("rule_version"), col("event_type"),
        col("source_ip"), col("destination_ip"), col("source_port"),
        col("destination_port"), col("source_mac"), col("network_transport"),
        col("host_id"), col("source_bytes"))),

    // rsa.auth (numeric pri vs string translate keys → fallback always; the
    // Joda yyyy-mm-dd minute-collision date; double source.ip capture) +
    // gitguardian (scalar related.hash, undated resolved_at)
    "qrg01_rsagg" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.rgInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("event_created_ms"),
        col("event_start_ms"), col("source_ip"), col("destination_ip"),
        col("rule_ruleset"), col("rule_description"), col("user_id"),
        col("source_address"), col("source_domain"), col("rule_category"),
        col("event_id_s"),
        array_join(array_sort(col("related_hash")), ",").as("related_hash_s"),
        col("rule_name"), col("user_email"), col("file_path"),
        col("event_end_ms"), col("log_source_hostname"))),

    // ghe (no single-digit-day date form → created default on days 1-9),
    // oci.audit (post-rename hostname sprintf), aws.cloudflare (malformed
    // Action target read as the [event][action] typo, UNIX_MS date)
    "qgo01_gheoci" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.goInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("log_source_hostname"), col("route_index"), col("event_created_ms"),
        col("client_port"), col("http_request_bytes"), col("url_query"),
        col("http_version"), col("client_ip"),
        col("http_response_status_code"), col("http_request_method"),
        col("service_name"), col("process_pid"), col("rule_description"),
        col("cloud_provider"), col("event_category"), col("event_type"),
        col("event_id_s"), col("event_start_ms"), col("source_ip"),
        col("user_name"), col("user_agent_original"), col("url_path"),
        col("event_action"), col("event_code"), col("url_domain"),
        col("http_response_bytes"), col("rule_id"))),

    // nist known-good hash feed (hashes surface via related.hash), sysdig
    // scan, kafka.error (beats mode)
    "qnk01_nist" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.nkInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("log_source_hostname"), col("route_index"), col("event_created_ms"),
        col("file_name"), col("file_size"),
        array_join(array_sort(col("related_hash")), ",").as("related_hash_s"),
        col("user_email"), col("url_full"), col("host_hostname"),
        col("agent_name"), col("event_kind"), col("file_path"),
        col("file_type"), col("event_severity_name"), col("service_name"),
        col("user_roles"))),

    // syncplicity admin (column-less csv → nothing visible) + user 32-col
    // csv + security scorecard JSON, one mixed frame
    "qsy01_syncplicity" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.syInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("log_source_hostname"), col("route_index"), col("cloud_provider"),
        col("event_created_ms"), col("file_directory"), col("event_id_s"),
        col("source_user_email"), col("file_path"), col("file_type"),
        col("file_name"), col("event_action"), col("rule_category"),
        col("rule_ruleset"), col("event_start_ms"), col("user_full_name"),
        col("user_email"), col("host_hostname"), col("host_name"),
        col("source_ip"), col("rule_name"), col("destination_user_email"),
        col("event_duration"), col("event_end_ms"), col("client_domain"),
        col("event_severity"), col("event_outcome"), col("event_sequence"),
        col("event_provider"), col("event_kind"))),

    // four beats-envelope agents in one frame (tanium/rundeck/hadoop/es)
    "qba01_beats" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.baInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("event_created_ms"),
        col("log_source_hostname"), col("host_hostname"), col("agent_name"),
        col("event_kind"), col("file_path"), col("file_type"),
        col("event_severity_name"), col("service_name"), col("user_roles"),
        col("user_name"), col("message"))),

    // seven small header/labeler technologies in ONE mixed-tool frame;
    // none sets a parse rule, so parse_rule stays 'not parsed' at parse_ok 1
    "qhx01_small" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.hxInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("technology"), col("event_module"), col("event_dataset"),
        col("route_index"), col("log_syslog_facility_code"),
        col("log_syslog_severity_code"), col("event_created_ms"),
        col("user_name"), col("client_ip"), col("event_category"),
        col("event_type"), col("event_outcome"), col("event_action"))),

    // securityonion.zeek: beats envelope via json input codec, the
    // ~170-entry rename block, per-kind branches, boolean tag ladder
    "qzk01_zeek" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.zkInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("event_kind"),
        col("event_category"), col("log_source_hostname"), col("route_index"),
        col("event_created_ms"), col("source_ip"), col("source_port"),
        col("destination_ip"), col("destination_port"), col("network_protocol"),
        col("event_id_s"), col("rule_uuid"), col("source_bytes"),
        col("destination_bytes"), col("event_duration"), col("service_state"),
        col("service_name"), col("network_bytes"), col("transaction_id"),
        col("http_request_method"), col("url_domain"), col("url_query"),
        col("http_response_status_code"), col("event_action"),
        col("http_request_mime_type"), col("http_request_referrer"),
        col("user_agent_original"), col("source_user_email"),
        col("email_subject"), col("destination_user_email"), col("file_path"),
        col("user_full_name"), col("destination_domain"), col("process_name"))),

    // securityonion.suricata: EVE JSON renames, alert vs non-alert shapes
    "qso01_suricata" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.soInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("event_type"), col("source_ip"),
        col("destination_ip"), col("source_port"), col("destination_port"),
        col("network_protocol"), col("event_action"), col("event_category"),
        col("event_severity"), col("rule_description"), col("event_id_s"),
        col("observer_ingress_interface_id"), col("rule_uuid"), col("rule_id"),
        col("rule_name"), col("rule_version"), col("event_outcome"),
        col("log_source_hostname"))),

    // apache.access: header/no-header dissects, status-code ladder with
    // stacked parse_rule, RULE 2's unparsed date_time (created default)
    "qap01_apache" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.apInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("source_ip"), col("http_request_method"),
        col("url_path"), col("http_version"), col("http_response_status_code"),
        col("http_response_bytes"), col("rule_category"))),

    // o365 dlp: the double event.module add_field (array → null column)
    "qdl01_o365dlp" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.dlpInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("agent_name"),
        col("log_source_hostname"), col("route_index"), col("rule_category"),
        col("event_id_s"), col("group_id"), col("event_severity_name"),
        col("event_outcome"), col("event_type"), col("observer_product"),
        col("event_kind"), col("rule_description"), col("event_created_ms"),
        col("event_start_ms"), col("event_end_ms"), col("event_modified_ms"),
        col("host_id"), col("host_hostname"), col("user_name"))),

    // o365 msg-tracking
    "qmt01_msgtrkg" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mtInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_dataset"), col("agent_name"), col("log_source_hostname"),
        col("route_index"), col("event_id_s"), col("source_user_email"),
        col("destination_user_email"), col("email_subject"), col("event_action"),
        col("destination_ip"), col("source_ip"), col("source_bytes"),
        col("event_start_ms"), col("event_end_ms"), col("event_created_ms"))),

    // azure fw/dns/ids/proxy flow hub: kind-keyed dataset translate with
    // fallback, old-style msg groks, empty-capture protocol scrubbed
    "qfw01_azurefw" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.fwInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("event_kind"),
        col("log_source_hostname"), col("route_index"), col("event_created_ms"),
        col("network_transport"), col("source_ip"), col("source_port"),
        col("rule_description"), col("event_action"), col("destination_ip"),
        col("destination_port"), col("rule_category"), col("event_severity"),
        col("rule_id"), col("rule_ruleset"), col("rule_name"),
        col("observer_name"), col("event_category"), col("event_reason"),
        col("url_registered_domain"), col("url_full"), col("error_message"),
        col("network_protocol"))),

    // proofpoint.pod: scalar-vs-array recipients, bracketed host strip +
    // host-split interplay, msgParts lists landing arrays on scalar columns
    "qpo01_pod" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.podInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("log_source_hostname"),
        col("route_index"), col("cloud_provider"), col("observer_vendor"),
        col("observer_product"), col("event_created_ms"), col("rule_uuid"),
        col("observer_name"), col("event_outcome"), col("file_path"),
        col("rule_name"), col("network_direction"), col("event_start_ms"),
        col("source_bytes"), col("source_ip"), col("source_address"),
        col("source_domain"), col("email_subject"),
        col("destination_user_email"), col("source_user_email"),
        col("network_protocol"), col("file_name"), col("file_size"),
        col("url_full"))),

    // misp.metrics feeder end-to-end: the attribute normalizer whose output
    // builds the IOC store (MispFeeder); exercises mac 1D/2D normalization,
    // the mitre tag ruby, translates, dates, drop and delete branches
    "qmf01_mispfeed" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mfInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("log_source_hostname"),
        col("observer_vendor"), col("observer_product"), col("route_index"),
        col("event_category"), col("event_created_ms"),
        col("threat_list_uuid"), col("threat_list_type"),
        col("threat_list_ioc"), col("threat_list_event_id_s"),
        col("threat_list_start_ms"), col("threat_list_created_ms"),
        col("threat_list_severity_name"), col("threat_list_event_analysis"),
        col("threat_list_distribution"), col("threat_list_safe_to_enable_ids"),
        col("threat_list_source_org"), col("threat_list_event_info"),
        col("threat_list_object_relation"), col("threat_list_comment"),
        col("threat_list_category"), col("threat_framework"),
        array_join(array_sort(col("threat_technique_id")), ",").as("threat_technique_id_s"),
        col("source_ip"), col("source_mac"), col("file_name"),
        col("url_domain"), col("url_full"), col("host_hostname"),
        col("host_domain"), col("host_name"), col("destination_port"))),

    // infoblox.ipam_audit end-to-end: 12 of 18 rules, flat source_ip header
    // capture vs nested renames, double source-port captures, Joda YYYY
    "qib01_infoblox" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ibInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("event_created_ms"), col("process_name"), col("source_port"),
        col("source_ip"), col("source_mac"), col("source_address"),
        col("destination_ip"), col("destination_port"), col("network_name"),
        col("network_protocol"), col("rule_description"), col("rule_category"),
        col("event_action"), col("event_id_s"), col("event_start_ms"),
        col("host_hostname"), col("host_domain"), col("host_name"),
        col("log_source_hostname"))),

    // juniper.fw_traffic end-to-end: 14 branches over 24 rules, stacked
    // umbrella parse_rules, dead dotted-key renames, skip-captured created
    "qjn01_juniper" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.jnInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("log_syslog_facility_code"), col("log_syslog_severity_code"),
        col("event_created_ms"), col("rule_name"), col("rule_category"),
        col("rule_id"), col("rule_description"), col("rule_ruleset"),
        col("source_ip"), col("source_port"), col("destination_ip"),
        col("destination_port"), col("service_name"), col("user_name"),
        col("source_domain"), col("destination_domain"),
        col("network_iana_number"), col("network_name"), col("event_action"),
        col("source_nat_ip"), col("destination_nat_ip"), col("event_duration"),
        col("source_bytes"), col("destination_bytes"), col("error_message"),
        col("event_original"), col("url_path"),
        col("observer_ingress_interface_id"),
        col("observer_ingress_interface_name"), col("host_ip"),
        col("host_hostname"), col("host_name"), col("source_address"),
        col("group_id"))),

    // symantec.endpoint_protection end-to-end: 12 message families, stacked
    // parse_rule arrays from the chained else-ladders, malformed dissect keys
    // on the Agent Scan branch, kv re-dissect of somedata, sequence copy
    "qse01_symantec" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.symInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_module"), col("event_dataset"), col("route_index"),
        col("log_syslog_facility_code"), col("log_syslog_facility_name"),
        col("log_syslog_severity_code"), col("log_syslog_severity_name"),
        col("event_created_ms"), col("observer_name"), col("host_hostname"),
        col("host_name"), col("host_domain"), col("host_ip"),
        col("source_ip"), col("source_address"), col("source_mac"),
        col("source_port"), col("destination_ip"), col("destination_port"),
        col("user_name"), col("rule_name"), col("rule_description"),
        col("rule_category"), col("rule_ruleset"), col("rule_id"),
        col("rule_uuid"), col("event_action"), col("event_type"),
        col("event_code"), col("event_outcome"), col("event_category"),
        col("event_start_ms"), col("event_end_ms"), col("event_sequence"),
        col("event_duration"), col("event_severity_name"), col("file_path"),
        col("file_size"), col("url_domain"), col("url_full"),
        col("event_url"), col("package_type"), col("network_direction"),
        col("network_protocol"), col("destination_user_email"),
        col("process_pid"), col("process_name"))),

    // --- event_hub_audit_azure.* family (EventHubRules) ---
    // insights_audit: style-A envelope, dead correlationID rename, the
    // unregister-device ruby extraction, always-true appid branch
    "qeh01_insaudit" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehaInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("agent_name"), col("log_source_hostname"), col("event_module"),
        col("event_dataset"), col("route_index"), col("event_created_ms"),
        col("user_name"), col("rule_name"), col("rule_version"),
        col("rule_category"), col("rule_id"), col("event_action"),
        col("error_code"), col("rule_description"), col("event_id_s"),
        col("log_level"), col("source_ip"), col("source_user_email"),
        col("user_email"), col("destination_user_id"), col("event_kind"),
        col("event_reason"), col("user_id"))),

    // insights_operational: top-level operationName/category win over the
    // properties-level renames
    "qeh02_insops" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehoInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("agent_name"), col("log_source_hostname"), col("event_module"),
        col("event_dataset"), col("route_index"), col("event_created_ms"),
        col("rule_name"), col("rule_version"), col("rule_category"),
        col("event_action"), col("error_code"), col("rule_description"),
        col("event_id_s"), col("user_id"), col("log_level"),
        col("host_os_version"), col("host_os_name"), col("rule_id"))),

    // azure.audit: style-B lowercase envelope; targetresources ruby emits
    // LISTS → destination.user.* scalars flatten to null
    "qeh03_azaudit" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehzInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("log_source_hostname"), col("event_module"), col("event_dataset"),
        col("route_index"), col("event_action"), col("rule_id"),
        col("event_created_ms"), col("rule_name"), col("event_category"),
        col("event_duration"), col("event_id_s"), col("source_user_id"),
        col("source_user_email"), col("source_ip"), col("event_severity"),
        col("rule_version"), col("event_outcome"), col("rule_description"),
        col("event_ingested_ms"), col("event_type"),
        col("destination_user_id"), col("destination_user_email"))),

    // riskyuser: risklastupdateddatetime lands on [event][end] with no date
    // block — 02 removes it (NULL end_ms, mirrored)
    "qeh04_risky" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehrInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("log_source_hostname"), col("event_dataset"), col("route_index"),
        col("rule_description"), col("event_end_ms"), col("event_severity_name"),
        col("event_outcome"), col("user_name"), col("user_email"),
        col("event_ingested_ms"), col("rule_name"), col("event_id_s"),
        col("event_type"), col("event_created_ms"))),

    // emailevents: constant hostname; url.original drives the 06 url split
    "qeh05_email" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehmInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("log_source_hostname"), col("event_dataset"), col("route_index"),
        col("rule_id"), col("event_ingested_ms"), col("url_original"),
        col("url_domain"), col("url_path"), col("url_tld"),
        col("url_registered_domain"), col("event_type"), col("file_name"),
        col("file_type"), col("source_user_email"), col("source_user_id"),
        col("file_size"), col("destination_user_email"),
        col("database_user_id"), col("event_created_ms"))),

    // userriskevents
    "qeh06_userrisk" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehuInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("log_source_hostname"), col("event_dataset"), col("route_index"),
        col("event_id_s"), col("user_id"), col("client_ip"),
        col("source_geo_city"), col("transaction_id"), col("rule_description"),
        col("event_kind"), col("event_severity_name"), col("event_outcome"),
        col("observer_product"), col("source_as_organization_name"),
        col("user_email"), col("event_ingested_ms"), col("rule_name"),
        col("event_type"), col("event_created_ms"))),

    // securityincident: four ISO dates, numeric incidentNumber → event.id
    "qeh07_incident" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehiInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("log_source_hostname"), col("event_dataset"), col("route_index"),
        col("event_created_ms"), col("rule_description"), col("event_start_ms"),
        col("event_id_s"), col("rule_name"), col("event_modified_ms"),
        col("event_provider"), col("event_severity_name"),
        col("event_ingested_ms"), col("event_type"), col("rule_id"),
        col("event_kind"))),

    // anomalies: in-place split, object-vs-array probe arms, boolean tag
    // adds, tactics→scalar-null / techniques→array
    "qeh08_anomalies" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehnInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("log_source_hostname"), col("event_dataset"), col("route_index"),
        col("user_name"), col("user_email"), col("user_full_name"),
        col("user_id"), col("event_created_ms"), col("event_start_ms"),
        col("event_end_ms"), col("rule_name"), col("rule_id"),
        col("event_kind"), col("ua_device_name"), col("source_ip"),
        col("event_risk_score"), col("threat_tactic_name"),
        array_join(array_sort(col("threat_technique_id")), ",").as("threat_technique_id_s"))),

    // interactive_signin: recursive key-downcase, the .SSS-destroying date
    // gsub, json_encode'd conditionalaccesspolicies, outcome merged to array
    "qeh09_signin" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ehsInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("cloud_account_id"), col("event_ingested_ms"), col("event_category"),
        col("event_duration"), col("error_code"), col("event_id_s"),
        col("event_created_ms"), col("source_ip"), col("user_agent_original"),
        col("user_email"), col("process_name"), col("user_id"),
        col("service_version"), col("event_reason"), col("error_message"),
        col("source_as_number"), col("user_full_name"), col("event_action"),
        col("cloud_instance_id"), col("rule_category"), col("rule_id"),
        col("event_kind"), col("event_provider"), col("event_type"),
        col("host_id"), col("host_os_name"), col("host_hostname"),
        col("http_request_method"), col("rule_description"),
        col("tls_version_protocol"), col("event_outcome"),
        col("user_group_name"), col("tls_cipher"),
        col("log_source_hostname"))),

    // proofpoint.trap end-to-end: incident JSON with array-valued renames
    // (flatten to null like an ES mapping conflict would), the
    // users/quarantine/incident_field_values ruby block with its
    // always-true recipient test, cnc hosts into related.ip
    "qpt01_trap" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ptInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_reason"), col("event_category"), col("event_created_ms"),
        col("event_id_s"), col("rule_description"), col("trace_id"),
        col("event_risk_score"), col("event_outcome"), col("event_end_ms"),
        col("event_modified_ms"), col("event_sequence"),
        col("event_recommendation"), col("event_risk_score_norm"),
        col("threat_list_category"), col("threat_list_attribute_tag"),
        col("event_severity_name"), col("user_email"),
        array_join(array_sort(col("related_ip")), ",").as("related_ip_s"),
        col("log_source_hostname"))),

    // cisco.meraki.fw end-to-end: content ladder + space/= kv + conditional
    // ip:port dissects whose results the later rename block overwrites with
    // the raw ip:port values (migrated to address fields by 02, then split
    // by 18); severity translate overwrites category with its Others bug
    "qmk01_meraki" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.mkInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_action"), col("source_address"), col("source_domain"),
        col("source_port"), col("destination_address"), col("destination_domain"),
        col("destination_port"), col("network_protocol"), col("source_nat_ip"),
        col("url_full"), col("rule_category"),
        col("log_syslog_severity_name").as("sev_name"))),

    // github.audit (GHE) end-to-end: flat JSON renames, year-less date
    "qgh01_github" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ghInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("server_address"), col("client_port"), col("http_request_bytes"),
        col("url_query"), col("http_version"), col("client_ip"),
        col("http_response_status_code"), col("http_request_method"),
        col("service_name"), col("log_source_hostname"), col("process_pid"),
        col("rule_description"), col("event_created_ms"))),

    // citrix.session end-to-end: jdbc map rows, copy (not rename) onto ECS,
    // three ISO dates with sss/'t' dead pattern variants, message re-render
    "qcx01_citrix" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.cxInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("source_address"), col("source_ip"), col("source_user_id"),
        col("source_user_full_name"), col("source_user_domain"),
        col("source_nat_ip"), col("destination_address"),
        col("destination_nat_ip"), col("service_ephemeral_id"),
        col("event_code"), col("network_protocol"), col("host_os_name"),
        col("event_id_s"), col("service_type"), col("user_agent_name"),
        col("server_address"), col("host_os_version"), col("service_name"),
        col("event_start_ms"), col("event_ingested_ms"), col("event_created_ms"))),

    // checkpoint.fw end-to-end: bracket-envelope dissect, last-]-lookahead
    // gsub, '='/','-normalized kv, composite values re-kv'd (sic/policy),
    // UNIX date from a kv, the event.module array quirk (flattens null)
    "qck01_checkpoint" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.ckInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("observer_name"), col("event_action"), col("observer_product"),
        col("event_severity"), col("destination_ip"), col("destination_port"),
        col("source_port"), col("source_ip"), col("host_ip"),
        col("network_iana_number"), col("network_transport"),
        col("network_protocol"), col("network_direction"), col("rule_id"),
        col("rule_category"), col("rule_ruleset"), col("event_created_ms"),
        col("log_source_hostname"), col("event_module"), col("event_kind"),
        col("error_message"))),

    // linux.host end-to-end: pri-keyed nested dissect ladder, STACKED
    // parse_rule arrays (add_field promotion), whole-phrase severity
    // translate, the leading-space Slice user.name quirk
    "qlh01_linuxhost" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.lhInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("event_type"), col("process_pid"), col("event_severity_name"),
        col("rule_description"), col("rule_category"), col("user_name"),
        col("host_hostname"), col("log_source_hostname"), col("host_name"),
        col("event_start_ms"),
        col("log_syslog_severity_name").as("sev_name"),
        col("log_syslog_facility_name").as("fac_name"))),

    // aws.guardduty end-to-end: recursive key-downcase normalizer, deep
    // nested renames, [0][N] security-group merge chain, sample-flag
    // conditional, four remove-on-failure dates, dead array renames
    "qg01_guardduty" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.gdInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_severity"), col("event_created_ms"), col("event_modified_ms"),
        col("event_reason"), col("rule_description"), col("service_version"),
        col("cloud_account_id"), col("cloud_region"), col("cloud_provider"),
        col("event_id_s"), col("rule_name"), col("cloud_availability_zone"),
        col("container_image_name"), col("cloud_instance_id"), col("service_state"),
        col("cloud_machine_type"), col("user_name"), col("source_as_number"),
        col("source_as_organization_name"), col("service_name"), col("source_ip"),
        col("destination_ip"), col("rule_category"), col("rule_id"),
        col("event_start_ms"), col("event_end_ms"), col("log_source_hostname"),
        col("log_syslog_priority"),
        array_join(array_sort(col("cloud_project_name")), ",").as("cloud_project_name_s"))),

    // azure.securityalert end-to-end: shared event-hub envelope machinery,
    // Sentinel alert renames, three ISO dates on lowercased timestamps
    "qsa01_securityalert" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.saInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("rule_name"), col("event_severity_name"), col("rule_category"),
        col("rule_description"), col("user_name"), col("event_end_ms"),
        col("event_provider"), col("event_start_ms"), col("event_outcome"),
        col("event_id_s"), col("threat_tactic_name"), col("threat_technique_name"),
        col("rule_id"), col("event_ingested_ms"), col("observer_vendor"),
        col("event_type"), col("log_source_hostname"))),

    // aws.cloudfront end-to-end: 33-field tab grok with '-' alternations,
    // composed date+time field, flat-key rename quirk, drop on directives;
    // event.duration is created then deleted by its own 02 long coercion
    "qcf01_cloudfront" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.cfInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("http_response_bytes"), col("source_ip"), col("http_request_method"),
        col("cloud_instance_id"), col("url_path"), col("http_response_status_code"),
        col("http_request_referrer"), col("user_agent_original"), col("url_query"),
        col("http_cookie_name"), col("event_outcome"), col("event_reason"),
        col("event_id_s"), col("url_domain"), col("url_scheme"),
        col("http_request_bytes"), col("event_duration"),
        col("network_forwarded_ip"), col("tls_version_protocol"), col("tls_cipher"),
        col("tls_next_protocol"), col("source_port"), col("http_request_mime_type"),
        col("event_created_ms"), col("log_source_hostname"))),

    // cisco.netflow end-to-end: codec-decoded record re-encoded into
    // message, positional ECS renames with the dead flat-key ipv4 rename
    // (destination.ip only via ipv6, which the 02 validity pass then
    // migrates to destination.address), both dates targeting event.created
    "qnf01_netflow" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.nfInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_sequence"), col("event_id_s"), col("network_transport"),
        col("network_bytes"), col("network_packets"), col("service_version"),
        col("destination_as_number"), col("destination_ip"),
        col("destination_address"), col("destination_port"),
        col("observer_egress_interface_id"), col("observer_ingress_interface_id"),
        col("source_ip"), col("source_port"), col("source_as_number"),
        col("event_created_ms"))),

    // hadoop hdfs audit end-to-end: tab-split KV, ugi grok, the reference's
    // always-truthy literal condition and its "null"-valued dst being
    // scrubbed by the 94 invalid-value pass
    "qh01_hdfs" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.hdfsInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_kind"), col("database_instance"), col("process_command_line"),
        col("url_path"), col("file_target_path"), col("event_code"),
        col("source_ip"), col("network_protocol"), col("event_action"),
        col("user_name"), col("event_created_ms"))),

    // f5 big-ip syslog ladder end-to-end: shared 3-token timestamp dissect
    // prefix, per-arm process/message tails, destination-vs-source address
    // arms, the dead numeric-pri translate (category always the fallback)
    "qlb01_f5" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.f5Input(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("source_address"), col("source_domain"),
        col("destination_address"), col("destination_domain"),
        col("process_name"), col("process_pid"), col("rule_description"),
        col("source_ip"), col("rule_category"), col("event_created_ms"),
        col("log_syslog_severity_name").as("sev_name"))),

    // iis.w3c end-to-end: '#' directive drop, pad-modifier dissect, space
    // csv into auto-named columns, five content-sniffing positional-rename
    // rules, asymmetric status categorization
    "qii01_iis" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.iisInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"), col("parse_rule"),
        col("source_ip"), col("source_port"), col("destination_ip"),
        col("destination_port"), col("rule_description"), col("event_action"),
        col("source_address"), col("source_domain"),
        col("http_response_status_code"), col("event_category"),
        col("service_name"), col("http_request_method"), col("url_path"),
        col("url_full"), col("source_bytes"), col("destination_bytes"),
        col("log_source_hostname"), col("event_created_ms"))),

    // cisco.ise end-to-end: segmented messages (seg-0 dissect+kv vs seg-N
    // kv-only), multi-char kv field_split_pattern, five translate ladders
    // with fallbacks, FailureReason grok, CmdSet gsub chain, Response
    // outcome overwrite, json_encoded leftover KVs, and the reference's
    // literal-timezone date bug (event.created always fails and is removed;
    // event.sequence is created then deleted by its own 02 coercion pass)
    "qi01_ise" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.iseInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_module"), col("event_kind"), col("event_category"),
        col("event_type"), col("event_outcome"), col("event_action"),
        col("event_provider"), col("event_reason"), col("event_id_s"),
        col("event_code"), col("event_sequence"), col("observer_name"),
        col("log_syslog_severity_name").as("sev_name"),
        col("destination_ip"), col("destination_port"), col("network_protocol"),
        col("host_hostname"), col("user_name"), col("source_ip"),
        col("error_code"), col("error_message"), col("process_command_line"),
        col("network_name"), col("service_type"), col("labels_tags"),
        col("event_created_ms"), col("event_ingested_ms"),
        array_contains(col("tags"), "_dateparsefailure_ec").cast("int").as("ec_failed_i"))),

    // azure.officeactivity end-to-end: message-level lowercase, records[]
    // envelope OR bare object (third envelope form), per-record re-encode
    "qo01_office" -> ((s, dir) => Pipeline.parseDf(s, Transcripts.offInput(s, dir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("sub_idx"),
        col("parse_ok").cast("int").as("parse_ok_i"),
        col("event_ingested_ms"), col("server_user_group_id"),
        col("organization_id"), col("event_url"), col("event_type"),
        col("user_id"), col("client_ip"), col("file_extension"),
        col("cloud_account_id"), col("source_name"), col("file_name"),
        col("event_start_ms"), col("user_agent_original"), col("file_type"),
        col("url_full"), col("url_path"), col("host_hostname"),
        col("log_source_hostname")))
    )
    base ++ MlEntry.queries ++ graft.rules.SnowflakeFamily.queries
  }

  def oracleSql: Map[String, String] = Map(
    "q01_transcripts" ->
      s"WITH ${Transcripts.cte} SELECT conv_id, turn_idx, role, tool, text FROM turns",

    "q02_parse_core" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx, tool AS technology,
  CASE WHEN tsel = 9 THEN 'not parsed'
       WHEN tsel <= 2 THEN 'rule 3'
       WHEN tsel IN (5,6) THEN (CASE WHEN (event_id % 3) = 0 THEN 'rule 1' ELSE 'rule 2' END)
       ELSE 'rule 1' END AS parse_rule,
  CASE WHEN tsel = 9 THEN 0 ELSE 1 END AS parse_ok_i,
  $oSrcIp AS source_ip,
  $oDstIp AS destination_ip,
  CASE WHEN tsel = 8 OR tsel = 9 THEN NULL ELSE spt END AS source_port,
  CASE WHEN tsel <= 4 OR tsel = 7 THEN dpt ELSE NULL END AS destination_port,
  CASE WHEN tsel <= 2 OR tsel = 7 THEN act
       WHEN tsel IN (3,4) THEN (CASE WHEN act = 'allow' THEN 'accept' ELSE 'reject' END)
       WHEN tsel IN (5,6) THEN (CASE WHEN (event_id % 3) = 0 THEN 'logged-in' ELSE 'logon-failed' END)
       ELSE NULL END AS event_action,
  CASE WHEN tsel = 8 THEN 'azure.eventhub' ELSE NULL END AS agent_name
FROM px""",

    "q03_syslog_pri" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CASE WHEN tsel <= 2 THEN 16 + (event_id % 8) ELSE 4 END AS fac_code,
  CASE WHEN tsel <= 2 THEN 'local' || CAST(event_id % 8 AS STRING)
       ELSE 'security/authorization' END AS fac_name,
  CASE WHEN tsel <= 2 THEN (event_id % 5) ELSE (event_id % 8) END AS sev_code,
  CASE (CASE WHEN tsel <= 2 THEN (event_id % 5) ELSE (event_id % 8) END)
    WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert' WHEN 2 THEN 'critical'
    WHEN 3 THEN 'error' WHEN 4 THEN 'warning' WHEN 5 THEN 'notice'
    WHEN 6 THEN 'informational' ELSE 'debug' END AS sev_name
FROM px WHERE tsel <= 2 OR tsel IN (5,6)""",

    "q04_dates" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE WHEN tsel <= 2 OR tsel IN (5,6) THEN epoch_ms(date_trunc('second', ts))
       WHEN tsel IN (3,4) THEN ep1 * 1000
       ELSE epoch_ms(ts) END AS event_created_ms,
  CASE WHEN tsel IN (3,4) THEN (ep1 + 60) * 1000 ELSE NULL END AS event_end_ms
FROM px""",

    "q05_sink_counts" -> q05OracleSql,
    "q05f_sink_counts_fast" -> q05OracleSql, // narrow path must match exactly
    "q05p_counts_projected" -> q05OracleSql, // lazy flatten must match exactly

    "q06_salted_counts" ->
      s"""$pxCte
SELECT snk.sink AS sink, tool AS technology, role, tool,
  CAST(EXTRACT(YEAR FROM ts) AS INT) AS y, CAST(EXTRACT(MONTH FROM ts) AS INT) AS m,
  CAST(EXTRACT(DAY FROM ts) AS INT) AS d, CAST(EXTRACT(HOUR FROM ts) AS INT) AS h,
  COUNT(*) AS cnt
FROM px CROSS JOIN $oSinks
WHERE $oSinkFilter
GROUP BY ALL""",

    "q07_iana" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  $oTransport AS network_transport,
  $oProtocol AS network_protocol,
  CASE WHEN tsel <= 4 THEN CAST(iana AS STRING) ELSE NULL END AS network_iana_number
FROM px WHERE tsel <= 4 OR tsel = 7""",

    "q08_cidr_geo" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE WHEN tsel = 9 OR (tsel = 7 AND (event_id % 17) = 0) THEN NULL
       WHEN tsel = 8 AND sub_idx = 1 THEN 1
       WHEN (event_id % 3) = 0 THEN 0 ELSE 1 END AS sip_private_i,
  CASE WHEN tsel = 9 OR (tsel = 7 AND (event_id % 17) = 0) THEN NULL
       WHEN tsel = 8 AND sub_idx = 1 THEN 'internal'
       WHEN (event_id % 3) = 0 THEN $oGeoCountry ELSE 'internal' END AS source_geo_country,
  CASE WHEN tsel = 9 OR (tsel = 7 AND (event_id % 17) = 0) THEN NULL
       WHEN tsel = 8 AND sub_idx = 1 THEN NULL
       WHEN (event_id % 3) = 0 THEN 'city' || CAST((user_id % 200) % 5 AS STRING)
       ELSE NULL END AS source_geo_city,
  CASE WHEN tsel <= 4 OR tsel = 7 THEN 1 ELSE NULL END AS dip_private_i,
  CASE WHEN tsel <= 4 OR tsel = 7 THEN 'internal' ELSE NULL END AS destination_geo_country
FROM px""",

    "q09_dns" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CASE WHEN tsel <= 2 OR tsel = 7 THEN 'ptr-' || REPLACE(dip, '.', '-')
       ELSE NULL END AS destination_address,
  CASE WHEN tsel <= 2 OR tsel = 7 THEN 'internal'
       ELSE NULL END AS destination_domain
FROM px WHERE tsel <= 4 OR tsel = 7""",

    "q10_hash" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE WHEN tsel = 8 THEN
    MD5(LOWER(CASE WHEN sub_idx = 0 THEN
      '{"resultType":"' || CAST(event_id % 2 AS STRING)
      || '","callerIpAddress":"' || sip || '","identity":"User ' || uid_s
      || '","properties":{"userPrincipalName":"' || uname
      || '@example.com","userAgent":"'
      || CASE (event_id % 3) WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36'
              WHEN 1 THEN 'Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1)'
              ELSE 'curl/8.5' END
      || '","appDisplayName":"App' || CAST(event_id % 5 AS STRING)
      || '","conditionalAccessStatus":"'
      || CASE WHEN (event_id % 4) = 0 THEN 'failure' ELSE 'success' END || '"}}'
    ELSE
      '{"resultType":"50126","callerIpAddress":"' || dip
      || '","identity":"User ' || uid_s || 'b","properties":{"userPrincipalName":"'
      || uname || 'b@example.com","userAgent":"'
      || CASE (event_id % 3) WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36'
              WHEN 1 THEN 'Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1)'
              ELSE 'curl/8.5' END
      || '","appDisplayName":"App' || CAST(event_id % 5 AS STRING)
      || '","conditionalAccessStatus":"failure"}}'
    END))
  ELSE MD5(LOWER(text)) END AS event_hash
FROM px""",

    "q11_mitre" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CASE WHEN (event_id % 5) = 4 THEN 'new/deprecated mitre tactic'
       WHEN (event_id % 3) = 0 THEN 'initial access'
       WHEN (event_id % 3) = 1 THEN 'execution'
       ELSE 'persistence' END AS threat_tactic_name,
  CASE WHEN (event_id % 5) = 4 THEN 'none'
       ELSE 'https://attack.mitre.org/tactics/TA000' || CAST(1 + (event_id % 3) AS STRING) || '/'
  END AS threat_tactic_reference
FROM px WHERE tsel = 7""",

    "q12_url_tld" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  'www.app' || CAST(event_id % 30 AS STRING) || '.co.uk' AS url_domain,
  '/p/' || eid_s AS url_path,
  'q=' || CAST(event_id % 7 AS STRING) AS url_query,
  'co.uk' AS url_tld,
  'app' || CAST(event_id % 30 AS STRING) || '.co.uk' AS url_registered_domain
FROM px WHERE tsel = 7""",

    "q13_kv_mac" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  'aa:bb:cc:dd:' || LPAD(CAST(event_id % 100 AS STRING), 2, '0')
    || ':' || LPAD(CAST(user_id % 100 AS STRING), 2, '0') AS source_mac,
  (event_id % 10) AS event_severity,
  'paloalto' AS observer_vendor,
  '9.1' AS rule_version,
  CAST(100 + (event_id % 20) AS STRING) AS rule_category
FROM px WHERE tsel = 7""",

    "q14_related" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE WHEN tsel <= 4 OR (tsel = 7 AND (event_id % 17) <> 0) THEN
         (CASE WHEN sip < dip THEN sip || ',' || dip ELSE dip || ',' || sip END)
       WHEN tsel = 7 THEN dip
       WHEN tsel IN (5,6) THEN sip
       WHEN tsel = 8 THEN (CASE WHEN sub_idx = 1 THEN dip ELSE sip END)
       ELSE '' END AS related_ip_s,
  CASE WHEN tsel IN (5,6) THEN uname
       WHEN tsel = 8 THEN (CASE WHEN sub_idx = 1 THEN uname || 'b@example.com' ELSE uname || '@example.com' END)
       ELSE '' END AS related_user_s
FROM px""",

    "q15_normalize" ->
      s"""$pxCte
SELECT conv_id, turn_idx, 'traffic' AS event_category, 'end' AS event_type,
  'fw' || CAST(user_id % 10 AS STRING) AS host_name,
  'rule-' || act AS rule_name
FROM px WHERE tsel <= 2""",

    "q16_text_equality" ->
      s"""$pxCte
SELECT tool AS technology, COUNT(*) AS cnt,
  COUNT(DISTINCT text) AS distinct_texts,
  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len
FROM px GROUP BY 1""",

    "q17_conservation" ->
      s"""WITH ${Transcripts.cte}
SELECT t.tool AS tool,
  CASE WHEN g.tsel IN (3,4) AND (g.event_id % 13) = 0 THEN 'dropped'
       WHEN g.tsel = 9 THEN 'failed' ELSE 'routed' END AS disposition,
  COUNT(*) AS cnt
FROM turns t JOIN ge_txt g USING (event_id)
GROUP BY 1, 2""",

    "q18_routes" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  (CASE WHEN tsel <= 2 THEN 'logs-palo.alto.fw'
        WHEN tsel IN (3,4) THEN 'logs-aws.vpcflow'
        WHEN tsel IN (5,6) THEN 'logs-linux.rsyslog'
        WHEN tsel = 7 THEN 'logs-cef.fw'
        WHEN tsel = 8 THEN 'logs-azure.signin'
        ELSE 'logs-unparsed' END)
  || '_' || strftime(ts, '%Y.%m.%d') AS route_index,
  CASE WHEN tsel <= 2 OR tsel = 7 THEN 'elastic,s3'
       WHEN tsel IN (3,4) THEN 's3'
       WHEN tsel IN (5,6) OR tsel = 8 THEN 'elastic'
       ELSE 'failed' END AS route_outputs_s
FROM px""",

    "q23_mnemonic" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CAST(100 + (event_id % 20) AS STRING) AS rule_category,
  'category' || CAST((100 + (event_id % 20)) % 37 AS STRING) AS rule_ruleset
FROM px WHERE tsel = 7""",

    "q22_related_hosts" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE WHEN tsel <= 2 THEN 'fw' || CAST(user_id % 10 AS STRING) || ',internal'
       WHEN tsel IN (5,6) THEN 'host' || CAST(user_id % 20 AS STRING)
       WHEN tsel = 7 THEN 'internal,www.app' || CAST(event_id % 30 AS STRING) || '.co.uk'
       ELSE '' END AS related_hosts_s
FROM px""",

    "q21_translate_join" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  $oTransport AS network_transport,
  $oTransport AS transport_joined,
  1 AS agree_i
FROM px WHERE tsel <= 4""",

    "q20_useragent" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE (event_id % 3) WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36'
       WHEN 1 THEN 'Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1)'
       ELSE 'curl/8.5' END AS user_agent_original,
  CASE WHEN (event_id % 3) = 2 THEN NULL ELSE 'Mozilla' END AS browser_name,
  CASE (event_id % 3) WHEN 0 THEN '5.0' WHEN 1 THEN '4.0' ELSE NULL END AS browser_version,
  CASE WHEN (event_id % 3) = 2 THEN NULL ELSE 'Windows' END AS ua_device_name,
  CASE (event_id % 3) WHEN 0 THEN 'NT 10.0; Win64'
       WHEN 1 THEN 'MSIE 7.0; Windows NT 6.1' ELSE NULL END AS ua_os_family,
  CASE WHEN (event_id % 3) = 0 THEN 'Safari' ELSE NULL END AS ua_os_platform,
  CASE WHEN (event_id % 3) = 0 THEN '537.36' ELSE NULL END AS ua_os_version
FROM px WHERE tsel = 8""",

    "qc01_csv" ->
      s"""WITH ${Transcripts.csvCte}
SELECT conv_id, turn_idx, 'mcafee.mcp' AS technology, 1 AS parse_ok_i,
  uname AS user_name, natip AS source_nat_ip,
  CASE WHEN (event_id % 9) = 0 THEN NULL
       WHEN (event_id % 2) = 0 THEN 'get' ELSE 'post' END AS http_request_method,
  sbytes AS source_bytes, dbytes AS destination_bytes,
  'www.app' || CAST(event_id % 30 AS STRING) || '.co.uk' AS url_domain,
  '/p/' || eid_s AS url_path, act AS event_action,
  'rule-' || CAST(event_id % 20 AS STRING) AS rule_name
FROM csv_turns JOIN csv_base USING (event_id)""",

    "qx01_xml" ->
      s"""WITH ${Transcripts.xmlCte}
SELECT conv_id, turn_idx, 'trellix.epo' AS technology, 1 AS parse_ok_i,
  'host' || CAST(user_id % 20 AS STRING) AS host_name,
  '10.0.' || CAST(event_id % 250 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS host_ip,
  'u' || CAST(user_id % 50 AS STRING) AS user_name,
  (event_id % 8) AS event_severity,
  CAST(event_id % 100 AS STRING) AS error_code,
  'ev' || CAST(event_id AS STRING) AS event_id_s
FROM xml_turns JOIN events USING (event_id)""",

    // related.user (:918, via user.name) comes after file.hash.md5 (:63),
    // so a u13 user overrides the hash payload
    "qx02_related_hash" ->
      s"""WITH ${Transcripts.xmlCte}
SELECT conv_id, turn_idx,
  MD5(CAST(event_id % 1000 AS STRING)) AS related_hash_s,
  CASE WHEN (event_id % 10) = 4 OR (user_id % 50) = 13 THEN 1 ELSE 0 END AS misp_i,
  CASE WHEN (user_id % 50) = 13 THEN 'misp-related.user'
       WHEN (event_id % 10) = 4 THEN 'misp-file.hash.md5'
       ELSE NULL END AS threat_indicator_provider
FROM xml_turns JOIN events USING (event_id)""",

    "q19_ioc" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CASE WHEN (user_id % 254) = 12
         OR ((event_id % 254) = 12 AND NOT (tsel = 7 AND (event_id % 17) = 0))
         OR (tsel = 7 AND (event_id % 30) = 7)
         OR (tsel IN (3,4) AND (user_id % 50) = 17)
         OR (tsel = 7 AND (event_id % 100) = 42)
       THEN 1 ELSE 0 END AS misp_i
FROM px WHERE tsel <= 4 OR tsel = 7""",

    // MISP namespace precedence (last-winning payload), conf order:
    // source.ip :308 < destination.ip :333 < related.hosts :433 <
    // url.domain :483 < related.mac(source.mac) :1478
    "q25_misp" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CASE WHEN tsel = 7 AND (event_id % 100) = 42 THEN 'misp-related.mac'
       WHEN tsel = 7 AND (event_id % 30) = 7 THEN 'misp-url.domain'
       WHEN tsel IN (3,4) AND (user_id % 50) = 17 THEN 'misp-related.hosts'
       WHEN (user_id % 254) = 12 THEN 'misp-destination.ip'
       WHEN (event_id % 254) = 12 AND NOT (tsel = 7 AND (event_id % 17) = 0) THEN 'misp-source.ip'
       ELSE NULL END AS threat_indicator_provider,
  CASE WHEN tsel = 7 AND ((event_id % 100) = 42 OR (event_id % 30) = 7) THEN NULL
       WHEN tsel IN (3,4) AND (user_id % 50) = 17 THEN NULL
       WHEN (user_id % 254) = 12 THEN dip
       WHEN (event_id % 254) = 12 AND NOT (tsel = 7 AND (event_id % 17) = 0) THEN sip
       ELSE NULL END AS threat_indicator_ip
FROM px WHERE tsel <= 4 OR tsel = 7""",

    // breadth namespaces on the azure envelope rows: user.email :1653 >
    // user_agent.original :588 > source.ip :308
    "q27_misp_breadth" ->
      s"""$pxCte
SELECT conv_id, turn_idx, sub_idx,
  CASE WHEN ((user_id % 50) = 13 AND sub_idx = 0)
         OR (event_id % 3) = 2
         OR (sub_idx = 0 AND (event_id % 254) = 12)
       THEN 1 ELSE 0 END AS misp_i,
  CASE WHEN (user_id % 50) = 13 AND sub_idx = 0 THEN 'misp-user.email'
       WHEN (event_id % 3) = 2 THEN 'misp-user_agent.original'
       WHEN sub_idx = 0 AND (event_id % 254) = 12 THEN 'misp-source.ip'
       ELSE NULL END AS threat_indicator_provider,
  CASE WHEN (user_id % 50) = 13 AND sub_idx = 0 THEN NULL
       WHEN (event_id % 3) = 2 THEN NULL
       WHEN sub_idx = 0 AND (event_id % 254) = 12 THEN sip
       ELSE NULL END AS threat_indicator_ip
FROM px WHERE tsel = 8""",

    "q26_host_split" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  CASE WHEN (event_id % 17) = 0 THEN 'badhost' ELSE NULL END AS source_address,
  CASE WHEN (event_id % 17) = 0 THEN 'example' ELSE NULL END AS source_domain
FROM px WHERE tsel = 7""",

    "q24_related_mac" ->
      s"""$pxCte
SELECT conv_id, turn_idx,
  'aa:bb:cc:dd:' || LPAD(CAST(event_id % 100 AS STRING), 2, '0')
    || ':' || LPAD(CAST(user_id % 100 AS STRING), 2, '0') AS related_mac_s
FROM px WHERE tsel = 7""",

    "qs01_cisco" ->
      s"""WITH ${Transcripts.ciscoCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'seq' || b.eid_s AS event_id_s,
  CASE WHEN b.msel = 3 THEN NULL ELSE b.swname END AS host_name,
  'cisco-relay01' AS host_hostname,
  CASE b.msel WHEN 0 THEN 'link.updown' WHEN 1 THEN 'bgp.adjchange'
       WHEN 2 THEN 'sys.config_i' WHEN 4 THEN 'aaa.acct_fail' ELSE NULL END AS event_action,
  CASE b.msel WHEN 0 THEN 'data link' WHEN 1 THEN 'border gateway protocol'
       WHEN 2 THEN 'operating system'
       WHEN 4 THEN 'authentication, authorization, and accounting' ELSE NULL END AS event_provider,
  CASE b.msel WHEN 0 THEN 'explanation for updown' WHEN 1 THEN 'explanation for adjchange'
       WHEN 2 THEN 'explanation for config_i' WHEN 4 THEN 'not_found_msg_explanation'
       ELSE NULL END AS event_reason,
  CASE b.msel WHEN 0 THEN 'recommendation for updown' WHEN 1 THEN 'recommendation for adjchange'
       WHEN 2 THEN 'recommendation for config_i' WHEN 4 THEN 'not_found_msg_recommendation'
       ELSE NULL END AS event_recommendation,
  CASE WHEN b.msel IN (0, 1) THEN (CASE b.state WHEN 'up' THEN 'success' ELSE 'failure' END)
       ELSE NULL END AS event_outcome,
  CASE WHEN b.msel = 0 THEN lower(b.ifname) ELSE NULL END AS observer_ingress_interface_name,
  CASE b.msel
    WHEN 0 THEN 'interface ' || lower(b.ifname) || ', changed state to ' || b.state
    WHEN 1 THEN 'neighbor ' || b.bgpip || '* ' || b.state || ' interface flap'
    WHEN 2 THEN 'configured from console by ' || b.uname
    WHEN 3 THEN 'interface flap detected on device'
    ELSE 'accounting record failed for ' || b.uname END AS error_message,
  CASE (b.event_id % 8) WHEN 3 THEN 'security/failed activity' WHEN 4 THEN 'security/warning'
       WHEN 5 THEN 'security/activity' WHEN 6 THEN 'security/activity'
       ELSE 'others' END AS rule_category,
  CASE WHEN b.msel = 3 THEN NULL
       ELSE epoch_ms(date_trunc('second', t.ts)) + 123 END AS event_start_ms,
  CASE WHEN b.msel = 1 THEN b.bgpip ELSE '' END AS related_ip_s
FROM cisco_turns t JOIN cisco_base b USING (event_id)""",

    "qk01_okta" ->
      s"""WITH ${Transcripts.oktaCte},
recs AS (
  SELECT t.conv_id, t.turn_idx, t.ts, b.*, s.i AS sub_idx
  FROM okta_turns t JOIN okta_base b USING (event_id)
  CROSS JOIN (VALUES (0), (1)) AS s(i)
  WHERE s.i = 0 OR (b.event_id % 2) = 0
)
SELECT conv_id, turn_idx, sub_idx, 1 AS parse_ok_i,
  CASE WHEN sub_idx = 0 AND (event_id % 4) = 0 THEN 'failure' ELSE 'success' END AS event_outcome,
  CASE WHEN sub_idx = 0 THEN 'user.session.start' ELSE 'user.session.end' END AS event_type,
  CASE WHEN sub_idx = 0 THEN 'user login to okta' ELSE 'user logout from okta' END AS event_category,
  CASE WHEN sub_idx = 0 THEN 'info' ELSE 'warn' END AS log_level,
  CASE WHEN sub_idx = 0 AND (event_id % 4) = 0 THEN 'invalid_credentials' ELSE NULL END AS event_reason,
  CASE WHEN sub_idx = 0 THEN chainip ELSE NULL END AS source_ip,
  CASE WHEN sub_idx = 0 THEN 'example.com' ELSE NULL END AS source_domain,
  'WEB' AS user_type,
  'User ' || uid_s || (CASE WHEN sub_idx = 1 THEN 'b' ELSE '' END) AS user_full_name,
  't' || CAST(event_id % 100 AS STRING) || (CASE WHEN sub_idx = 1 THEN 'x' ELSE '' END) AS destination_user_id,
  uname2 || (CASE WHEN sub_idx = 1 THEN 'x' ELSE '' END) || '@example.com' AS destination_user_email,
  'Target ' || CAST(event_id % 100 AS STRING) || (CASE WHEN sub_idx = 1 THEN 'x' ELSE '' END) AS destination_user_full_name,
  clientip AS host_ip,
  'windows 10' AS ua_os_name,
  CASE WHEN sub_idx = 0 THEN 'sess' || CAST(event_id % 1000 AS STRING) ELSE NULL END AS transaction_id,
  CASE WHEN sub_idx = 0 THEN '/api/v1/authn?q=' || CAST(event_id % 7 AS STRING) ELSE NULL END AS url_path,
  epoch_ms(date_trunc('second', ts)) + (event_id % 1000) AS event_created_ms
FROM recs""",

    "qp01_proofpoint" ->
      s"""WITH ${Transcripts.ppCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'proofpoint' AS cloud_provider,
  'https://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk/p/' || b.eid_s AS url_full,
  CASE WHEN (b.event_id % 2) = 0 THEN 'phish' ELSE 'malware' END AS rule_category,
  'camp' || CAST(b.event_id % 15 AS STRING) AS rule_ruleset,
  't' || CAST(b.event_id % 500 AS STRING) AS rule_id,
  'g' || b.eid_s AS rule_uuid,
  'https://tap.example/threat/t' || CAST(b.event_id % 500 AS STRING) AS rule_reference,
  CASE WHEN (b.event_id % 3) = 0 THEN 'cleared' ELSE 'active' END AS event_status,
  CASE WHEN (b.event_id % 4) = 0 THEN 'clicksblocked' ELSE 'clickspermitted' END AS event_kind,
  'm' || b.eid_s AS event_id_s,
  b.clickip AS client_ip,
  b.senderip AS source_ip,
  b.uname || '@ext.example' AS source_user_email,
  b.uname || '@example.com' AS destination_user_email,
  CASE WHEN (b.user_id % 200) < 50 THEN 'US'
       WHEN (b.user_id % 200) < 100 THEN 'DE'
       WHEN (b.user_id % 200) < 150 THEN 'JP' ELSE 'BR' END AS source_geo_country,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS threat_list_created_ms
FROM pp_turns t JOIN pp_base b USING (event_id)""",

    "qw01_windows" ->
      s"""WITH ${Transcripts.winCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE WHEN b.wsel = 2 THEN 'system' ELSE 'security' END AS event_kind,
  CASE b.wsel WHEN 0 THEN '4624' WHEN 1 THEN '4769' ELSE '7036' END AS event_id_s,
  CASE b.wsel WHEN 0 THEN 'audit success' WHEN 1 THEN 'audit failure' ELSE 'classic' END AS rule_category,
  CASE WHEN b.wsel = 0 THEN b.uname ELSE NULL END AS user_name,
  CASE WHEN b.wsel IN (0, 1) THEN b.ip ELSE NULL END AS source_ip,
  CASE b.wsel WHEN 0 THEN 3389 WHEN 1 THEN 50321 ELSE NULL END AS source_port,
  CASE WHEN b.wsel = 0 THEN 'ws' || CAST(b.user_id % 20 AS STRING) ELSE NULL END AS destination_address,
  CASE WHEN b.wsel = 0 THEN 'corp.example' ELSE NULL END AS destination_domain,
  CASE WHEN b.wsel = 2 THEN 'app' || CAST(b.user_id % 20 AS STRING) || '.corp.example'
       ELSE 'dc1.corp.example' END AS log_source_hostname,
  CASE WHEN b.wsel = 1 THEN
    (CASE b.fcode WHEN '0x0' THEN 'no errors were found'
          WHEN '0x12' THEN 'clients credentials have been revoked'
          WHEN '0x25' THEN 'clock skew too great'
          ELSE 'failed service ticket request' END)
  ELSE NULL END AS event_reason,
  CASE WHEN b.wsel = 2 THEN 'print spooler' ELSE NULL END AS service_name
FROM win_turns t JOIN win_base b USING (event_id)""",

    "qt01_cloudtrail" ->
      s"""WITH ${Transcripts.ctCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'aws' AS cloud_provider,
  b.acct AS cloud_account_id,
  'us-east-1' AS cloud_region,
  b.acct AS log_source_hostname,
  CASE WHEN (b.event_id % 2) = 0 THEN 'getobject' ELSE 'putobject' END AS event_category,
  CASE WHEN (b.event_id % 3) = 0 THEN 'apicallrateinsight' ELSE 'awsapicall' END AS event_type,
  's3.amazonaws.com' AS event_kind,
  '1.08' AS service_version,
  'iamuser' AS service_type,
  b.uname AS user_name,
  'arn:aws:iam::' || b.uid_s || ':user/role' || CAST(b.event_id % 5 AS STRING) || '/' || b.uname AS user_roles,
  b.uname AS user_id,
  'bkt' || CAST(b.event_id % 20 AS STRING) AS file_directory,
  'data/obj' || CAST(b.event_id % 100 AS STRING) || '.parquet' AS file_name,
  CASE WHEN (b.event_id % 5) = 0 THEN 'accessdenied' ELSE NULL END AS error_code,
  'r' || b.eid_s AS transaction_id,
  'ev' || b.eid_s AS event_id_s,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CASE WHEN (b.event_id % 6) = 0 THEN NULL ELSE b.srcip END AS source_ip,
  CASE WHEN (b.event_id % 6) = 0 THEN 'aws internal' ELSE NULL END AS source_address,
  CASE WHEN (b.event_id % 6) = 0 THEN NULL
       WHEN (b.user_id % 200) < 50 THEN 'US'
       WHEN (b.user_id % 200) < 100 THEN 'DE'
       WHEN (b.user_id % 200) < 150 THEN 'JP' ELSE 'BR' END AS source_geo_country
FROM ct_turns t JOIN ct_base b USING (event_id)""",

    "qa01_atp" ->
      s"""WITH ${Transcripts.atpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE (b.event_id % 4) WHEN 0 THEN 'malware' WHEN 1 THEN 'suspiciousactivity'
       WHEN 2 THEN 'credentialaccess' ELSE 'exfiltration' END AS rule_category,
  'da' || b.eid_s AS event_id_s,
  'inv' || CAST(b.event_id % 500 AS STRING) AS group_id,
  CASE (b.event_id % 3) WHEN 0 THEN 'high' WHEN 1 THEN 'medium' ELSE 'informational' END AS event_severity_name,
  CASE (b.event_id % 3) WHEN 0 THEN 'resolved' WHEN 1 THEN 'inprogress' ELSE 'new' END AS event_outcome,
  CASE WHEN (b.event_id % 5) = 0 THEN 'apt' ELSE 'notavailable' END AS event_type,
  'windowsdefenderatp' AS observer_product,
  'suspicious process ' || CAST(b.event_id % 20 AS STRING) AS event_kind,
  'desc ' || b.eid_s AS rule_description,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_end_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_modified_ms,
  'm' || CAST(b.event_id % 400 AS STRING) AS host_id,
  'host' || CAST(b.user_id % 20 AS STRING) AS host_hostname,
  'corp.example' AS host_domain,
  b.uname AS user_name,
  b.tenant AS log_source_hostname,
  CASE WHEN b.mitsel = 0 THEN 't1078,t1566.001' ELSE '' END AS threat_technique_id_s
FROM atp_turns t JOIN atp_base b USING (event_id)""",

    "qm01_ppmessages" ->
      s"""WITH ${Transcripts.ppmCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'https://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk/m/' || b.eid_s AS url_full,
  CASE WHEN (b.event_id % 2) = 0 THEN 'phish' ELSE 'spam' END AS event_type,
  LEAST(MD5(b.eid_s), MD5(b.eid_s || 'b')) || ',' || GREATEST(MD5(b.eid_s), MD5(b.eid_s || 'b')) AS related_hash_s,
  'https://tap.example/threat/t' || CAST(b.event_id % 500 AS STRING) AS rule_reference,
  't' || CAST(b.event_id % 500 AS STRING) AS rule_id,
  CASE WHEN (b.event_id % 4) = 0 THEN 'phish'
       WHEN (b.event_id % 3) = 0 THEN 'cleared' ELSE 'active' END AS rule_category,
  'inv' || CAST(b.event_id % 100 AS STRING) || '.pdf,run' || CAST(b.event_id % 7 AS STRING) || '.js' AS file_attributes_s,
  CASE WHEN (b.event_id % 4) = 0 THEN 'messagesblocked' ELSE 'messagesdelivered' END AS event_kind,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  CAST(1000 + (b.event_id % 90000) AS BIGINT) AS file_size,
  CASE WHEN (b.event_id % 2) = 0 THEN 'sandbox,spam,urldefense' ELSE 'spam,urldefense' END AS rule_author_s,
  CASE WHEN (b.event_id % 4) = 0 THEN 'module.sandbox.rule' ELSE NULL END AS rule_name,
  'default_inbound' AS event_category,
  b.senderip AS source_ip,
  'q' || b.eid_s AS transaction_id,
  'g' || b.eid_s AS trace_id,
  'm' || b.eid_s || '@ext.example' AS event_id_s,
  b.uname || '@ext.example' AS source_user_email,
  b.uname || '@example.com' AS destination_user_email,
  CASE WHEN (b.event_id % 5) = 0 THEN 'BulkMailer 1.0' ELSE NULL END AS user_agent_original,
  CAST(b.event_id % 100 AS BIGINT) AS event_risk_score,
  CAST(b.event_id % 50 AS BIGINT) AS vulnerability_score_base,
  CAST(b.event_id % 90 AS BIGINT) AS event_risk_score_norm,
  CAST(b.event_id % 10 AS BIGINT) AS event_severity,
  'invoice ' || b.eid_s AS email_subject,
  'User ' || b.uname || ' <' || b.uname || '@ext.example>' AS email_header_from,
  'reply-' || b.uname || '@ext.example' AS email_header_replyto,
  CASE WHEN (b.event_id % 3) = 0 THEN 'completelyrewritten' ELSE 'notrewritten' END AS event_outcome,
  CASE WHEN (b.user_id % 200) < 50 THEN 'US' WHEN (b.user_id % 200) < 100 THEN 'DE'
       WHEN (b.user_id % 200) < 150 THEN 'JP' ELSE 'BR' END AS source_geo_country
FROM ppm_turns t JOIN ppm_base b USING (event_id)""",

    // The \\.*? quirk (ref log_application_aws.elb.conf:21) shifts the
    // middle block: elb_status_code captures "0.000" (→ null long),
    // target_status_code captures the real status, received_bytes captures
    // the target status copy, sent_bytes spans two tokens (→ null long).
    "qe01_elb" ->
      s"""WITH ${Transcripts.elbCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  CAST(NULL AS STRING) AS event_duration,
  CAST(b.event_id % 9 AS BIGINT) AS event_severity,
  CASE WHEN (b.event_id % 5) = 2 THEN 'acceptable' ELSE NULL END AS event_category,
  CASE WHEN (b.event_id % 4) = 3 THEN 'lambdainvalidresponse' ELSE NULL END AS event_reason,
  'app/lb' || CAST(b.user_id % 5 AS STRING) || '/abc' || CAST(b.user_id % 97 AS STRING) AS cloud_instance_name,
  CASE WHEN (b.event_id % 2) = 0 THEN 'https' ELSE 'http' END AS url_scheme,
  'https://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk:443/p/' || b.eid_s || '?q=' || CAST(b.event_id % 7 AS STRING) AS url_full,
  'www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk' AS url_domain,
  CAST(NULL AS BIGINT) AS http_response_status_code,
  CASE WHEN (b.event_id % 11) = 0 THEN NULL ELSE CAST(b.status AS BIGINT) END AS http_request_bytes,
  CAST(NULL AS BIGINT) AS http_response_bytes,
  CASE (b.event_id % 3) WHEN 0 THEN 'get' WHEN 1 THEN 'post' ELSE 'put' END AS http_request_method,
  CASE WHEN (b.event_id % 4) = 1 THEN 'https://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk/p/' || b.eid_s ELSE NULL END AS http_request_referrer,
  CASE WHEN (b.event_id % 6) = 0 THEN NULL ELSE 'curl/8.5' END AS user_agent_name,
  CASE WHEN (b.event_id % 2) = 0 THEN 'ecdhe-rsa-aes128-gcm-sha256' ELSE NULL END AS tls_cipher,
  CASE WHEN (b.event_id % 2) = 0 THEN 'tlsv1.2' ELSE NULL END AS tls_version_protocol,
  'arn:aws:acm:us-east-1:123:certificate/c' || CAST(b.event_id % 5 AS STRING) AS tls_client_server_name,
  'http/1.1' AS tls_next_protocol,
  'root=1-' || MD5(b.eid_s) AS trace_id,
  CASE WHEN (b.event_id % 4) = 3 THEN 'waf,forward' ELSE 'forward' END AS rule_name,
  CASE WHEN (b.event_id % 5) = 2 THEN 'noncompliantversion' ELSE NULL END AS rule_description,
  CAST(b.cport AS BIGINT) AS source_port,
  b.cip AS source_ip,
  CASE WHEN (b.event_id % 11) = 0 THEN NULL ELSE b.tip END AS destination_ip,
  CASE WHEN (b.event_id % 11) = 0 THEN NULL ELSE CAST(b.tport AS BIGINT) END AS destination_port,
  'app/lb' || CAST(b.user_id % 5 AS STRING) || '/abc' || CAST(b.user_id % 97 AS STRING) AS log_source_hostname,
  CASE WHEN (b.user_id % 200) < 50 THEN 'US' WHEN (b.user_id % 200) < 100 THEN 'DE'
       WHEN (b.user_id % 200) < 150 THEN 'JP' ELSE 'BR' END AS source_geo_country
FROM elb_turns t JOIN elb_base b USING (event_id)
WHERE (b.event_id % 31) <> 0""",

    "qf01_snowflake" ->
      s"""WITH ${Transcripts.sfCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  'snowflake.signin' AS technology, 1 AS parse_ok_i,
  'login' AS event_type, b.cip AS client_ip, 'ev' || b.eid_s AS event_id_s,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  b.uname AS user_name,
  CASE WHEN (b.event_id % 4) = 0 THEN '390144' ELSE NULL END AS error_code,
  CASE WHEN (b.event_id % 4) = 0 THEN 'jwt token is invalid' ELSE NULL END AS error_message,
  CASE WHEN (b.event_id % 4) = 0 THEN 'failure' ELSE 'success' END AS event_outcome,
  CAST(NULL AS BIGINT) AS event_start_ms,
  CAST(NULL AS STRING) AS user_roles,
  CAST(NULL AS STRING) AS database_user_name,
  CAST(NULL AS STRING) AS event_category,
  'sql_snowflake_signin' AS log_source_hostname,
  'logs-snowflake.signin_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM sf_turns t JOIN sf_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx,
  'snowflake.failed_login', 1,
  NULL, NULL, NULL,
  epoch_ms(t.ts), -- enrichment default: event.created = input ts when unset
  NULL, NULL, NULL, NULL,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  CASE WHEN (b.event_id % 3) = 0 THEN 'sysadmin' ELSE 'public' END,
  b.uname,
  CASE WHEN (b.event_id % 2) = 0 THEN 'password' ELSE 'id_token' END,
  'sql_snowflake_failed_login',
  'logs-snowflake.failed_login_' || strftime(t.ts, '%Y.%m.%d')
FROM sff_turns t JOIN sff_base b USING (event_id)""",

    // the LAST finding wins (ref :22-33): 'b' values on two-finding events
    "qsh01_securityhub" ->
      s"""WITH ${Transcripts.shCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  b.acct || (CASE WHEN b.two = 0 THEN 'b' ELSE '' END) AS cloud_account_id,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  'finding desc ' || b.eid_s || (CASE WHEN b.two = 0 THEN 'b' ELSE '' END) AS rule_description,
  'aws-guard-' || CAST(b.event_id % 9 AS STRING) || (CASE WHEN b.two = 0 THEN 'b' ELSE '' END) AS rule_id,
  'arn:finding/' || b.eid_s || (CASE WHEN b.two = 0 THEN 'b' ELSE '' END) AS event_id_s,
  '2018-10-08' AS service_version,
  CASE (b.event_id % 3) WHEN 0 THEN 'high' WHEN 1 THEN 'medium' ELSE 'low' END AS event_severity_name,
  'finding title ' || CAST(b.event_id % 25 AS STRING) || (CASE WHEN b.two = 0 THEN 'b' ELSE '' END) AS event_kind,
  CAST(NULL AS STRING) AS event_type, -- array-valued types
  epoch_ms(date_trunc('second', t.ts)) AS event_modified_ms,
  b.acct || (CASE WHEN b.two = 0 THEN 'b' ELSE '' END) AS log_source_hostname,
  CAST(NULL AS STRING) AS cloud_instance_id, -- ruby collects into arrays
  CAST(NULL AS STRING) AS cloud_region
FROM sh_turns t JOIN sh_base b USING (event_id)""",

    // agent_name = the envelope's scalar host (generic input normalization);
    // severity/facility from the wire pri (RULE 1's in-body <6> is
    // overwritten by the 04_syslog_pri_ecs rename, like the reference)
    "qa01_a10" ->
      s"""WITH ${Transcripts.a10Cte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'a10.proxy' AS technology,
  CASE b.asel WHEN 1 THEN 'rule 1' WHEN 2 THEN 'rule 3' ELSE 'does not match rule' END AS parse_rule,
  b.hostv AS agent_name,
  CASE WHEN b.asel = 1 THEN b.hostv || '-hn' ELSE NULL END AS host_hostname,
  CASE WHEN b.asel = 1 THEN 'a10d' ELSE NULL END AS process_name,
  CASE WHEN b.asel = 1 THEN 'tmm' ELSE NULL END AS event_provider,
  CASE WHEN b.asel = 1 THEN 'persist-xff' ELSE NULL END AS event_type,
  CASE WHEN b.asel = 1 THEN b.ua ELSE NULL END AS user_agent_original,
  CASE WHEN b.asel = 1 THEN '/app/' || b.eid_s ELSE NULL END AS url_path,
  CASE WHEN b.asel IN (1,2) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.asel = 2 THEN b.dip ELSE NULL END AS destination_ip,
  CASE WHEN b.asel = 2 THEN CAST(b.dpt AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.asel = 2 THEN b.proto ELSE NULL END AS network_protocol,
  CASE WHEN b.asel = 2 THEN b.act ELSE NULL END AS event_action,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  'local' || CAST(b.event_id % 8 AS STRING) AS log_syslog_facility_name,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  CASE (b.event_id % 5) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
    WHEN 2 THEN 'critical' WHEN 3 THEN 'error' ELSE 'warning' END AS log_syslog_severity_name,
  CASE WHEN b.asel = 1 THEN epoch_ms(date_trunc('second', t.ts))
       ELSE epoch_ms(t.ts) END AS event_created_ms,
  'a10' AS event_module, 'a10.proxy' AS event_dataset,
  'logs-a10.proxy_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM a10_turns t JOIN a10_base b USING (event_id)
WHERE b.asel <> 0""",

    // ksel→branch map mirrors the generator CTE; parse_ok=0 rows are the
    // conf's own always-failing dissects/groks (RULE 3 double-dissect, RULE 4
    // LOGIN_FAILED `{?starting_data}`, RULE 5 grok-in-dissect, RULE 7
    // user_dom, RULE 18 OCSP broken nesting); events are RULE-1-dropped at
    // ksel 0 (absent here). e03 stamps created for every row (the conf
    // removes [event][created]); iana port dict backfills https from 443
    // except ACL, whose broken `%{[network][protocol]- Type ...}` token
    // occupies the protocol path with a subtree.
    "qnt01_netscaler" ->
      s"""WITH ${Transcripts.ntCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel IN (6,8,9,15,25) THEN 0 ELSE 1 END AS parse_ok_i,
  'citrix.netscaler' AS technology,
  CASE WHEN b.ksel IN (1,2,3) THEN 'rule 2 (tcp)'
    WHEN b.ksel IN (4,5,6) THEN 'rule 3 (ica)'
    WHEN b.ksel IN (7,8) THEN 'rule 4 (aaa)'
    WHEN b.ksel = 9 THEN 'rule 5 (dns-ssli)'
    WHEN b.ksel IN (10,11,12,13) THEN 'rule 6 (sslvpn)'
    WHEN b.ksel IN (14,15) THEN 'rule 7 (aaatm)'
    WHEN b.ksel = 16 THEN 'rule 8 (acl)'
    WHEN b.ksel = 17 THEN 'rule 9 (alg)'
    WHEN b.ksel = 18 THEN 'rule 10 (subscriber)'
    WHEN b.ksel = 19 THEN 'rule 11 (urlfilt)'
    WHEN b.ksel = 20 THEN 'rule 12 (ci)'
    WHEN b.ksel = 21 THEN 'rule 15 (cmd_execute),rule 3'
    WHEN b.ksel = 22 THEN 'rule 16 (bot)'
    WHEN b.ksel = 23 THEN 'rule 17 (cvpn)'
    WHEN b.ksel IN (24,25) THEN 'rule 18 (ssllog)'
    ELSE 'rule 18 (others)' END AS parse_rule,
  'citrix' AS event_module, 'citrix.netscaler' AS event_dataset,
  CASE WHEN b.ksel IN (1,2,3) THEN 'tcp' WHEN b.ksel IN (4,5,6) THEN 'ica'
    WHEN b.ksel IN (7,8) THEN 'aaa' WHEN b.ksel = 9 THEN 'dns'
    WHEN b.ksel IN (10,11,12,13) THEN 'sslvpn'
    WHEN b.ksel IN (14,15) THEN 'aaatm' WHEN b.ksel = 16 THEN 'acl'
    WHEN b.ksel = 17 THEN 'alg' WHEN b.ksel = 18 THEN 'subscriber'
    WHEN b.ksel = 19 THEN 'urlfilt' WHEN b.ksel = 20 THEN 'ci'
    WHEN b.ksel = 21 THEN 'cli' WHEN b.ksel = 22 THEN 'bot'
    WHEN b.ksel = 23 THEN 'cvpn' WHEN b.ksel IN (24,25) THEN 'ssllog'
    ELSE 'appfw' END AS event_kind,
  CASE WHEN b.ksel IN (1,2,4,5,6,7,12,13,21,24) THEN 'audit/information'
    WHEN b.ksel = 8 THEN 'audit/authentication failure'
    WHEN b.ksel IN (10,11) THEN 'audit/authentication success'
    ELSE 'others' END AS event_category,
  CASE b.ksel WHEN 1 THEN 'conn_terminate' WHEN 2 THEN 'conn_delink'
    WHEN 3 THEN 'nat_conn_delink' WHEN 4 THEN 'message' WHEN 5 THEN 'message'
    WHEN 6 THEN 'session_update' WHEN 7 THEN 'extracted_groups'
    WHEN 8 THEN 'login_failed' WHEN 9 THEN 'query_resp' WHEN 10 THEN 'login'
    WHEN 11 THEN 'logout' WHEN 12 THEN 'httprequest'
    WHEN 13 THEN 'icaend_connstat' WHEN 14 THEN 'tcpstat'
    WHEN 15 THEN 'natstat' WHEN 16 THEN 'deny' WHEN 17 THEN 'sip_event'
    WHEN 18 THEN 'session_event' WHEN 19 THEN 'url_filtered'
    WHEN 20 THEN 'icap_log' WHEN 21 THEN 'cmd_executed' WHEN 22 THEN 'bot_sig'
    WHEN 23 THEN 'rewrite' WHEN 24 THEN 'ssl_handshake_success'
    WHEN 25 THEN 'ssl_ocspurl_resolve_success'
    ELSE 'appfw_violation' END AS event_type,
  CASE WHEN b.ksel IN (4,19) THEN 'cli' || b.uid_s ELSE b.hostv END AS source_address,
  CASE WHEN b.ksel IN (1,2,3,4,10,11,12,13,14,16,20) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel IN (1,2,3,4,13,14,16,20) THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (1,2,3,4,10,11,12,13,14,16,20) THEN '10.9.8.7'
    WHEN b.ksel = 21 THEN '10.2.3.4' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel IN (1,2,3,4,10,11,12,13,14,16,20) THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel IN (1,2,3,4,10,11,12,13,14,20) THEN 'https' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel IN (2,10,11,15) THEN '10.5.5.5' ELSE NULL END AS source_nat_ip,
  CASE WHEN b.ksel = 2 THEN CAST(4040 AS BIGINT) ELSE NULL END AS source_nat_port,
  CASE WHEN b.ksel IN (2,14,15) THEN '10.7.7.7'
    WHEN b.ksel = 20 THEN '10.5.5.5' ELSE NULL END AS server_ip,
  CASE WHEN b.ksel IN (2,14,15) THEN CAST(8443 AS BIGINT)
    WHEN b.ksel = 20 THEN CAST(1344 AS BIGINT) ELSE NULL END AS server_port,
  CASE WHEN b.ksel IN (1,2,3,11,13) THEN CAST(1500 AS BIGINT)
    WHEN b.ksel = 14 THEN CAST(98000 AS BIGINT) ELSE NULL END AS source_bytes,
  CASE WHEN b.ksel IN (1,2,3,11,13) THEN CAST(98000 AS BIGINT)
    WHEN b.ksel = 14 THEN CAST(1500 AS BIGINT) ELSE NULL END AS destination_bytes,
  CASE WHEN b.ksel IN (1,3,4,11,12,13,14) THEN epoch_ms(date_trunc('second', t.ts)) ELSE NULL END AS event_start_ms,
  CASE WHEN b.ksel IN (1,2,3,11,13,14) THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 60 SECOND)) ELSE NULL END AS event_end_ms,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.ksel = 3 THEN 'timeout' WHEN b.ksel IN (11,14) THEN 'explicit' ELSE NULL END AS event_reason,
  CASE WHEN b.ksel = 16 THEN 'deny' WHEN b.ksel = 19 THEN 'block'
    WHEN b.ksel = 22 THEN 'bot_sig_matched' ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 21 THEN 'success' ELSE NULL END AS event_outcome,
  CASE WHEN b.ksel = 4 THEN '0' WHEN b.ksel = 16 THEN '16' ELSE NULL END AS event_code,
  CASE WHEN b.ksel = 16 THEN '5' ELSE NULL END AS event_sequence,
  CASE WHEN b.ksel = 14 THEN '180' WHEN b.ksel = 15 THEN '240'
    WHEN b.ksel = 16 THEN '1670000000' ELSE NULL END AS event_duration,
  CASE WHEN b.ksel = 4 THEN 'nsepa' || b.eid_s
    WHEN b.ksel = 16 THEN 'acl' || CAST(b.event_id % 40 AS STRING) ELSE NULL END AS rule_name,
  CASE WHEN b.ksel = 5 THEN 'session cleanup for user usr' || b.uid_s
    WHEN b.ksel = 23 THEN 'html_url /portal/x' || b.uid_s || ':pcre_error 42'
    WHEN b.ksel = 26 THEN 'profile violation starturl for req' || b.eid_s
    ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 7 THEN 'grp' || b.uid_s
    WHEN b.ksel IN (10,11,12,14) THEN 'staff' || b.u5
    WHEN b.ksel = 19 THEN 'streaming' ELSE NULL END AS group_name,
  CASE WHEN b.ksel = 19 THEN '12' ELSE NULL END AS group_id,
  CASE WHEN b.ksel IN (4,10,11,12,13,14) THEN 'usr' || b.uid_s
    WHEN b.ksel = 21 THEN 'admin' || b.uid_s ELSE NULL END AS source_user_name,
  CASE WHEN b.ksel = 13 THEN 'dom' || CAST(b.user_id % 9 AS STRING) ELSE NULL END AS source_user_domain,
  CASE WHEN b.ksel IN (10,12) THEN 'sid' || b.eid_s
    WHEN b.ksel = 13 THEN 'conn' || b.eid_s
    WHEN b.ksel = 18 THEN 'sess' || b.eid_s ELSE NULL END AS trace_id,
  CASE WHEN b.ksel = 12 THEN 'http://portal' || b.uid_s || '/home'
    WHEN b.ksel = 19 THEN 'http://ex' || b.uid_s || '/p'
    WHEN b.ksel = 23 THEN '/portal/x' || b.uid_s ELSE NULL END AS url_full,
  CASE WHEN b.ksel = 20 THEN 'intra' || b.uid_s ELSE NULL END AS url_domain,
  CASE WHEN b.ksel = 12 THEN 'get' ELSE NULL END AS http_request_method,
  CASE WHEN b.ksel = 12 THEN 'http://ref' || b.uid_s ELSE NULL END AS http_request_referrer,
  CASE WHEN b.ksel = 20 THEN CAST(200 AS BIGINT) ELSE NULL END AS http_response_status_code,
  CASE WHEN b.ksel = 10 THEN 'mozilla' ELSE NULL END AS user_agent_name,
  CASE WHEN b.ksel = 4 THEN 'guid' || b.eid_s
    WHEN b.ksel = 6 THEN 'g' || b.eid_s ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 6 THEN 'sn' || b.eid_s ELSE NULL END AS host_serial,
  CASE WHEN b.ksel = 6 THEN 'ck' || b.eid_s ELSE NULL END AS http_cookie_name,
  CASE WHEN b.ksel = 20 THEN 'reqmod' ELSE NULL END AS service_type,
  CASE WHEN b.ksel = 20 THEN 'av_scan' ELSE NULL END AS service_name,
  CASE WHEN b.ksel = 23 THEN '42' ELSE NULL END AS error_code,
  CASE WHEN b.ksel = 19 THEN CAST(85 AS BIGINT) ELSE NULL END AS event_risk_score,
  CASE WHEN b.ksel = 14 THEN b.sip ELSE NULL END AS client_ip,
  CASE WHEN b.ksel = 4 THEN 'srv' || b.uid_s
    WHEN b.ksel = 19 THEN 'dst' || b.uid_s ELSE NULL END AS destination_address,
  CASE WHEN b.ksel = 21 THEN 'show run all' ELSE NULL END AS process_command_line,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-citrix.netscaler_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM nt_turns t JOIN nt_base b USING (event_id)
WHERE b.ksel <> 0""",

    // ksel→rule map mirrors jp_body; parse_rule stacks the ladder rules with
    // the classification rule (add_field array promotion, comma-joined);
    // ksel 1 is the never-matching RULE 3 dissect (parse_ok 0); ksel 20/21
    // hit the case-sensitive classification trap (RULE 27 'others')
    "qjp01_pulse" ->
      s"""WITH ${Transcripts.jpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel = 1 THEN 0 ELSE 1 END AS parse_ok_i,
  'juniper_pulse.ssl.vpn' AS technology,
  CASE b.ksel
    WHEN 0 THEN 'rule 1,rule 2,rule 22' WHEN 1 THEN 'rule 1,rule 3,rule 27'
    WHEN 2 THEN 'rule 4,rule 4 (a),rule 25' WHEN 3 THEN 'rule 4,rule 4 (b),rule 25'
    WHEN 4 THEN 'rule 5,rule 5 (a),rule 24' WHEN 5 THEN 'rule 5,rule 5 (b),rule 24'
    WHEN 6 THEN 'rule 6,rule 22' WHEN 7 THEN 'rule 7,rule 22'
    WHEN 8 THEN 'rule 8,rule 22' WHEN 9 THEN 'rule 9,rule 18'
    WHEN 10 THEN 'rule 9,rule 17' WHEN 11 THEN 'rule 10,rule 22'
    WHEN 12 THEN 'rule 11,rule 23' WHEN 13 THEN 'rule 12,rule 12 (b),rule 25'
    WHEN 14 THEN 'rule 13,rule 25' WHEN 15 THEN 'rule 14,rule 14 (a),rule 19'
    WHEN 16 THEN 'rule 14,rule 14 (b),rule 19' WHEN 17 THEN 'rule 15,rule 25'
    WHEN 18 THEN 'rule hc-timeout,rule 26' WHEN 19 THEN 'rule login,rule 18'
    WHEN 20 THEN 'rule login,rule 27' WHEN 21 THEN 'rule login,rule 27'
    WHEN 22 THEN 'vpnt-session,rule 25' WHEN 23 THEN 'vpnt-closed,rule 23'
    WHEN 24 THEN 'logout,rule 18' WHEN 25 THEN 'rule 16,rule 21'
    WHEN 26 THEN 'rule 16,rule 20' ELSE 'rule 16,rule 27' END AS parse_rule,
  'pulse_secure' AS event_module, 'pulse_secure.vpn' AS event_dataset,
  CASE WHEN b.ksel = 0 THEN 'audit/information'
    WHEN b.ksel IN (1,20,21,27) THEN 'others'
    WHEN b.ksel IN (2,3,13,14,17,22) THEN 'audit/other audit success'
    WHEN b.ksel IN (4,5) THEN 'audit/other audit failure'
    WHEN b.ksel IN (6,7,8,11) THEN 'audit/information'
    WHEN b.ksel IN (9,19,24) THEN 'audit/authentication success'
    WHEN b.ksel = 10 THEN 'audit/authentication failure'
    WHEN b.ksel IN (12,23) THEN 'ops/network traffic'
    WHEN b.ksel IN (15,16) THEN 'audit/account modified'
    WHEN b.ksel = 18 THEN 'ops/warning'
    WHEN b.ksel = 25 THEN 'ops/error'
    WHEN b.ksel = 26 THEN 'audit/configuration' END AS rule_category,
  CASE WHEN b.ksel IN (2,3,4,5,18) THEN 'host checker'
    WHEN b.ksel = 6 THEN 'received ocsp response'
    WHEN b.ksel = 7 THEN 'sending ocsp request'
    WHEN b.ksel = 8 THEN 'ocsp checking successfully passed'
    WHEN b.ksel IN (10,19,20,21) THEN 'login'
    WHEN b.ksel IN (12,13,14,22,23) THEN 'vpn tunneling'
    WHEN b.ksel = 16 THEN 'user accounts modified'
    WHEN b.ksel = 17 THEN 'session expired'
    WHEN b.ksel = 24 THEN 'logout' ELSE NULL END AS event_code,
  CASE WHEN b.ksel = 0 THEN 'major'
    WHEN b.ksel IN (2,3,4,5) THEN 'policy'
    WHEN b.ksel = 13 THEN 'session ended for user'
    WHEN b.ksel = 14 THEN 'session started for user'
    WHEN b.ksel = 18 THEN 'time out'
    WHEN b.ksel = 19 THEN 'agent'
    WHEN b.ksel = 22 THEN 'session resumed' ELSE NULL END AS event_type,
  CASE b.ksel WHEN 2 THEN 'pola' WHEN 3 THEN 'polb' WHEN 4 THEN 'polc'
    WHEN 5 THEN 'pold' WHEN 10 THEN 'failed' WHEN 12 THEN 'esp'
    WHEN 19 THEN 'succeeded' WHEN 20 THEN 'succeeded' WHEN 21 THEN 'web'
    WHEN 23 THEN 'closed connection' ELSE NULL END AS event_action,
  CASE WHEN b.ksel IN (2,3) THEN 'passed'
    WHEN b.ksel IN (4,5) THEN 'failed' ELSE NULL END AS event_outcome,
  CASE WHEN b.ksel = 0 THEN 'lid' || b.eid_s ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 0 THEN 'system()[] trap ' || b.eid_s
    WHEN b.ksel = 4 THEN 'av off' WHEN b.ksel = 5 THEN 'firewall off'
    WHEN b.ksel = 9 THEN 'primary authentication successful for usr' || b.uid_s || '/users from 10.1.2.3'
    WHEN b.ksel = 10 THEN 'primary authentication failed for usr' || b.uid_s || '/users from 10.1.2.3'
    WHEN b.ksel = 25 THEN 'ntp server 10.9.9.9 unreachable since boot'
    WHEN b.ksel = 26 THEN 'remote address for user changed by admin'
    WHEN b.ksel = 27 THEN 'transport keepalive tick ' || b.eid_s
    ELSE NULL END AS rule_description,
  b.hostv AS source_address,
  CASE WHEN b.ksel = 7 THEN '10.7.7.7' ELSE b.sip END AS source_ip,
  CASE WHEN b.ksel = 16 THEN 'ub' || b.uid_s
    WHEN b.ksel = 17 THEN 'uc' || b.uid_s ELSE 'usr' || b.uid_s END AS source_user_name,
  CASE WHEN b.ksel = 2 THEN '00:11:22:33:44:55'
    WHEN b.ksel = 4 THEN '00:11:22:33:44:66' ELSE NULL END AS source_mac,
  CASE WHEN b.ksel IN (2,3,4,18) THEN 'hu' || b.uid_s
    WHEN b.ksel = 19 THEN 'ud' || b.uid_s
    WHEN b.ksel = 20 THEN 'ue' || b.uid_s
    WHEN b.ksel = 21 THEN 'uf' || b.uid_s ELSE NULL END AS server_user_id,
  CASE WHEN b.ksel IN (2,4,13,14,19,22,24) THEN 'sid' || b.eid_s ELSE NULL END AS trace_id,
  CASE b.ksel WHEN 3 THEN '10.3.3.3' WHEN 6 THEN '10.6.6.6'
    WHEN 11 THEN '10.11.0.3' ELSE NULL END AS destination_ip,
  CASE b.ksel WHEN 6 THEN 'http://ocsp6/chk' WHEN 7 THEN 'http://ocsp7/req'
    ELSE NULL END AS url_full,
  CASE WHEN b.ksel IN (12,13,14,23) THEN '10.5.5.5' ELSE NULL END AS source_nat_ip,
  CASE WHEN b.ksel = 14 THEN 'host' || b.uid_s ELSE NULL END AS host_name,
  CASE WHEN b.ksel = 15 THEN 'ua' || b.uid_s ELSE NULL END AS user_id,
  CASE b.ksel WHEN 19 THEN 'pulse-secure/9.0' WHEN 20 THEN 'mozilla/5.0'
    WHEN 22 THEN 'pulse' ELSE NULL END AS user_agent_name,
  CASE b.ksel WHEN 19 THEN 'win 10' WHEN 20 THEN 'win nt 10.0' ELSE NULL END AS ua_os_version,
  CASE WHEN b.ksel = 22 THEN 'win 10' ELSE NULL END AS ua_os_name,
  CASE WHEN b.ksel = 23 THEN '3600' ELSE NULL END AS event_duration,
  CASE WHEN b.ksel = 23 THEN CAST(111222 AS BIGINT) ELSE NULL END AS source_bytes,
  CASE WHEN b.ksel = 23 THEN CAST(333444 AS BIGINT) ELSE NULL END AS destination_bytes,
  CASE WHEN b.ksel = 21 THEN 'users' ELSE NULL END AS group_name,
  CASE WHEN b.ksel = 21 THEN 'role a' ELSE NULL END AS source_user_roles,
  CASE WHEN b.ksel = 8 THEN 'cn=client' || b.uid_s ELSE NULL END AS tls_client_subject,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-juniper_pulse.ssl.vpn_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM jp_turns t JOIN jp_base b USING (event_id)""",

    // ksel map mirrors tn_body; created stamps from the alert Timestamp for
    // signal/reputation, e03 default elsewhere; ksel 2's two-level ancestry
    // chain turns user.name/domain into arrays (scalar flatten → NULL);
    // techniques/rhash are size-gated concat_ws on both sides
    "qtn01_tanium" ->
      s"""WITH ${Transcripts.tnCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'tanium' AS technology, 'not parsed' AS parse_rule,
  CASE WHEN b.ksel IN (0,1,2) THEN 'tanium'
    WHEN b.ksel = 3 THEN 'tanium-asset-info'
    WHEN b.ksel IN (4,5) THEN 'openioc'
    WHEN b.ksel = 6 THEN 'conn' || b.u5
    ELSE 'not parsed' END AS event_module,
  'tanium.events' AS event_dataset,
  CASE WHEN b.ksel IN (0,2) THEN 'tanium-signal'
    WHEN b.ksel = 1 THEN 'reputation' ELSE NULL END AS event_type,
  CASE WHEN b.ksel IN (0,1,2) THEN 'in' || b.eid_s
    WHEN b.ksel IN (4,5) THEN 'io' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.ksel WHEN 0 THEN 'sig rule ' || b.u5
    WHEN 1 THEN 'reputation watch ' || b.u5
    WHEN 2 THEN 'sig chain ' || b.u5
    WHEN 4 THEN 'detect cve-2021-44228 log4shell'
    WHEN 5 THEN 'reputation malicious files on disk' ELSE NULL END AS rule_name,
  CASE WHEN b.ksel <= 6 THEN 'tn-host' || b.uid_s ELSE NULL END AS host_hostname,
  CASE WHEN b.ksel <= 6 THEN 'tn-host' || b.uid_s ELSE NULL END AS host_name,
  CASE WHEN b.ksel IN (0,1,2,3,6) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 3 THEN '10.5.5.5' ELSE NULL END AS source_nat_ip,
  CASE b.ksel WHEN 3 THEN '10.4.4.4' WHEN 4 THEN '10.4.4.5'
    WHEN 5 THEN '10.4.4.6' ELSE NULL END AS host_ip,
  CASE b.ksel WHEN 0 THEN 'windows server 2019' WHEN 3 THEN 'windows 10'
    WHEN 4 THEN 'linux' WHEN 6 THEN 'win 10' ELSE NULL END AS host_os_name,
  CASE b.ksel WHEN 0 THEN 'windows' WHEN 4 THEN 'debian' ELSE NULL END AS host_os_family,
  CASE b.ksel WHEN 0 THEN '17763' WHEN 4 THEN '11' ELSE NULL END AS host_os_version,
  CASE WHEN b.ksel = 3 THEN 'sn' || b.eid_s ELSE NULL END AS host_serial,
  CASE WHEN b.ksel = 3 THEN 'corp' || b.u5 ELSE NULL END AS host_domain,
  CASE WHEN b.ksel = 3 THEN '00-aa-bb-cc-dd-22' ELSE NULL END AS host_mac,
  CASE b.ksel WHEN 3 THEN 'latitude 5400' WHEN 6 THEN 'optiplex' ELSE NULL END AS host_model,
  CASE WHEN b.ksel = 3 THEN 'dell' ELSE NULL END AS host_manufacturer,
  CASE WHEN b.ksel = 3 THEN 'tnsrv' || b.u5 ELSE NULL END AS observer_hostname,
  CASE WHEN b.ksel = 3 THEN 'tanium' ELSE NULL END AS observer_vendor,
  CASE WHEN b.ksel = 6 THEN 'mcp client' ELSE NULL END AS observer_name,
  CASE WHEN b.ksel = 6 THEN '5.2' ELSE NULL END AS observer_version,
  CASE WHEN b.ksel = 6 THEN 'tag' || b.u5 ELSE NULL END AS network_name,
  CASE WHEN b.ksel = 6 THEN 'conn' || b.u5 ELSE NULL END AS event_reason,
  CASE WHEN b.ksel = 6 THEN 'sep client' ELSE NULL END AS service_name,
  CAST(NULL AS STRING) AS service_version,
  CASE b.ksel WHEN 4 THEN 'file' WHEN 5 THEN 'process' ELSE NULL END AS service_type,
  CASE b.ksel WHEN 4 THEN 'yara' WHEN 5 THEN 'reputation' ELSE NULL END AS rule_ruleset,
  CASE WHEN b.ksel = 4 THEN 'ioc matched ' || b.eid_s ELSE NULL END AS event_original,
  CASE WHEN b.ksel = 0 THEN 'psvc' || b.uid_s ELSE NULL END AS user_name,
  CASE WHEN b.ksel = 0 THEN 'dom' || b.uid_s ELSE NULL END AS user_domain,
  CASE b.ksel WHEN 0 THEN 'c:/windows/cmd.exe' WHEN 1 THEN 'd:/apps/mal.exe'
    WHEN 2 THEN 'c:/tmp/payload.exe' ELSE NULL END AS process_executable,
  CASE WHEN b.ksel = 1 THEN CAST(40960 AS BIGINT) ELSE NULL END AS file_size,
  CASE WHEN b.ksel = 5 THEN 'e:/tmp/bad.exe' ELSE NULL END AS file_path,
  CASE b.ksel WHEN 0 THEN 't1059.001,t1027' WHEN 1 THEN 't1204'
    WHEN 2 THEN 't1055' WHEN 4 THEN 't1190' WHEN 5 THEN 't1105'
    ELSE NULL END AS techniques,
  CASE b.ksel WHEN 0 THEN 'ff' || b.eid_s || ',aa' || b.eid_s || ',bb' || b.eid_s || ',pm' || b.eid_s
    WHEN 1 THEN 'm' || b.eid_s || ',s' || b.eid_s || ',q' || b.eid_s
    WHEN 2 THEN 'ff' || b.eid_s || ',aa' || b.eid_s || ',bb' || b.eid_s
    ELSE NULL END AS rhash,
  CASE WHEN b.ksel IN (0,1,2) THEN epoch_ms(date_trunc('second', t.ts))
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE WHEN b.ksel = 4 THEN epoch_ms(date_trunc('second', t.ts)) ELSE NULL END AS event_start_ms,
  CASE WHEN b.ksel = 4 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 60 SECOND)) ELSE NULL END AS event_end_ms,
  CASE WHEN b.ksel IN (4,5) THEN epoch_ms(date_trunc('second', t.ts)) ELSE NULL END AS event_ingested_ms,
  'logs-tanium_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM tn_turns t JOIN tn_base b USING (event_id)""",

    // ksel map mirrors gdm_body; ksel 1 proves the 1433→ms-sql-s port-dict
    // backfill (no Net Protocol in that alarm); ksel 5 proves the dead
    // RULE 5 gate; the error split leaves only file.path (ksel 0)
    "qgd01_guardium" ->
      s"""WITH ${Transcripts.gdmCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'guardium.db' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 1,rule 1(b)' WHEN 1 THEN 'rule 1,rule 1(b)'
    WHEN 2 THEN 'rule 1,rule 1(a),rule 2(b)' WHEN 3 THEN 'rule 3'
    WHEN 4 THEN 'rule 4' ELSE 'not parsed' END AS parse_rule,
  CASE b.ksel WHEN 0 THEN 'oracle' WHEN 1 THEN 'ms sql server'
    ELSE 'guardium' END AS event_module,
  'guardium.db' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'failed login rule' WHEN 1 THEN 'policy breach rule'
    WHEN 2 THEN 'stap no traffic' ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 0 THEN '20587' WHEN 1 THEN '20590' ELSE NULL END AS rule_id,
  CASE WHEN b.ksel IN (0,1) THEN 'v' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.ksel WHEN 0 THEN 'high' WHEN 1 THEN 'low' ELSE NULL END AS event_severity_name,
  CASE WHEN b.ksel IN (0,1) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel IN (0,1) THEN 'cli' || b.uid_s ELSE NULL END AS source_address,
  CASE b.ksel WHEN 0 THEN CAST(50123 AS BIGINT) WHEN 1 THEN CAST(50124 AS BIGINT)
    ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (0,1) THEN 'osu' || b.uid_s ELSE NULL END AS source_user_name,
  CASE WHEN b.ksel IN (0,1) THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel IN (0,1) THEN 'srv' || b.uid_s ELSE NULL END AS destination_address,
  CASE b.ksel WHEN 0 THEN CAST(1521 AS BIGINT) WHEN 1 THEN CAST(1433 AS BIGINT)
    ELSE NULL END AS destination_port,
  CASE b.ksel WHEN 0 THEN 'login' WHEN 1 THEN 'query' ELSE NULL END AS service_name,
  CASE b.ksel WHEN 0 THEN 'orasvc' WHEN 1 THEN 'mssvc' ELSE NULL END AS service_type,
  CASE b.ksel WHEN 0 THEN 'tcp' WHEN 1 THEN 'ms-sql-s' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel IN (0,1) THEN 'proddb' ELSE NULL END AS database_name,
  CASE b.ksel WHEN 0 THEN 'sqlplus' WHEN 1 THEN 'ssms' WHEN 2 THEN 'guard_alert'
    WHEN 3 THEN 'run-parts' WHEN 4 THEN 'gdm-session' ELSE NULL END AS process_name,
  CASE b.ksel WHEN 0 THEN CAST(4242 AS BIGINT) WHEN 1 THEN CAST(4242 AS BIGINT)
    WHEN 2 THEN CAST(777 AS BIGINT) WHEN 3 THEN CAST(452 AS BIGINT)
    ELSE NULL END AS process_pid,
  CASE WHEN b.ksel = 0 THEN CAST(1592064797000 AS BIGINT) ELSE NULL END AS event_start_ms,
  CASE WHEN b.ksel = 2 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 60 SECOND)) ELSE NULL END AS event_end_ms,
  CASE WHEN b.ksel = 2 THEN '77' ELSE NULL END AS event_sequence,
  CASE WHEN b.ksel = 0 THEN 'gdom' ELSE NULL END AS user_domain,
  CASE b.ksel WHEN 0 THEN 'dbu' || b.uid_s WHEN 1 THEN 'dbu' || b.uid_s
    ELSE NULL END AS user_name,
  CASE WHEN b.ksel = 0 THEN '/var/log/gd' || b.u5 ELSE NULL END AS file_path,
  CASE WHEN b.ksel = 2 THEN '10.8.8.8' ELSE NULL END AS server_ip,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-guardium.db_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM gdm_turns t JOIN gdm_base b USING (event_id)""",

    // ksel map mirrors sd_body; Rule 2 rows (2-5) default to pri 13
    // (facility 1 'user-level', severity 5 'notice'); ksel 0's unresolved
    // sprintf literals survive 94 verbatim; ksel 2's alarmkind lands in the
    // top-level dotted 'event.reason' key, NOT [event][reason] (NULL here)
    "qsd01_sdwan" ->
      s"""WITH ${Transcripts.sdCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'sdwan.app' AS technology,
  CASE WHEN b.ksel IN (0,1) THEN 'rule 1' ELSE 'rule 2' END AS parse_rule,
  'versa' AS event_module, 'versa.sdwan_application' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'versa.eventlog' WHEN 1 THEN 'versa.clilog'
    WHEN 2 THEN 'versa.alarmlog' WHEN 3 THEN 'versa.sdwanb2bslamlog'
    WHEN 4 THEN 'versa.eventlog' ELSE 'versa.systemloadlog' END AS event_provider,
  CASE b.ksel WHEN 2 THEN 'alert' WHEN 3 THEN 'metric' WHEN 5 THEN 'metric'
    ELSE 'event' END AS event_kind,
  CASE b.ksel WHEN 0 THEN 'info' WHEN 1 THEN 'warn' ELSE NULL END AS log_level,
  CASE WHEN b.ksel = 0 THEN 'dev' || b.u5
    WHEN b.ksel IN (2,3,4) THEN 'sj' || b.u5 || '-edge' ELSE NULL END AS host_hostname,
  CASE WHEN b.ksel = 2 THEN 'dev12-hub' ELSE NULL END AS observer_hostname,
  CASE WHEN b.ksel IN (2,3,4) THEN 'acme' || b.u5 ELSE NULL END AS organization_name,
  CASE b.ksel WHEN 0 THEN 'link-up' WHEN 2 THEN 'linkdown'
    WHEN 4 THEN 'sdwan-datapath-sla-not-met' ELSE NULL END AS error_type,
  CASE b.ksel WHEN 1 THEN 'show interfaces br' WHEN 2 THEN 'outofservice'
    ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 2 THEN 'failure' ELSE NULL END AS event_outcome,
  CASE WHEN b.ksel = 2 THEN 'q' || b.eid_s ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 2 THEN 'wan link down' ELSE NULL END AS error_message,
  CASE WHEN b.ksel = 2 THEN 'vsn' || b.eid_s ELSE NULL END AS host_id,
  CASE WHEN b.ksel = 2 THEN 'comm' ELSE NULL END AS rule_category,
  CASE WHEN b.ksel = 2 THEN 'communication' ELSE NULL END AS event_type,
  CASE WHEN b.ksel = 2 THEN 'key' || b.eid_s ELSE NULL END AS event_code,
  CASE WHEN b.ksel = 0 THEN 'link up wan' || b.u5 ELSE NULL END AS event_reason,
  CASE WHEN b.ksel = 0 THEN 'minor' ELSE NULL END AS event_severity_name,
  CASE WHEN b.ksel IN (2,4) THEN CAST(1592064797000 AS BIGINT) ELSE NULL END AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CASE WHEN b.ksel = 0 THEN '%' || chr(123) || '[[tmp][rest_msg][localsitename]]' || chr(125)
      || ',%' || chr(123) || '[[tmp][rest_msg][remotesitename]]' || chr(125)
    WHEN b.ksel = 3 THEN 'site-a,site-b'
    WHEN b.ksel = 4 THEN 'sitey' ELSE NULL END AS rhosts,
  CASE WHEN b.ksel = 0 THEN '%' || chr(123) || '[[tmp][rest_msg][remoteacccktname]]' || chr(125)
    WHEN b.ksel = 3 THEN 'inet1' WHEN b.ksel = 4 THEN 'inet9'
    ELSE NULL END AS observer_ingress_interface_name,
  CASE WHEN b.ksel = 3 THEN 'outbound' ELSE NULL END AS network_direction,
  CASE WHEN b.ksel = 0 THEN '%' || chr(123) || '[[tmp][rest_msg][fwdclass]]' || chr(125)
    WHEN b.ksel = 3 THEN 'fc-ef' WHEN b.ksel = 4 THEN 'fc-af'
    ELSE NULL END AS rule_ruleset,
  CASE WHEN b.ksel = 0 THEN 'dev'
    WHEN b.ksel IN (2,3,4) THEN 'sj' ELSE NULL END AS network_name,
  CASE WHEN b.ksel = 0 THEN 'dev' || b.u5
    WHEN b.ksel IN (2,3,4) THEN 'edge' ELSE NULL END AS service_type,
  CASE WHEN b.ksel IN (0,1) THEN CAST(16 + (b.event_id % 8) AS BIGINT)
    ELSE CAST(1 AS BIGINT) END AS log_syslog_facility_code,
  CASE WHEN b.ksel IN (0,1) THEN 'local' || CAST(b.event_id % 8 AS STRING)
    ELSE 'user-level' END AS log_syslog_facility_name,
  CASE WHEN b.ksel IN (0,1) THEN CAST(b.event_id % 5 AS BIGINT)
    ELSE CAST(5 AS BIGINT) END AS log_syslog_severity_code,
  CASE WHEN b.ksel IN (0,1) THEN
      CASE (b.event_id % 5) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
        WHEN 2 THEN 'critical' WHEN 3 THEN 'error' ELSE 'warning' END
    ELSE 'notice' END AS log_syslog_severity_name,
  'logs-sdwan.app_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM sd_turns t JOIN sd_base b USING (event_id)""",

    "qsh01_secmgr" ->
      s"""WITH ${Transcripts.shmCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'skyhigh.security.mgr' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 2,rule 3' WHEN 1 THEN 'rule 2,rule 4'
    WHEN 2 THEN 'rule 5,rule 6,rule 11' WHEN 3 THEN 'rule 5,rule 9,rule 10'
    WHEN 4 THEN 'rule 12,rule 13' WHEN 5 THEN 'rule 17,rule 18,rule 19(a)'
    WHEN 6 THEN 'rule 17,rule 19' ELSE 'rule 20' END AS parse_rule,
  'skyhigh' AS event_module, 'skyhigh.sec_mgr' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'ops/network allow' WHEN 1 THEN 'ops/information'
    WHEN 4 THEN 'audit/authentication success'
    WHEN 5 THEN 'security/attack' WHEN 6 THEN 'security/attack'
    WHEN 7 THEN 'audit/other' ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 2 THEN 'ops/error' WHEN 3 THEN 'ops/information'
    ELSE NULL END AS event_category,
  CASE WHEN b.ksel = 4 THEN 'obs' || b.u5 ELSE NULL END AS observer_hostname,
  CASE WHEN b.ksel IN (0,1) THEN 'fw' || b.u5 ELSE NULL END AS source_address,
  CASE b.ksel WHEN 0 THEN '(inbound acl rule/#1)'
    WHEN 1 THEN '(management ping rule'
    WHEN 5 THEN 'policy violation detected'
    WHEN 6 THEN 'scan sweep detected' ELSE NULL END AS rule_name,
  CASE WHEN b.ksel IN (0,1,5,6) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel IN (0,1,5,6) THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel = 5 THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE b.ksel WHEN 0 THEN CAST(443 AS BIGINT) WHEN 1 THEN CAST(8080 AS BIGINT)
    WHEN 5 THEN CAST(80 AS BIGINT) ELSE NULL END AS destination_port,
  CASE b.ksel WHEN 0 THEN 'https' WHEN 1 THEN 'http-alt' WHEN 5 THEN 'http'
    ELSE NULL END AS network_protocol,
  CASE b.ksel WHEN 0 THEN 'pass' WHEN 1 THEN 'drop' WHEN 5 THEN 'blocked'
    WHEN 6 THEN 'alerted' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 5 THEN 'suspicious request'
    WHEN 6 THEN 'port sweep detected' ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 5 THEN '5' ELSE NULL END AS event_severity_name,
  CASE WHEN b.ksel IN (5,6) THEN 'smgr' || b.u5 ELSE NULL END AS log_source_hostname,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-skyhigh.security.mgr_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM shm_turns t JOIN shm_base b USING (event_id)""",

    // swg never sets a parse_rule (surfaces 'not parsed' with parse_ok 1);
    // ksel 0/1 created is the fixed ts=[12/oct/2020...] epoch; the ver=h2
    // next-protocol is overwritten by the uri grok's empty capture and
    // scrubbed by 94 (NULL)
    "qsw01_swg" ->
      s"""WITH ${Transcripts.swgCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'skyhigh.swg' AS technology, 'not parsed' AS parse_rule,
  'skyhigh' AS event_module, 'skyhigh.swg' AS event_dataset,
  t.text AS event_original,
  CASE WHEN b.ksel IN (0,1) THEN 'bob' || b.uid_s ELSE NULL END AS user_name,
  CASE WHEN b.ksel IN (0,1) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 0 THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel = 0 THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel = 0 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel = 0 THEN 'https' ELSE NULL END AS network_protocol,
  CASE b.ksel WHEN 0 THEN CAST(200 AS BIGINT) WHEN 1 THEN CAST(403 AS BIGINT)
    ELSE NULL END AS http_response_status_code,
  CASE WHEN b.ksel = 0 THEN CAST(1400 AS BIGINT) ELSE NULL END AS http_request_bytes,
  CASE WHEN b.ksel = 0 THEN CAST(5200 AS BIGINT) ELSE NULL END AS http_response_bytes,
  CASE WHEN b.ksel = 0 THEN 'streaming' ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 0 THEN '10' WHEN 1 THEN '80' ELSE NULL END AS rule_id,
  CASE WHEN b.ksel = 0 THEN 'ru-' || b.u5 ELSE NULL END AS rule_uuid,
  CASE WHEN b.ksel = 0 THEN 'gateway antimalware' ELSE NULL END AS rule_ruleset,
  CASE WHEN b.ksel = 1 THEN 'eicar-test' ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 0 THEN 'blocked due to an entry in the url database'
    WHEN 1 THEN 'blocked due to a virus having been found'
    ELSE NULL END AS rule_description,
  CASE WHEN b.ksel IN (0,1) THEN 'denied' ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 0 THEN CAST(60 AS BIGINT) ELSE NULL END AS event_risk_score,
  CASE WHEN b.ksel = 0 THEN '5' ELSE NULL END AS event_severity_name,
  CASE WHEN b.ksel = 0 THEN '10.7.7.7' ELSE NULL END AS observer_ip,
  CASE WHEN b.ksel = 0 THEN 'browser' ELSE NULL END AS process_name,
  CASE WHEN b.ksel = 0 THEN 'curl/8.5' ELSE NULL END AS user_agent_original,
  -- the tmp_url grok's optional next-protocol capture matches "" and is
  -- dropped (keep_empty_captures false) — the ver= rename survives it
  CASE WHEN b.ksel = 0 THEN 'h2' ELSE NULL END AS tls_next_protocol,
  CASE WHEN b.ksel IN (0,1) THEN 'get' ELSE NULL END AS http_request_method,
  CASE b.ksel WHEN 0 THEN 'http://shop' || b.u5 || '.example.com/cart'
    WHEN 1 THEN 'http://bad' || b.u5 || '.example.com/x' ELSE NULL END AS url_full,
  CASE WHEN b.ksel = 2 THEN '1234' ELSE NULL END AS error_id,
  CASE WHEN b.ksel = 2 THEN 'bad cert' ELSE NULL END AS error_code,
  CASE WHEN b.ksel = 2 THEN 'trust failed' ELSE NULL END AS error_message,
  CASE WHEN b.ksel = 2 THEN CAST(6 AS BIGINT) ELSE NULL END AS event_severity,
  CASE WHEN b.ksel IN (0,1) THEN CAST(1602523441000 AS BIGINT)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-skyhigh.swg_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM swg_turns t JOIN swg_base b USING (event_id)""",

    // scp: no syslog header (api source); created from the epoch column
    // (ksel 0) or the e03 default; service_state is scalar only when a
    // single scanner flag is present (ksel 1's second flag → array → NULL);
    // registered/top-level domains come from the tld filter
    "qsc01_scp" ->
      s"""WITH ${Transcripts.scpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'skyhigh.scp' AS technology, 'not parsed' AS parse_rule,
  'skyhigh' AS event_module, 'skyhigh.scp' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'bob' || b.uid_s WHEN 1 THEN 'alice' || b.uid_s
    ELSE NULL END AS user_name,
  CASE WHEN b.ksel = 0 THEN 'scpdom' ELSE NULL END AS user_domain,
  CASE WHEN b.ksel IN (0,1) THEN b.sip ELSE NULL END AS source_ip,
  CASE b.ksel WHEN 0 THEN '10.5.5.5' WHEN 1 THEN '10.5.5.6' ELSE NULL END AS source_nat_ip,
  CASE b.ksel WHEN 0 THEN CAST(40123 AS BIGINT) WHEN 1 THEN CAST(40124 AS BIGINT)
    ELSE NULL END AS source_nat_port,
  CASE b.ksel WHEN 0 THEN 'get' WHEN 1 THEN 'post' ELSE NULL END AS http_request_method,
  CASE b.ksel WHEN 0 THEN CAST(5200 AS BIGINT) WHEN 1 THEN CAST(100 AS BIGINT)
    ELSE NULL END AS destination_bytes,
  CASE b.ksel WHEN 0 THEN CAST(1400 AS BIGINT) WHEN 1 THEN CAST(900 AS BIGINT)
    ELSE NULL END AS source_bytes,
  CASE b.ksel WHEN 0 THEN 'shop' || b.u5 || '.example.com'
    WHEN 1 THEN 'intranet.corp' || b.u5 || '.net' ELSE NULL END AS url_domain,
  CASE b.ksel WHEN 0 THEN '/cart' WHEN 1 THEN '/up' ELSE NULL END AS url_path,
  CASE WHEN b.ksel IN (0,1) THEN 'https' ELSE NULL END AS url_scheme,
  CASE b.ksel WHEN 0 THEN 'https://shop' || b.u5 || '.example.com/cart'
    WHEN 1 THEN 'https://intranet.corp' || b.u5 || '.net/up' ELSE NULL END AS url_full,
  CASE b.ksel WHEN 0 THEN 'example.com' WHEN 1 THEN 'corp' || b.u5 || '.net'
    ELSE NULL END AS url_registered_domain,
  CASE b.ksel WHEN 0 THEN 'com' WHEN 1 THEN 'net' ELSE NULL END AS url_tld,
  CASE b.ksel WHEN 0 THEN 'allowed' WHEN 1 THEN 'denied' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 0 THEN 'web policy' WHEN 1 THEN 'dlp policy' ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 0 THEN 'ru-9' WHEN 1 THEN 'ru-8' ELSE NULL END AS rule_uuid,
  CASE b.ksel WHEN 0 THEN 'dc east' WHEN 1 THEN 'dc west' ELSE NULL END AS rule_description,
  CASE b.ksel WHEN 0 THEN 'gateway av' WHEN 1 THEN 'dlp block' ELSE NULL END AS rule_ruleset,
  CASE b.ksel WHEN 0 THEN '5' WHEN 1 THEN '8' ELSE NULL END AS event_severity_name,
  CASE b.ksel WHEN 0 THEN CAST(200 AS BIGINT) WHEN 1 THEN CAST(403 AS BIGINT)
    ELSE NULL END AS http_response_status_code,
  CASE WHEN b.ksel IN (0,1) THEN 'curl' ELSE NULL END AS user_agent_name,
  CASE b.ksel WHEN 0 THEN 'browser' WHEN 1 THEN 'agentapp' ELSE NULL END AS process_name,
  CASE b.ksel WHEN 0 THEN '10.9.8.7' WHEN 1 THEN '10.9.8.8' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel IN (0,1) THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel IN (0,1) THEN 'https' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel = 0 THEN 'http://ref.example.com/' ELSE NULL END AS http_request_referrer,
  CASE WHEN b.ksel IN (0,1) THEN 'cli' || b.u5 ELSE NULL END AS source_address,
  CASE WHEN b.ksel = 1 THEN 'secret.xlsx' ELSE NULL END AS file_name,
  CASE b.ksel WHEN 0 THEN CAST(72 AS BIGINT) WHEN 1 THEN CAST(88 AS BIGINT)
    ELSE NULL END AS event_risk_score,
  CASE WHEN b.ksel IN (0,1) THEN 'proxysvc' ELSE NULL END AS service_name,
  CASE WHEN b.ksel = 0 THEN 'ssl_scanned: yes' ELSE NULL END AS service_state,
  CASE WHEN b.ksel IN (0,1) THEN 'mcafee' ELSE NULL END AS cloud_provider,
  CASE WHEN b.ksel IN (0,1) THEN 'api_mcp' ELSE NULL END AS log_source_hostname,
  CASE WHEN b.ksel = 0 THEN CAST(1602523441000 AS BIGINT)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  'logs-skyhigh.scp_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM scp_turns t JOIN scp_base b USING (event_id)""",

    // ksel map mirrors fs_body; 'rule 8 ' keeps the reference's trailing
    // space; [event][duration] is parsed then deleted by the conf's own
    // remove_field; severity translate only fires when a severity exists
    "qfs01_forescout" ->
      s"""WITH ${Transcripts.fsCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'forescout.counteract.nac' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 1,rule 2' WHEN 1 THEN 'rule 1,rule 4,rule 4 (3)'
    WHEN 2 THEN 'rule 1,rule 5,rule 5 (b),rule 6' WHEN 3 THEN 'rule 9'
    WHEN 4 THEN 'rule 11' ELSE 'rule 1,rule 8 ' END AS parse_rule,
  'forescout' AS event_module, 'forescout.counteract_nac' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'security/other'
    WHEN 3 THEN 'security/failed activity' ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 0 THEN 'quarantine' WHEN 3 THEN 'botnet' ELSE NULL END AS rule_ruleset,
  CASE b.ksel WHEN 0 THEN 'block' WHEN 3 THEN 'alert' ELSE NULL END AS service_type,
  CASE WHEN b.ksel IN (0,3) THEN b.sip
    WHEN b.ksel = 4 THEN '10.1.2.9' ELSE NULL END AS source_ip,
  CASE WHEN b.ksel IN (0,3) THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE b.ksel WHEN 0 THEN 'warn' WHEN 3 THEN 'errr' ELSE NULL END AS event_severity_name,
  CASE WHEN b.ksel = 1 THEN '10.1.1.1' ELSE 'fs-mgr' END AS source_address,
  CASE WHEN b.ksel = 4 THEN NULL ELSE 'nacapp' || b.u5 END AS host_hostname,
  CASE WHEN b.ksel = 4 THEN NULL ELSE 'nacapp' || b.u5 END AS host_name,
  CASE WHEN b.ksel = 4 THEN NULL ELSE 'nacapp' || b.u5 END AS log_source_hostname,
  CASE b.ksel WHEN 0 THEN CAST(514 AS BIGINT) WHEN 2 THEN CAST(514 AS BIGINT)
    WHEN 3 THEN CAST(515 AS BIGINT) WHEN 4 THEN CAST(900 AS BIGINT)
    WHEN 5 THEN CAST(600 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel = 1 THEN CAST(771 AS BIGINT) ELSE NULL END AS process_pid,
  CASE WHEN b.ksel = 1 THEN 'running' ELSE NULL END AS service_state,
  CASE b.ksel WHEN 1 THEN 'connected' WHEN 4 THEN 'alert' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 1 THEN 'engine ok'
    WHEN 4 THEN 'forescout - non corp device detected' ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 2 THEN '0011.22aa.bb' || b.u5
    WHEN 4 THEN '00:11:22:33:44:5' || b.u5 ELSE NULL END AS source_mac,
  epoch_ms(date_trunc('second', t.ts)) AS event_start_ms,
  CASE WHEN b.ksel = 5 THEN 'Application status changed to idle' ELSE NULL END AS event_original,
  CASE WHEN b.ksel = 4 THEN 'fsproc' ELSE NULL END AS process_name,
  CASE WHEN b.ksel = 4 THEN 'bob' || b.u5 ELSE NULL END AS user_name,
  CASE WHEN b.ksel = 4 THEN 'corp.local' ELSE NULL END AS host_domain,
  CASE WHEN b.ksel = 4 THEN 'sn' || b.eid_s ELSE NULL END AS host_serial,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-forescout.counteract.nac_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM fs_turns t JOIN fs_base b USING (event_id)""",

    // the sprintf literals for host.domain / observer.hostname (and
    // host.hostname / network.name on the non-assurance row) are the conf's
    // own unresolved envelope references — 94 keeps bracketed literals
    "qdna01_dna" ->
      s"""WITH ${Transcripts.dnaCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'cisco.dna' AS technology, 'not parsed' AS parse_rule,
  'cisco' AS event_module, 'cisco.dna' AS event_dataset,
  CASE b.ksel WHEN 1 THEN 'audit' ELSE 'issue' END AS event_category,
  CASE WHEN b.ksel IN (0,2) THEN 'event' ELSE NULL END AS event_kind,
  CASE b.ksel WHEN 0 THEN 'info' ELSE 'error' END AS event_type,
  CASE b.ksel WHEN 1 THEN 'system' ELSE 'assurance' END AS event_provider,
  'ev' || b.eid_s AS event_id_s,
  CASE WHEN b.ksel = 0 THEN 'http://dna/x' || b.u5 ELSE NULL END AS event_url,
  CASE WHEN b.ksel = 0 THEN 'availability' ELSE NULL END AS error_type,
  CASE WHEN b.ksel = 0 THEN 'interface down on ssid corp-wifi ' ELSE NULL END AS error_message,
  CASE b.ksel WHEN 0 THEN CAST(2 AS BIGINT) WHEN 1 THEN CAST(3 AS BIGINT)
    ELSE CAST(1 AS BIGINT) END AS event_severity,
  CASE b.ksel WHEN 0 THEN 'high utilization' WHEN 1 THEN 'backup failed'
    ELSE 'utilization increase detected on wlan' || b.u5 || ' in building7.' END AS event_action,
  CASE b.ksel WHEN 0 THEN 'port above threshold' WHEN 1 THEN 'backup failed'
    ELSE 'utilization increase detected on wlan' || b.u5 || ' in building7.' END AS event_reason,
  CASE WHEN b.ksel IN (0,2) THEN 'sw' || b.u5
    ELSE '%' || chr(123) || '[[log][source][hostname]]' || chr(125) END AS host_hostname,
  '%' || chr(123) || '[[log][source][hostname]]' || chr(125) AS host_domain,
  '%' || chr(123) || '[[log][source][hostname]]' || chr(125) AS observer_hostname,
  CASE b.ksel WHEN 0 THEN 'corp-wifi' WHEN 2 THEN 'wlan' || b.u5
    ELSE '%' || chr(123) || '[[[host][hostname]]]' || chr(125) END AS network_name,
  CASE WHEN b.ksel IN (0,2) THEN CAST(1602523441000 AS BIGINT)
    ELSE CAST(1602523441000 AS BIGINT) END AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-cisco.dna_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM dna_turns t JOIN dna_base b USING (event_id)""",

    // ksel 0 is the RULE 1 DBUG drop (absent); severity translate source
    // never exists, so rule.category never surfaces
    "qfg01_f5gtm" ->
      s"""WITH ${Transcripts.fgCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'f5.big.ip.gtm.dns' AS technology,
  CASE b.ksel WHEN 1 THEN 'rule 2' WHEN 2 THEN 'rule 6' WHEN 3 THEN 'rule 8'
    WHEN 4 THEN 'rule 10' WHEN 5 THEN 'rule 11' WHEN 6 THEN 'rule 12a'
    ELSE 'rule 7' END AS parse_rule,
  'f5' AS event_module, 'f5.loadbalancer' AS event_dataset,
  CASE WHEN b.ksel = 5 THEN NULL
    ELSE 'gtm-dst' || b.u5 END AS destination_address,
  CASE WHEN b.ksel = 5 THEN 'gtm-src' || b.u5 ELSE NULL END AS source_address,
  CASE b.ksel WHEN 1 THEN 'httpd' WHEN 2 THEN 'httpd' WHEN 3 THEN 'tmm'
    WHEN 4 THEN 'parts(/etc/cron.hourly)' WHEN 5 THEN 'logger'
    WHEN 6 THEN 'sshd' ELSE 'mcpd' END AS process_name,
  CASE b.ksel WHEN 1 THEN CAST(123 AS BIGINT) WHEN 2 THEN CAST(124 AS BIGINT)
    WHEN 3 THEN CAST(125 AS BIGINT) WHEN 4 THEN CAST(300 AS BIGINT)
    WHEN 6 THEN CAST(400 AS BIGINT) WHEN 7 THEN CAST(500 AS BIGINT)
    ELSE NULL END AS process_pid,
  CASE WHEN b.ksel IN (2,7) THEN 'admin' || b.u5 ELSE NULL END AS user_id,
  CASE WHEN b.ksel = 6 THEN 'root' ELSE NULL END AS user_name,
  CASE b.ksel WHEN 1 THEN 'token granted for admin' || b.u5
    WHEN 2 THEN 'login ok'
    WHEN 3 THEN 'monitor status down for pool member p' || b.u5
    WHEN 4 THEN 'starting 0anacron'
    WHEN 6 THEN 'authentication failure'
    WHEN 7 THEN 'modified cli config' ELSE NULL END AS rule_description,
  CASE WHEN b.ksel IN (1,5,6) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 5 THEN '/health.html' ELSE NULL END AS url_path,
  CASE WHEN b.ksel = 5 THEN '200' ELSE NULL END AS event_id_s,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-f5.big.ip.gtm.dns_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM fg_turns t JOIN fg_base b USING (event_id)
WHERE b.ksel <> 0""",

    "qlb02_lieberman" ->
      s"""WITH ${Transcripts.lbCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'lieberman.random.pass.mgr' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 2,rule 3,rule 11,rule 17,rule 25'
    WHEN 1 THEN 'rule 2,rule 4' WHEN 2 THEN 'rule 2,rule 5,rule 14'
    ELSE 'rule 2,rule 6' END AS parse_rule,
  'lieberman' AS event_module, 'lieberman.pass_manager' AS event_dataset,
  CASE b.ksel WHEN 2 THEN 'delegation' WHEN 3 THEN 'retrieval'
    ELSE 'opresult' END AS service_type,
  CASE b.ksel WHEN 0 THEN '12' WHEN 1 THEN '14' WHEN 2 THEN '20'
    ELSE '22' END AS rule_id,
  CAST(b.event_id % 400 AS STRING) AS event_id_s,
  CASE b.ksel WHEN 0 THEN 'passwordchange' WHEN 1 THEN 'passwordverify'
    WHEN 2 THEN 'grantaccess' ELSE 'passwordretrieve' END AS event_action,
  'lieb-app' || b.u5 AS source_address,
  'svc' || b.u5 AS source_user_name,
  CASE b.ksel WHEN 0 THEN 'op completed ok' WHEN 1 THEN 'scheduled op done'
    WHEN 2 THEN 'delegation granted'
    ELSE 'stored password retrieved by ' || chr(39) || 'websvc' || chr(39) || ' (description: prod db)'
    END AS rule_description,
  CAST(1602523441000 AS BIGINT) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  'audit/information' AS rule_category,
  CASE WHEN b.ksel = 0 THEN 'rotate prod' ELSE NULL END AS rule_ruleset,
  CASE WHEN b.ksel = 0 THEN 'administrator' ELSE NULL END AS process_name,
  CASE WHEN b.ksel = 0 THEN 'prod-list' ELSE NULL END AS group_name,
  CASE WHEN b.ksel = 2 THEN 'bob' || b.u5 ELSE NULL END AS user_name,
  CASE WHEN b.ksel IN (2,3) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 2 THEN 'dc' || b.u5 ELSE NULL END AS destination_address,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-lieberman.random.pass.mgr_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM lb_turns t JOIN lb_base b USING (event_id)""",

    // ksel 5 is the stack-dump drop (absent); the snmp trap id keeps its
    // leading space; security-center os lines miss the pipe grok
    "qtb01_tenable" ->
      s"""WITH ${Transcripts.tbCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel = 7 THEN 0 ELSE 1 END AS parse_ok_i,
  CASE WHEN b.ksel = 0 THEN 'snmp.forescout'
    WHEN b.ksel <= 5 THEN 'tenable.nessus_scanner'
    ELSE 'tenable.security_center' END AS technology,
  'not parsed' AS parse_rule,
  CASE WHEN b.ksel = 0 THEN NULL ELSE 'tenable_nessus' END AS event_module,
  CASE WHEN b.ksel = 0 THEN NULL
    WHEN b.ksel <= 5 THEN 'tenable_nessus.scanner'
    ELSE 'tenable_nessus.security_center' END AS event_dataset,
  CASE WHEN b.ksel = 6 THEN 'tenable_nessus.security_center.app'
    WHEN b.ksel = 7 THEN 'tenable_nessus.security_center.os_logs'
    ELSE NULL END AS event_kind,
  CASE WHEN b.ksel IN (1,2,3) THEN 'nessus' || b.u5
    WHEN b.ksel = 6 THEN 'schost' || b.u5 ELSE NULL END AS host_hostname,
  CASE WHEN b.ksel = 1 THEN 'nessus is ready'
    WHEN b.ksel = 2 THEN 'finished scan 10 hosts up'
    WHEN b.ksel = 3 THEN 'nessus scan starting with targets: 10.1.2.0,10.1.2.255'
    ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 1 THEN 'nessus service started back up and running'
    WHEN b.ksel = 2 THEN 'finished scanning a scan chunk'
    WHEN b.ksel = 3 THEN 'scan started'
    WHEN b.ksel = 6 THEN 'nightlycleanup' ELSE NULL END AS event_action,
  CASE WHEN b.ksel IN (1,2,3) THEN epoch_ms(date_trunc('second', t.ts)) ELSE NULL END AS event_start_ms,
  CASE WHEN b.ksel = 6 THEN CAST(1602523441000 AS BIGINT)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE WHEN b.ksel = 2 THEN '10.9.8.7' ELSE NULL END AS destination_address,
  CASE WHEN b.ksel = 2 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel = 2 THEN CAST(900 AS BIGINT) ELSE NULL END AS process_pid,
  CASE WHEN b.ksel IN (2,3) THEN 'sc' || b.eid_s
    WHEN b.ksel = 0 THEN ' ' || b.eid_s ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 2 THEN '35000000000' ELSE NULL END AS event_duration,
  CASE WHEN b.ksel = 0 THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 6 THEN 'securitycenter' ELSE NULL END AS observer_product,
  CASE WHEN b.ksel = 6 THEN 'message' ELSE NULL END AS error_id,
  CASE WHEN b.ksel = 6 THEN 'critical' ELSE NULL END AS error_code,
  CASE WHEN b.ksel = 6 THEN '0' ELSE NULL END AS error_type,
  CASE WHEN b.ksel = 6 THEN 'cleanup done ok' ELSE NULL END AS event_outcome,
  CASE WHEN b.ksel = 0 THEN NULL ELSE CAST(16 + (b.event_id % 8) AS BIGINT) END AS log_syslog_facility_code,
  CASE WHEN b.ksel = 0 THEN NULL ELSE CAST(b.event_id % 5 AS BIGINT) END AS log_syslog_severity_code,
  CASE WHEN b.ksel = 0 THEN 'logs-snmp.forescout_' || strftime(t.ts, '%Y.%m.%d')
    WHEN b.ksel <= 5 THEN 'logs-tenable.nessus_scanner_' || strftime(t.ts, '%Y.%m.%d')
    ELSE 'logs-tenable.security_center_' || strftime(t.ts, '%Y.%m.%d') END AS route_index
FROM tb_turns t JOIN tb_base b USING (event_id)
WHERE b.ksel <> 5""",

    // ksel 0/2 fan out to two CVE events (sub_idx 0/1); asm's array-valued
    // rule.name / ports / scores flatten to NULL (scalar columns); sc's
    // transport+port backfills https via the 443/tcp protocol dict
    "qtv01_tenable_vuln" ->
      s"""WITH ${Transcripts.tvCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, s.sub_idx AS sub_idx,
  1 AS parse_ok_i,
  CASE WHEN b.ksel <= 1 THEN 'tenable.sc_api' ELSE 'tenable.asm_api' END AS technology,
  'tenable' AS event_module,
  CASE WHEN b.ksel <= 1 THEN 'tenable.sc_api' ELSE 'tenable.asm_api' END AS event_dataset,
  CASE b.ksel WHEN 0 THEN CAST(3 AS BIGINT) WHEN 1 THEN CAST(1 AS BIGINT)
    ELSE NULL END AS event_severity,
  CASE b.ksel WHEN 0 THEN 'high' WHEN 1 THEN 'low' ELSE NULL END AS event_severity_name,
  CASE b.ksel WHEN 0 THEN '10.4.4.9' WHEN 1 THEN '10.4.4.8'
    WHEN 2 THEN '10.6.6.9' ELSE NULL END AS host_ip,
  CASE WHEN b.ksel <= 1 THEN 'u' || b.eid_s ELSE 'a' || b.eid_s END AS event_id_s,
  CASE WHEN b.ksel = 0 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel = 0 THEN 'tcp' ELSE NULL END AS network_transport,
  CASE WHEN b.ksel = 0 THEN 'https' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel = 0 THEN CAST(1602523441000 AS BIGINT) ELSE NULL END AS event_start_ms,
  CASE WHEN b.ksel = 0 THEN CAST(1602523501000 AS BIGINT) ELSE NULL END AS event_end_ms,
  CASE WHEN b.ksel = 0 THEN '00:aa:bb:cc:dd:33' ELSE NULL END AS host_mac,
  CASE b.ksel WHEN 0 THEN 'ssl check' WHEN 1 THEN 'banner check'
    WHEN 2 THEN 'as-bigcloud' ELSE NULL END AS service_name,
  CASE WHEN b.ksel = 0 THEN '1.2' ELSE NULL END AS service_version,
  CASE WHEN b.ksel = 0 THEN 'weak tls config' ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 0 THEN CAST(9 AS BIGINT) ELSE NULL END AS vulnerability_score_base,
  CASE WHEN b.ksel = 0 THEN CAST(9 AS BIGINT) ELSE NULL END AS event_risk_score,
  CASE WHEN b.ksel = 0 THEN CAST(8 AS BIGINT) ELSE NULL END AS event_risk_score_norm,
  CASE WHEN b.ksel = 0 THEN 'upgrade tls' ELSE NULL END AS event_recommendation,
  CASE WHEN b.ksel = 0 THEN 'metasploit' ELSE NULL END AS threat_framework,
  CASE WHEN b.ksel = 0 THEN 'exploits are available' ELSE NULL END AS threat_list_attribute_tag,
  CASE WHEN b.ksel = 0 THEN 'very low' ELSE NULL END AS threat_list_severity_name,
  CASE WHEN b.ksel = 0 THEN 'high' ELSE NULL END AS threat_list_comment,
  CASE b.ksel WHEN 0 THEN 'host' || b.u5 WHEN 1 THEN 'web' || b.u5
    ELSE 'asset' || b.u5 END AS host_hostname,
  CASE b.ksel WHEN 0 THEN 'corp' WHEN 1 THEN 'corp.example.com'
    ELSE 'corp.net' END AS host_domain,
  CASE WHEN b.ksel >= 2 THEN 'asset' || b.u5 || '.corp.net' ELSE NULL END AS host_name,
  CASE WHEN b.ksel = 2 THEN '2020-05-01' ELSE NULL END AS cloud_account_id,
  CASE WHEN b.ksel = 2 THEN 'admin@corp.net' ELSE NULL END AS destination_user_email,
  CASE WHEN b.ksel = 2 THEN 'jane doe' ELSE NULL END AS destination_user_name,
  CASE WHEN b.ksel = 2 THEN 'registrar inc' ELSE NULL END AS observer_name,
  CASE b.ksel WHEN 2 THEN 'active' WHEN 3 THEN 'expired' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 2 THEN 'aws' WHEN 3 THEN 'gcp' ELSE NULL END AS cloud_provider,
  CASE WHEN b.ksel = 2 THEN 'utc' ELSE NULL END AS cloud_region,
  CAST(NULL AS STRING) AS rule_name,
  CASE WHEN b.ksel <= 1 THEN 'tenable_sc_api'
    ELSE 'asset' || b.u5 || '.corp.net' END AS log_source_hostname,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.ksel <= 1 THEN 'logs-tenable.sc_api_' || strftime(t.ts, '%Y.%m.%d')
    ELSE 'logs-tenable.asm_api_' || strftime(t.ts, '%Y.%m.%d') END AS route_index
FROM tv_turns t
JOIN tv_base b USING (event_id)
JOIN (SELECT 0 AS sub_idx UNION ALL SELECT 1) s
  ON (b.ksel IN (0,2)) OR s.sub_idx = 0""",

    // ksel 1 is the ', , 200' drop (absent); ksel 5/6 are the rest_msg
    // branches (always _dissectfailure → parse_ok 0, no fields); RULE 1's
    // Date: header never parses (created falls to the e03 default)
    "ql701_layer7" ->
      s"""WITH ${Transcripts.l7Cte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel IN (5,6) THEN 0 ELSE 1 END AS parse_ok_i,
  'layer7.securespan.soa.gw' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 1' WHEN 2 THEN 'rule 3' WHEN 3 THEN 'rule 4'
    WHEN 4 THEN 'rule 6' WHEN 5 THEN 'rule 7,rule 7 (b)'
    ELSE 'rule 12,rule 13' END AS parse_rule,
  'layer7_soa_gw' AS event_module, 'layer7_soa_gw.traffic' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'info' WHEN 2 THEN 'info' WHEN 3 THEN 'info'
    WHEN 4 THEN 'warning' ELSE NULL END AS event_severity_name,
  CASE b.ksel WHEN 0 THEN 'ops information' WHEN 2 THEN 'ops information'
    WHEN 3 THEN 'ops information' WHEN 4 THEN 'ops warning'
    ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 0 THEN 'audit: detail: rec' || b.eid_s
    WHEN 2 THEN 'message processed successfully'
    WHEN 3 THEN '#####client ssl protocol - tlsv1.2' ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 0 THEN 'keep-alive' ELSE NULL END AS rule_ruleset,
  CASE WHEN b.ksel = 0 THEN CAST(5120 AS BIGINT) ELSE NULL END AS file_size,
  CASE WHEN b.ksel = 0 THEN 'application/xml' ELSE NULL END AS file_extension,
  CASE b.ksel WHEN 0 THEN 'ok' WHEN 4 THEN 'blocked' ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 0 THEN 'servlet v3' ELSE NULL END AS process_name,
  CASE WHEN b.ksel = 3 THEN 'tls' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel = 4 THEN b.sip
    WHEN b.ksel IN (5,6) THEN NULL ELSE 'ssg-gw' || b.u5 END AS source_address,
  CASE WHEN b.ksel = 4 THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (0,2,3,4) THEN epoch_ms(date_trunc('second', t.ts)) ELSE NULL END AS event_start_ms,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(1 AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.ksel = 6 THEN CAST(4 AS BIGINT) ELSE CAST(6 AS BIGINT) END AS log_syslog_severity_code,
  'logs-layer7.securespan.soa.gw_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM l7_turns t JOIN l7_base b USING (event_id)
WHERE b.ksel <> 1""",

    // dataset keeps the reference's space ('microsoft ata'); ksel 2 is the
    // no-pipes failure path; host.name copies BEFORE the host split, so it
    // keeps the FQDN while hostname/domain split
    "qma01_ata" ->
      s"""WITH ${Transcripts.mataCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel = 2 THEN 0 ELSE 1 END AS parse_ok_i,
  'microsoft.ata' AS technology, 'no rules' AS parse_rule,
  'microsoft' AS event_module, 'microsoft ata' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'suspicious service creation'
    WHEN 1 THEN 'identity theft using pass-the-hash attack' ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 0 THEN 'suspicious service creation detected'
    WHEN 1 THEN 'pass-the-hash detected on host' ELSE NULL END AS rule_description,
  CASE b.ksel WHEN 0 THEN 'kerberos' WHEN 1 THEN 'ntlm' ELSE NULL END AS rule_ruleset,
  CASE b.ksel WHEN 0 THEN 'security/suspicious'
    WHEN 1 THEN 'security/attack' ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 0 THEN '2026' WHEN 1 THEN '2017' ELSE NULL END AS event_id_s,
  CASE b.ksel WHEN 0 THEN 'success' WHEN 1 THEN 'failure' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 0 THEN 'dc' || b.u5 WHEN 1 THEN 'ws' || b.u5
    ELSE NULL END AS source_address,
  CASE b.ksel WHEN 0 THEN 'bob' || b.u5 WHEN 1 THEN 'carol' || b.u5
    ELSE NULL END AS source_user_id,
  CASE WHEN b.ksel = 0 THEN 'dc' || b.u5 ELSE NULL END AS host_hostname,
  CASE WHEN b.ksel = 0 THEN 'corp.net' ELSE NULL END AS host_domain,
  CASE WHEN b.ksel = 0 THEN 'dc' || b.u5 || '.corp.net' ELSE NULL END AS host_name,
  CASE b.ksel WHEN 0 THEN CAST(900 AS BIGINT) WHEN 1 THEN CAST(901 AS BIGINT)
    ELSE NULL END AS process_pid,
  CASE WHEN b.ksel IN (0,1) THEN CAST(1602523441000 AS BIGINT) ELSE NULL END AS event_start_ms,
  CASE WHEN b.ksel IN (0,1) THEN CAST(1602523441000 AS BIGINT)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-microsoft.ata_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM mata_turns t JOIN mata_base b USING (event_id)""",

    // ksel 4's created is the fixed day-286 clock (1602523441123); the
    // auth-failure rows route via RULE 12/RULE 4 because the severity_name
    // gates are dead in the reference
    "qnp01_spectracom" ->
      s"""WITH ${Transcripts.ntpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'spectracom.ntp' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 1' WHEN 1 THEN 'rule 2' WHEN 2 THEN 'rule 12'
    WHEN 3 THEN 'rule 4' WHEN 4 THEN 'rule 5' WHEN 5 THEN 'rule 10'
    WHEN 6 THEN 'rule 11' ELSE 'rule 12' END AS parse_rule,
  'spectracom' AS event_module, 'spectracom.ntp' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'useradd' WHEN 1 THEN 'userdel' WHEN 2 THEN 'sshd'
    WHEN 3 THEN 'sshd' WHEN 5 THEN 'sshd' WHEN 7 THEN 'ntpd'
    ELSE NULL END AS process_name,
  CASE b.ksel WHEN 0 THEN CAST(900 AS BIGINT) WHEN 1 THEN CAST(905 AS BIGINT)
    WHEN 2 THEN CAST(901 AS BIGINT) WHEN 3 THEN CAST(902 AS BIGINT)
    WHEN 5 THEN CAST(903 AS BIGINT) WHEN 7 THEN CAST(904 AS BIGINT)
    ELSE NULL END AS process_pid,
  CASE b.ksel WHEN 0 THEN 'svc' || b.u5 WHEN 1 THEN 'old' || b.u5
    ELSE NULL END AS user_id,
  CASE WHEN b.ksel IN (0,1) THEN 'ntpgrp' ELSE NULL END AS group_name,
  CASE b.ksel WHEN 2 THEN 'bob' || b.u5 WHEN 3 THEN 'carol' || b.u5
    ELSE NULL END AS user_name,
  CASE b.ksel WHEN 2 THEN 'authentication failure'
    WHEN 3 THEN 'authentication failure'
    WHEN 4 THEN 'oscillator disciplined state ' || b.eid_s
    WHEN 5 THEN 'did not receive identification string'
    WHEN 6 THEN 'gps 0 antenna fault ' || b.eid_s
    WHEN 7 THEN 'clock step 0.031s seq ' || b.eid_s ELSE NULL END AS rule_description,
  CASE WHEN b.ksel IN (2,3,5) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 5 THEN CAST(50200 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (4,6) THEN 'tfs-ntp' || b.u5 ELSE NULL END AS source_address,
  CASE WHEN b.ksel = 2 THEN 'sshd:auth' ELSE NULL END AS event_type,
  CASE WHEN b.ksel = 2 THEN '0' ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 4 THEN CAST(1602523441123 AS BIGINT)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-spectracom.ntp_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM ntp_turns t JOIN ntp_base b USING (event_id)""",

    // ksel 0's severity is the payload override (major → error/3); other
    // rows keep the pri-derived severity
    "qvo01_sdwanos" ->
      s"""WITH ${Transcripts.vosCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'sdwan.os_ubuntu' AS technology, 'not parsed' AS parse_rule,
  'versa' AS event_module, 'versa_sdwan.os_ubuntu' AS event_dataset,
  CASE WHEN b.ksel = 0 THEN 'versa.alarmman' ELSE NULL END AS event_provider,
  CASE WHEN b.ksel IN (0,1) THEN 'vos-host' || b.u5 ELSE NULL END AS observer_hostname,
  CASE WHEN b.ksel = 0 THEN 'vos-host' || b.u5 ELSE NULL END AS host_hostname,
  CASE WHEN b.ksel = 0 THEN 'device unreachable ' || b.eid_s ELSE NULL END AS error_message,
  CASE WHEN b.ksel = 0 THEN 'connection-failure' ELSE NULL END AS error_type,
  CASE WHEN b.ksel = 1 THEN 'connection closed' ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 1 THEN b.sip ELSE NULL END AS source_ip,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.ksel = 0 THEN CAST(3 AS BIGINT)
    ELSE CAST(b.event_id % 5 AS BIGINT) END AS log_syslog_severity_code,
  CASE WHEN b.ksel = 0 THEN 'error'
    ELSE CASE (b.event_id % 5) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
      WHEN 2 THEN 'critical' WHEN 3 THEN 'error' ELSE 'warning' END
    END AS log_syslog_severity_name,
  'logs-sdwan.os_ubuntu_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM vos_turns t JOIN vos_base b USING (event_id)""",

    // ksel 0 is the literal 'a10' health-check drop (absent); ksel 1's
    // created is the fixed CEF rt epoch; ksel 2 proves the 443 protocol
    // backfill on the resets path
    "qaw01_a10waf" ->
      s"""WITH ${Transcripts.awCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'a10.waf' AS technology,
  CASE b.ksel WHEN 1 THEN 'rule 1' WHEN 2 THEN 'rule 2' WHEN 3 THEN 'rule 3(a)'
    WHEN 4 THEN 'rule 3(b)' ELSE 'no rule match' END AS parse_rule,
  'a10' AS event_module, 'a10.waf' AS event_dataset,
  CASE WHEN b.ksel = 1 THEN 'cef' ELSE NULL END AS process_name,
  CASE WHEN b.ksel = 1 THEN CAST(5 AS BIGINT) ELSE NULL END AS event_severity,
  CASE WHEN b.ksel = 1 THEN CAST(1609946093000 AS BIGINT)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE WHEN b.ksel IN (1,2) THEN b.sip
    WHEN b.ksel = 4 THEN '10.6.1.' || b.u5 ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 1 THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (1,2) THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel IN (1,2) THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel = 1 THEN 'web' || b.u5 ELSE NULL END AS host_ip,
  CASE WHEN b.ksel = 1 THEN 'sqli rule' ELSE NULL END AS rule_name,
  CASE WHEN b.ksel = 1 THEN 'ev' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.ksel WHEN 1 THEN 'deny' WHEN 2 THEN 'resets connection'
    ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 1 THEN 'waf set' ELSE NULL END AS rule_ruleset,
  CASE WHEN b.ksel IN (1,2) THEN 'https' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel = 2 THEN 'tcp' ELSE NULL END AS network_transport,
  CASE WHEN b.ksel = 1 THEN 'get' ELSE NULL END AS http_request_method,
  CASE b.ksel WHEN 1 THEN '/login'
    WHEN 4 THEN '/groupexpansion/service.svc' ELSE NULL END AS url_path,
  CASE WHEN b.ksel = 1 THEN 'blocked sql injection' ELSE NULL END AS rule_description,
  CASE WHEN b.ksel IN (3,4) THEN 'persist-xff' ELSE NULL END AS event_type,
  CASE b.ksel WHEN 3 THEN 'uri=/'
    WHEN 4 THEN 'oc/16.0 (skype for business)' ELSE NULL END AS user_agent_original,
  CASE WHEN b.ksel = 3 THEN '10.4.1.' || b.u5 ELSE NULL END AS client_ip,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-a10.waf_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM aw_turns t JOIN aw_base b USING (event_id)
WHERE b.ksel <> 0""",

    // facility/severity codes are NULL on every row (the conf removes the
    // nested pri decode); rule_description/recommendation are NULL (the
    // lowercased mnemonic always misses the upper-case dictionary)
    "qcr01_ciscorouter" ->
      s"""WITH ${Transcripts.crCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'cisco.router' AS technology, 'not parsed' AS parse_rule,
  'cisco' AS event_module, 'cisco.router' AS event_dataset,
  b.seq_s AS event_id_s,
  CASE b.ksel WHEN 0 THEN CAST(6 AS BIGINT) WHEN 1 THEN CAST(4 AS BIGINT)
    ELSE CAST(5 AS BIGINT) END AS event_severity,
  CASE b.ksel WHEN 0 THEN 'ip security' WHEN 1 THEN 'not_found_facility'
    ELSE 'operating system' END AS event_category,
  CASE WHEN b.ksel = 0 THEN 'acl_in' || b.u5 ELSE NULL END AS rule_name,
  CASE WHEN b.ksel = 0 THEN 'permit' ELSE NULL END AS event_action,
  CASE WHEN b.ksel = 0 THEN 'tcp' ELSE NULL END AS network_transport,
  CASE WHEN b.ksel = 0 THEN 'https' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel IN (0,1) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 0 THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel = 0 THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel = 0 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel = 0 THEN CAST(5 AS BIGINT) ELSE NULL END AS network_packets,
  CASE b.ksel WHEN 1 THEN 'mac flap for host'
    WHEN 2 THEN 'reload requested by console ' || b.eid_s ELSE NULL END AS error_message,
  epoch_ms(date_trunc('second', t.ts)) + 123 AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_ingested_ms,
  CAST(NULL AS STRING) AS rule_description,
  CAST(NULL AS STRING) AS event_recommendation,
  CAST(NULL AS BIGINT) AS log_syslog_facility_code,
  CAST(NULL AS BIGINT) AS log_syslog_severity_code,
  'logs-cisco.router_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM cr_turns t JOIN cr_base b USING (event_id)""",

    "qca01_ciscoapic" ->
      s"""WITH ${Transcripts.caCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'cisco.apic' AS technology,
  CASE b.ksel WHEN 0 THEN 'syslog header,rule 1' WHEN 1 THEN 'syslog header,rule 2'
    WHEN 2 THEN 'syslog header,rule 3' ELSE 'syslog header,other' END AS parse_rule,
  'cisco' AS event_module, 'cisco.apic' AS event_dataset,
  CASE WHEN b.ksel = 0 THEN 'sshd(pam_unix)' ELSE NULL END AS service_type,
  CASE WHEN b.ksel = 0 THEN 'authentication failure' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 0 THEN 'admin' || b.u5 WHEN 2 THEN 'admin' || b.u5
    ELSE NULL END AS user_name,
  CASE WHEN b.ksel = 0 THEN '0' ELSE NULL END AS user_id,
  b.sip AS source_ip,
  CASE WHEN b.ksel IN (1,3) THEN CAST(50123 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (1,3) THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel IN (1,3) THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel IN (1,3) THEN 'https' ELSE NULL END AS network_protocol,
  CASE b.ksel WHEN 1 THEN 'tcp packet flags are incorrect seq ' || b.eid_s
    WHEN 2 THEN 'client-type-ssh-failure-bad-password'
    WHEN 3 THEN 'keepalive state ok ' || b.eid_s ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 2 THEN 'sess' || b.eid_s ELSE NULL END AS event_id_s,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-cisco.apic_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM ca_turns t JOIN ca_base b USING (event_id)""",

    "qsw02_stealthwatch" ->
      s"""WITH ${Transcripts.swtCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'cisco.stealthwatch' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 1' WHEN 1 THEN 'rule 2' WHEN 2 THEN 'rule 3'
    ELSE 'rule 1' END AS parse_rule,
  'cisco' AS event_module, 'cisco.stealthwatch' AS event_dataset,
  CASE WHEN b.ksel = 2 THEN 'probe' || b.u5 ELSE 'sw-mgr' || b.u5 END AS source_address,
  'swd' AS process_name, CAST(700 AS BIGINT) AS process_pid,
  CASE b.ksel WHEN 0 THEN CAST(50123 AS BIGINT) WHEN 1 THEN CAST(50124 AS BIGINT)
    WHEN 3 THEN CAST(50125 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (0,1,3) THEN CAST(1602523441000 AS BIGINT) ELSE NULL END AS event_start_ms,
  CASE b.ksel WHEN 0 THEN 'bob' || b.u5 WHEN 3 THEN 'carol' || b.u5
    ELSE NULL END AS user_name,
  CASE WHEN b.ksel IN (1,2,3) THEN '10.9.8.7' ELSE NULL END AS destination_ip,
  CASE b.ksel WHEN 0 THEN 'localhost' WHEN 2 THEN 'dsthost' || b.u5
    ELSE NULL END AS destination_address,
  CASE b.ksel WHEN 0 THEN 'permitted' WHEN 1 THEN 'denied'
    WHEN 3 THEN 'permitted' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 1 THEN 'block policy' || b.u5
    WHEN 2 THEN 'high traffic' ELSE NULL END AS rule_name,
  CASE WHEN b.ksel = 2 THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 2 THEN '3600' ELSE NULL END AS event_duration,
  CASE WHEN b.ksel = 2 THEN 'active flow anomaly' ELSE NULL END AS rule_description,
  CASE WHEN b.ksel = 2 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.ksel = 2 THEN 'https' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel = 2 THEN 'al' || b.eid_s ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 2 THEN 'major' ELSE NULL END AS event_severity_name,
  CASE WHEN b.ksel = 2 THEN 'audit/information' ELSE NULL END AS rule_category,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-cisco.stealthwatch_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM swt_turns t JOIN swt_base b USING (event_id)""",

    // ksel 0 is the repeated-message drop (absent); RULE 6's stat= value
    // overwrites the sendmail action; and the conf's own `remove_field
    // ["source"]` (aimed at the %{source} scalar capture) deletes the
    // ENTIRE [source] tree — every source.* capture is NULL on every row,
    // the selected source_* columns prove the erasure
    "qac01_accellion" ->
      s"""WITH ${Transcripts.acCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'accellion.sft' AS technology,
  CASE b.ksel WHEN 1 THEN 'rule 1' WHEN 2 THEN 'rule 3' WHEN 3 THEN 'rule 6'
    WHEN 4 THEN 'rule 8' ELSE 'rule 7' END AS parse_rule,
  'accellion' AS event_module, 'accellion.sft' AS event_dataset,
  CASE WHEN b.ksel = 1 THEN 'httpd' ELSE NULL END AS process_name,
  CAST(NULL AS BIGINT) AS source_port,
  CAST(NULL AS STRING) AS source_ip,
  CAST(NULL AS STRING) AS source_user_email,
  CASE b.ksel WHEN 1 THEN 'login success' WHEN 2 THEN 'download'
    WHEN 3 THEN 'sent' ELSE 'sendmail' END AS event_action,
  CASE WHEN b.ksel = 3 THEN 'dave' || b.u5 || '@ext.com' ELSE NULL END AS destination_user_email,
  CASE WHEN b.ksel IN (3,5) THEN 'mx.ext.com' ELSE NULL END AS observer_hostname,
  CASE WHEN b.ksel = 4 THEN '[10.7.7.7]' ELSE NULL END AS observer_ip,
  CASE WHEN b.ksel = 3 THEN '77' || b.eid_s ELSE NULL END AS event_id_s,
  CASE WHEN b.ksel = 3 THEN ' message accepted' ELSE NULL END AS rule_description,
  CAST(NULL AS BIGINT) AS source_bytes,
  CASE WHEN b.ksel = 5 THEN CAST(256 AS BIGINT) ELSE NULL END AS destination_bytes,
  CAST(NULL AS STRING) AS source_name,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-accellion.sft_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM ac_turns t JOIN ac_base b USING (event_id)
WHERE b.ksel <> 0""",

    // parse_rule is NEVER set by the conf (every row 'not parsed');
    // heartbeat rows fail the downstream dissect/grok (parse_ok 0) but keep
    // the 'hearbeat' category (the reference's drop{} is commented out);
    // k2's alarm collector overrides [rule][ruleset] with an ARRAY (flattens
    // NULL via the string getter); k3's hostname src lands on the [source]
    // [adress] typo (unobservable) and its hostname erp_host is migrated
    // ip->address by enrichment 02 then lowercased; k5's mega-grok captures
    // are TOP-LEVEL underscore fields - no ECS column sees them
    "qon01_onapsis" ->
      s"""WITH ${Transcripts.onpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel IN (0, 1) THEN 0 ELSE 1 END AS parse_ok_i,
  'sap.onapsis' AS technology, 'not parsed' AS parse_rule,
  'sap' AS event_module, 'sap.onapsis' AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'hearbeat' WHEN 1 THEN 'hearbeat'
    WHEN 2 THEN 'audit/access success' WHEN 3 THEN 'audit/other'
    WHEN 4 THEN 'others' ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 2 THEN 'userlogin' WHEN 3 THEN 'systemchangeglobalsettingupdate'
    WHEN 4 THEN 'passwordchange' ELSE NULL END AS event_type,
  CASE b.ksel WHEN 2 THEN 'https' WHEN 3 THEN 'rfc'
    WHEN 4 THEN 'sapgui' ELSE NULL END AS network_protocol,
  CASE WHEN b.ksel IN (2, 3, 4) THEN 'sapu' || b.u5 ELSE NULL END AS user_name,
  CASE WHEN b.ksel IN (2, 4) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel IN (2, 4) THEN b.dip ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel = 3 THEN 'erp' || b.eid_s ELSE NULL END AS destination_address,
  CASE WHEN b.ksel = 3 THEN 'corp.example' ELSE NULL END AS destination_domain,
  CASE b.ksel WHEN 3 THEN 'false' WHEN 4 THEN 'true' ELSE NULL END AS rule_ruleset,
  CASE b.ksel WHEN 2 THEN 'brute force attempt' WHEN 3 THEN 'global setting changed'
    WHEN 4 THEN 'password changed' ELSE NULL END AS rule_description,
  CASE b.ksel WHEN 2 THEN 'inc' || b.eid_s WHEN 3 THEN 'cfg' || b.eid_s
    WHEN 4 THEN 'aud' || b.eid_s ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 2 THEN 'attack' WHEN 3 THEN 'config change'
    WHEN 4 THEN 'audit' ELSE NULL END AS process_name,
  CASE WHEN b.ksel IN (2, 3, 4) THEN 'Detail ' || b.eid_s ELSE NULL END AS event_original,
  CASE b.ksel WHEN 2 THEN 'Dialog' WHEN 3 THEN 'Batch'
    WHEN 4 THEN 'Dialog' ELSE NULL END AS user_agent_original,
  CASE WHEN b.ksel IN (2, 3, 4) THEN 'admin' || b.u5 ELSE NULL END AS destination_user_name,
  CASE WHEN b.ksel IN (2, 3, 4) THEN 'ev' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.ksel WHEN 2 THEN CAST(5 AS BIGINT) WHEN 3 THEN CAST(3 AS BIGINT)
    WHEN 4 THEN CAST(7 AS BIGINT) ELSE NULL END AS event_severity,
  CASE b.ksel WHEN 2 THEN CAST(51234 AS BIGINT) WHEN 3 THEN CAST(8443 AS BIGINT)
    WHEN 4 THEN CAST(50000 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.ksel IN (2, 4) THEN epoch_ms(date_trunc('second', t.ts))
    WHEN b.ksel = 3 THEN epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-sap.onapsis_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM onp_turns t JOIN onp_base b USING (event_id)""",

    // module/dataset NEVER set by this conf (both NULL); parse_rule only on
    // the no-ip row; MONITOR_NAME/RULES renames OVERWRITE the dissect's CEF
    // captures (k3 has no RULES -> the CEF capture survives); the FNAME
    // guard compares against the literal N\/A so a real 'N/A' renames
    // anyway (k1) — but enrichment 94's invalid-value scrub then deletes
    // the 'n/a' leaf, so k1's file_name still flattens NULL; the literal
    // payload suppresses both arms (k3);
    // rule_reference is copied from url BEFORE the e07 lowercase and is not
    // on the 681-path list -> keeps original case; host_split cuts the FQDN
    // hostname/destination.address while the earlier host.name copy keeps it
    "qsd01_dlp" ->
      s"""WITH ${Transcripts.sdlCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'symantec.dlp' AS technology,
  CASE WHEN b.ksel = 1 THEN 'rule 1(no ip)' ELSE 'not parsed' END AS parse_rule,
  CAST(NULL AS STRING) AS event_module, CAST(NULL AS STRING) AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'endpoint prevent' WHEN 1 THEN 'network email'
    WHEN 2 THEN 'cloud gateway' ELSE 'endpoint discover' END AS rule_ruleset,
  CASE b.ksel WHEN 0 THEN 'credit card rule' WHEN 1 THEN 'keyword match'
    WHEN 2 THEN 'code fingerprint' ELSE 'cefrule' || b.u5 END AS rule_name,
  CASE b.ksel WHEN 0 THEN 'pci policy' WHEN 1 THEN 'confidential policy'
    WHEN 2 THEN 'source code policy' ELSE NULL END AS rule_description,
  CASE b.ksel WHEN 0 THEN 'high' WHEN 1 THEN 'medium'
    WHEN 2 THEN 'low' ELSE 'info' END AS event_severity_name,
  CASE b.ksel WHEN 0 THEN 'blocked' WHEN 2 THEN 'allowed' ELSE NULL END AS event_action,
  CASE b.ksel WHEN 0 THEN 'https' WHEN 2 THEN 'ftp' ELSE NULL END AS network_protocol,
  CASE b.ksel WHEN 0 THEN '7' WHEN 1 THEN '8' WHEN 2 THEN '9' ELSE '6' END
    || b.eid_s AS event_id_s,
  CASE b.ksel WHEN 0 THEN 'secret_' || b.eid_s || '.xlsx'
    WHEN 2 THEN 'report-' || b.eid_s || '.pdf' ELSE NULL END AS file_name,
  CASE WHEN b.ksel = 0 THEN 'c:/users/u' || b.u5 || '/documents' ELSE NULL END AS file_path,
  CASE WHEN b.ksel = 3 THEN '/mnt/usb/out.dat' ELSE NULL END AS file_target_path,
  CASE WHEN b.ksel = 2 THEN 'https://files.corp.example/share/' || b.eid_s
    ELSE NULL END AS url_full,
  CASE WHEN b.ksel = 2 THEN 'https://Files.Corp.Example/share/' || b.eid_s
    ELSE NULL END AS rule_reference,
  CASE WHEN b.ksel = 1 THEN 'quarterly report ' || b.eid_s ELSE NULL END AS email_subject,
  CASE WHEN b.ksel = 1 THEN 'u' || b.u5 || '@corp.example' ELSE NULL END AS source_user_email,
  CASE WHEN b.ksel = 1 THEN 'r' || b.u5 || '@partner.example' ELSE NULL END AS destination_user_email,
  CASE WHEN b.ksel = 2 THEN 'owner' || b.u5 || '@corp.example' ELSE NULL END AS user_email,
  CASE WHEN b.ksel = 2 THEN 'svc' || b.u5 ELSE NULL END AS source_user_name,
  CASE WHEN b.ksel IN (0, 3) THEN 'user' || b.u5 ELSE NULL END AS user_name,
  CASE WHEN b.ksel IN (0, 2) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel = 2 THEN 'share' || b.eid_s ELSE NULL END AS destination_address,
  CASE WHEN b.ksel = 2 THEN 'corp.example' ELSE NULL END AS destination_domain,
  CASE WHEN b.ksel IN (0, 3) THEN 'wks' || b.eid_s ELSE NULL END AS host_hostname,
  CASE WHEN b.ksel = 0 THEN 'corp.example' ELSE NULL END AS host_domain,
  CASE b.ksel WHEN 0 THEN 'wks' || b.eid_s || '.corp.example'
    WHEN 3 THEN 'wks' || b.eid_s ELSE NULL END AS host_name,
  CASE WHEN b.ksel = 2 THEN 'dev-' || b.eid_s ELSE NULL END AS host_id,
  'dlp-mgr' || CAST(b.user_id % 3 AS STRING) AS observer_hostname,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-symantec.dlp_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM sdl_turns t JOIN sdl_base b USING (event_id)""",

    // event_category / event_type / observer_hostname are NULL on every row
    // (three dead limbs in the conf — see CiscoAciRules scaladoc); syslog
    // codes are pri-derived (e04 clobbers the message-text renames); the
    // grok-failure row (k3) KEEPS its sprintf literals: e94's scrub regex
    // ^%{[a-z-_.]+}$ (94_remove_empty_n_truncate.conf:87) rejects brackets,
    // so bracketed refs survive to the output (its [event][severity] literal
    // still dies to the e02 long coercion)
    "qaci01_aci" ->
      s"""WITH ${Transcripts.aciCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.ksel = 3 THEN 0 ELSE 1 END AS parse_ok_i,
  'cisco.aci' AS technology, 'not parsed' AS parse_rule,
  'cisco' AS event_module, 'cisco.aci' AS event_dataset,
  CASE WHEN b.ksel IN (1, 3) THEN 'event' ELSE 'alert' END AS event_kind,
  CASE b.ksel WHEN 0 THEN 'raised' WHEN 2 THEN 'cleared'
    WHEN 4 THEN 'soakingclearing' ELSE NULL END AS event_action,
  CAST(NULL AS STRING) AS event_category, CAST(NULL AS STRING) AS event_type,
  CASE b.ksel WHEN 0 THEN 'f0103' WHEN 1 THEN 'e4204936' WHEN 2 THEN 'f9999'
    WHEN 4 THEN 'f110331' ELSE NULL END AS error_code,
  CASE b.ksel
    WHEN 0 THEN 'fan speed below threshold on node ' || b.eid_s
    WHEN 1 THEN 'config change committed by admin' || b.u5
    WHEN 2 THEN 'psu restored ' || b.eid_s
    WHEN 4 THEN lower(b.syslogts) || ' %log_auth-3-system_msg: login failed for user admin' || b.u5
    ELSE NULL END AS error_message,
  CASE b.ksel WHEN 0 THEN 'environmental' WHEN 1 THEN 'config'
    WHEN 2 THEN 'not_found_alert_type' WHEN 4 THEN 'not_found_alert_type'
    ELSE '%{[[tmp][error_translation][type]]}' END AS error_type,
  CASE b.ksel WHEN 0 THEN 'fan tray fault has been raised'
    WHEN 1 THEN 'controller configuration was modified'
    WHEN 2 THEN 'fltpsu' WHEN 4 THEN 'fltethpm'
    ELSE '%{[[tmp][error_translation][explanation]]}' END AS event_reason,
  CASE b.ksel WHEN 0 THEN 'reseat or replace the fan tray'
    WHEN 1 THEN 'review the audit log entry'
    WHEN 2 THEN 'not_found_recommendation' WHEN 4 THEN 'not_found_recommendation'
    ELSE '%{[[tmp][error_translation][remediation]]}' END AS event_recommendation,
  CASE b.ksel WHEN 0 THEN CAST(3 AS BIGINT) WHEN 1 THEN CAST(5 AS BIGINT)
    WHEN 2 THEN CAST(b.event_id % 7 AS BIGINT)
    WHEN 4 THEN CAST(b.event_id % 7 AS BIGINT) ELSE NULL END AS event_severity,
  CASE b.ksel WHEN 0 THEN 'major' WHEN 1 THEN 'info' WHEN 2 THEN 'minor'
    WHEN 4 THEN 'warning' ELSE NULL END AS log_level,
  CASE WHEN b.ksel = 3 THEN NULL ELSE 'aci-leaf' || b.nodeid END AS host_hostname,
  CASE WHEN b.ksel = 3 THEN '%{[[host][hostname]]}' ELSE 'aci-leaf' END AS network_name,
  CASE WHEN b.ksel = 3 THEN '%{[[host][hostname]]}' ELSE 'leaf' || b.nodeid END AS service_type,
  CAST(NULL AS STRING) AS observer_hostname,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  'local' || CAST(b.event_id % 8 AS STRING) AS log_syslog_facility_name,
  epoch_ms(t.ts) AS event_created_ms,
  'logs-cisco.aci_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM aci_turns t JOIN aci_base b USING (event_id)""",

    // RULE 1 rows stack 'rule 1,rule 1(b),rule N' (the 1(a) arm guards on a
    // field nothing sets — dead); event.created is removed without a date
    // parse, so created_ms is e03's ingest default everywhere; the MAC grok
    // captures only a description-LEADING mac (k1)
    "qwl01_wlc" ->
      s"""WITH ${Transcripts.wlcCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'cisco.wireless.controller' AS technology,
  CASE b.ksel WHEN 0 THEN 'rule 1,rule 1(b),rule 6'
    WHEN 1 THEN 'rule 1,rule 1(b),rule 7'
    WHEN 2 THEN 'rule 1,rule 1(b),rule 4'
    ELSE 'rule 2,rule 11' END AS parse_rule,
  'cisco' AS event_module, 'cisco.wireless.controller' AS event_dataset,
  CASE WHEN b.ksel = 3 THEN NULL ELSE b.wlchost END AS event_id_s,
  CASE b.ksel WHEN 0 THEN 'apf-3-auth_admin_user' WHEN 1 THEN 'mm-5-reboot_info'
    WHEN 2 THEN 'dot1x-3-entry_changed' ELSE NULL END AS rule_name,
  CASE b.ksel
    WHEN 0 THEN 'authentication succeeded for admin user' || b.u5
    WHEN 1 THEN lower(b.mac) || ' reboot after crash ' || b.eid_s
    WHEN 2 THEN 'entry changed for client ' || b.eid_s
    ELSE 'station deauthenticated ' || b.eid_s END AS rule_description,
  CASE b.ksel WHEN 0 THEN 'audit/authentication success'
    WHEN 1 THEN 'audit/configuration' WHEN 2 THEN 'audit/access success'
    ELSE 'ops/information' END AS rule_category,
  CASE WHEN b.ksel = 1 THEN lower(b.mac) ELSE NULL END AS host_mac,
  CASE WHEN b.ksel = 3 THEN b.wlchost ELSE NULL END AS source_address,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  'logs-cisco.wireless.controller_' || strftime(t.ts, '%Y.%m.%d') AS route_index
FROM wlc_turns t JOIN wlc_base b USING (event_id)""",

    // azure.eventhub.atp: record rows (esel 0 two records a/b, esel 1 one
    // record with failed Timestamp + lowercase versioninfo) + bare rows
    // (esel 2 — unresolved hostname literal, stamped dataset survives)
    "qeh10_atp" ->
      s"""WITH ${Transcripts.eatCte},
sfx(sfx, sub_idx) AS (VALUES ('', 0), ('b', 1)),
rec AS (
  SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, x.sub_idx AS sub_idx,
    1 AS parse_ok_i, 'rule 1' AS parse_rule, 'azure.eventhub' AS agent_name,
    LOWER(b.tnt) AS log_source_hostname, 'azure' AS event_module,
    'advancedhunting-fileevents' || x.sfx AS event_dataset,
    'logs-azure.eventhub.atp_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
    CASE WHEN b.esel = 1 THEN epoch_ms(t.ts)
      ELSE epoch_ms(date_trunc('second', t.ts)) END AS event_created_ms,
    epoch_ms(date_trunc('second', t.ts)) AS event_ingested_ms,
    LOWER(b.tnt) AS cloud_account_id, 'advanced hunting' AS event_action,
    'filecreated' AS event_outcome,
    'AF ' || b.eid_s || x.sfx AS event_original,
    'cont' || b.eid_s || x.sfx AS container_id,
    'dev' || CAST(b.event_id % 400 AS VARCHAR) AS cloud_instance_id,
    'host' || CAST(b.user_id % 20 AS VARCHAR) || '.corp.example' AS cloud_instance_name,
    'payload' || b.eid_s || x.sfx || '.exe' AS file_name,
    b.sip AS source_ip,
    'https://ref.example/r/' || b.eid_s AS http_request_referrer,
    'https://dl.example/f/' || b.eid_s AS url_full,
    CAST(b.event_id % 100000 AS BIGINT) AS file_size,
    '/tmp/dl' || b.u5 AS file_path,
    'corp' || b.u5 AS user_domain, 'user' || b.u5 AS user_name,
    'powershell -enc abc' || b.eid_s AS process_command_line,
    epoch_ms(date_trunc('second', t.ts)) AS process_start_ms,
    'powershell.exe' AS process_name,
    CAST(b.event_id % 30000 AS BIGINT) AS process_pid,
    md5('pm' || b.eid_s) AS process_hash_md5,
    epoch_ms(date_trunc('second', t.ts)) AS process_parent_start_ms,
    'explorer.exe' AS process_parent_name,
    CAST(b.event_id % 20000 AS BIGINT) AS process_parent_pid,
    md5('s1' || b.eid_s) AS process_parent_hash_sha1,
    md5('s2' || b.eid_s) AS process_parent_hash_sha256,
    md5('fm' || b.eid_s) AS fh_md5, md5('f1' || b.eid_s) AS fh_sha1,
    md5('f2' || b.eid_s) AS fh_sha256,
    CAST(b.event_id % 100000 AS VARCHAR) AS rule_id,
    'reqdom' || b.u5 AS source_user_domain,
    'requser' || b.u5 AS source_user_id,
    'S-1-5-21-' || b.eid_s AS alarm_id, 'smb' AS network_protocol,
    CAST(30000 + (b.event_id % 20000) AS BIGINT) AS source_port,
    CASE WHEN b.esel = 1 THEN 'microsoft corp' END AS process_pe_company,
    CASE WHEN b.esel = 1 THEN 'file desc ' || b.eid_s END AS process_pe_description,
    CASE WHEN b.esel = 1 THEN '10.0.' || b.eid_s END AS process_pe_file_version,
    CASE WHEN b.esel = 1 THEN 'Original' || b.eid_s || '.EXE' END AS process_pe_original_file_name,
    CASE WHEN b.esel = 1 THEN '_dateparsefailure_ec,sip_public,source_ip_public'
      ELSE 'sip_public,source_ip_public' END AS tags_s
  FROM eat_turns t JOIN eat_base b USING (event_id)
  JOIN sfx x ON (b.esel = 0 OR x.sub_idx = 0) AND b.esel <> 2
)
SELECT * FROM rec
UNION ALL
SELECT t.conv_id, t.turn_idx, 0, 1, 'rule 1', 'azure.eventhub',
  '%{[az][tenantid]}', 'azure', 'azure.eventhub.atp',
  'logs-azure.eventhub.atp_' || strftime(t.ts, '%Y.%m.%d'),
  epoch_ms(t.ts),
  NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, -- ingested..source_ip
  NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, -- referrer..process_pid
  NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, -- process_hash_md5..rule_id
  NULL, NULL, NULL, NULL, NULL,                               -- source_user_domain..source_port
  NULL, NULL, NULL, NULL,                                     -- process_pe_*
  ''
FROM eat_turns t JOIN eat_base b USING (event_id) WHERE b.esel = 2""",

    // azure.eventhub.security: whole-message space strip, json_encode'd
    // per-record message, envelope Severity/Entities riding every clone
    "qeh11_seccenter" ->
      s"""WITH ${Transcripts.ehcCte},
sfx(sfx, sub_idx) AS (VALUES ('', 0), ('b', 1)),
rec AS (
  SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, x.sub_idx AS sub_idx,
    1 AS parse_ok_i, 'rule 1' AS parse_rule, 'azure.eventhub' AS agent_name,
    'api_azure_eventhub_security' AS log_source_hostname,
    'azure' AS event_module, 'azure.eventhub.security' AS event_dataset,
    'logs-azure.eventhub.security_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
    epoch_ms(t.ts) AS event_created_ms,
    '{"time":"' || LOWER(b.iso) || '","operationname":"securityassessment'
      || b.eid_s || x.sfx || '","category":"recommendation","resulttype":"succeededaction"'
      || ',"resultsignature":"sig' || b.eid_s || x.sfx || '","resultdescription":"desctext' || b.eid_s || '"'
      || ',"calleripaddress":"' || b.sip || '","location":"eastus2","operationversion":"3.0"'
      || ',"durationms":' || CAST(b.event_id % 5000 AS VARCHAR) || ',"level":"informational"'
      || ',"properties":{"recommendationcategory":"computesecure","recommendationimpact":"high"'
      || ',"recommendationname":"enablemfanow","recommendationschemaversion":"1.0"'
      || ',"recommendationresourcelink":"https://portal.azure.com/r/' || b.eid_s || '"'
      || ',"recommendationtype":"typea' || x.sfx || '"}}' AS message,
    'securityassessment' || b.eid_s || x.sfx AS rule_name,
    'computesecure' AS event_category,
    CASE WHEN b.esel = 2 THEN 'low' ELSE 'high' END AS event_severity_name,
    'enablemfanow' AS event_recommendation, '1.0' AS rule_version,
    'https://Portal.Azure.Com/r/' || b.eid_s AS event_reference,
    'typea' || x.sfx AS event_type, 'sig' || b.eid_s || x.sfx AS error_code,
    'succeededaction' AS event_action, 'informational' AS log_level,
    'desctext' || b.eid_s AS rule_description, b.sip AS source_ip,
    'recommendation' AS rule_category, 'eastus2' AS host_geo_name,
    epoch_ms(date_trunc('second', t.ts)) AS event_start_ms,
    '3.0' AS host_os_version,
    CAST(b.event_id % 5000 AS VARCHAR) AS event_duration,
    CAST(NULL AS VARCHAR) AS event_id_s,
    CAST(NULL AS VARCHAR) AS threat_tactic_name,
    CAST(NULL AS VARCHAR) AS event_url,
    CAST(NULL AS VARCHAR) AS fh_md5, CAST(NULL AS VARCHAR) AS fh_sha1,
    CAST(NULL AS VARCHAR) AS fh_sha256,
    CASE WHEN b.esel = 2 THEN md5('e5' || b.eid_s) END AS fh_sha512,
    'sip_public,source_ip_public' AS tags_s
  FROM ehc_turns t JOIN ehc_base b USING (event_id)
  JOIN sfx x ON (b.esel = 0 OR x.sub_idx = 0) AND b.esel <> 1
)
SELECT * FROM rec
UNION ALL
SELECT t.conv_id, t.turn_idx, 0, 1, 'rule 1', 'azure.eventhub',
  'api_azure_eventhub_security', 'azure', 'azure.eventhub.security',
  'logs-azure.eventhub.security_' || strftime(t.ts, '%Y.%m.%d'),
  epoch_ms(t.ts),
  '{"severity":"high","systemalertid":"sa' || b.eid_s || '","intent":"initialaccess"'
    || ',"alertdisplayname":"suspiciousprocesslaunch","description":"alertabout' || b.eid_s || '"'
    || ',"alerturi":"https://portal.azure.com/alert/' || b.eid_s || '"'
    || ',"entities":[{"type":"file","filehashes":[{"algorithm":"md5","value":"' || md5('e1' || b.eid_s)
    || '"},{"algorithm":"sha256","value":"' || md5('e2' || b.eid_s)
    || '"}]},{"type":"process","filehashes":[{"algorithm":"sha1","value":"' || md5('e3' || b.eid_s)
    || '"},{"algorithm":"md5","value":"' || md5('e4' || b.eid_s)
    || '"}]},{"type":"host"}]}',
  'suspiciousprocesslaunch', NULL, 'high', NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, 'alertabout' || b.eid_s, NULL, NULL, NULL, NULL, NULL, NULL,
  'sa' || b.eid_s, 'initialaccess',
  'https://Portal.Azure.com/alert/' || b.eid_s,
  md5('e1' || b.eid_s) || ',' || md5('e4' || b.eid_s),
  md5('e3' || b.eid_s), md5('e2' || b.eid_s), NULL, ''
FROM ehc_turns t JOIN ehc_base b USING (event_id) WHERE b.esel = 1""",

    // azure.graph_data: gsel 0 full alert, 1 hostStates fan-out (2 rows,
    // fileStates list nulls the scalar path), 2 name-clobbers-start +
    // garbage createddatetime, 3 minimal (unresolved tenant literal)
    "qgr01_graphsec" ->
      s"""WITH ${Transcripts.graCte},
hs(hn, sub_idx) AS (VALUES ('ws one ', 0), ('ws two ', 1)),
alert AS (
  SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, h.sub_idx AS sub_idx,
    1 AS parse_ok_i, 'rule 1' AS parse_rule,
    'azure ad svc' AS cloud_provider,
    LOWER(b.tnt) AS log_source_hostname, 'azure' AS event_module,
    'azure.graph_data' AS event_dataset,
    'logs-azure.graph_data_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
    CASE WHEN b.gsel = 2 THEN epoch_ms(t.ts)
      ELSE epoch_ms(date_trunc('second', t.ts)) END AS event_created_ms,
    CASE WHEN b.gsel = 2 THEN NULL
      ELSE epoch_ms(date_trunc('second', t.ts)) END AS event_start_ms,
    CAST(NULL AS BIGINT) AS event_end_ms,
    CAST(NULL AS BIGINT) AS event_modified_ms,
    'credential access' AS rule_category,
    CAST(b.event_id % 100 AS BIGINT) AS event_risk_score_norm,
    'user' || chr(39) || 's file ' || b.eid_s || ' accessed' AS rule_description,
    'al' || b.eid_s AS event_id_s, 'medium' AS event_severity_name,
    'https://Graph.Example/alerts/' || b.eid_s AS rule_reference,
    'malware detected' AS event_kind,
    'ipc' AS source_as_organization_name,
    'azure ad' AS client_as_organization_name,
    'microsoft' AS observer_vendor,
    'corp' || b.u5 || '.example' AS user_domain,
    'u' || b.eid_s || '@corp.example' AS user_email,
    'newalert' AS event_type, 'redmond wa' AS host_geo_location,
    CASE WHEN b.gsel = 1 THEN NULL
      ELSE '/tmp/doc ' || b.eid_s || '.txt' END AS file_path,
    md5('g1' || b.eid_s) AS fh_md5, md5('g2' || b.eid_s) AS fh_sha256,
    CASE WHEN b.gsel = 1 THEN h.hn || b.eid_s END AS host_hostname,
    CASE WHEN b.gsel = 2
      THEN '_dateparsefailure_ec,_dateparsefailure_ee,_dateparsefailure_es,_dateparsefailure_estart'
      ELSE '_dateparsefailure_ee' END AS tags_s
  FROM gra_turns t JOIN gra_base b USING (event_id)
  JOIN hs h ON (b.gsel = 1 OR h.sub_idx = 0) AND b.gsel <> 3
)
SELECT * FROM alert
UNION ALL
SELECT t.conv_id, t.turn_idx, 0, 1, 'rule 1', 'azure',
  '%{[az][azuretenantid]}', 'azure', 'azure.graph_data',
  'logs-azure.graph_data_' || strftime(t.ts, '%Y.%m.%d'),
  epoch_ms(t.ts), NULL, NULL, NULL, NULL, NULL, NULL,
  'al' || b.eid_s, 'low', NULL, 'info alert', NULL, NULL, NULL, NULL,
  NULL, NULL, NULL, NULL, NULL, NULL, NULL, ''
FROM gra_turns t JOIN gra_base b USING (event_id) WHERE b.gsel = 3""",

    // riverbed.netim: rsel 0/1 flattened single-line alarms (live kv +
    // labels path), 2 multiline (reference's dead details path — empty
    // grok captures dropped), 3 severity-less periodic line
    "qrv01_netim" ->
      s"""WITH ${Transcripts.rvbCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.rsel = 3 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'riverbed.netim' AS technology,
  'riverbed' AS event_module, 'riverbed.netim' AS event_dataset,
  'logs-riverbed.netim_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.rsel IN (0, 1) THEN b.hip END AS host_ip,
  CASE WHEN b.rsel IN (0, 1) THEN 'sw' || b.eid_s END AS host_hostname,
  CASE WHEN b.rsel IN (0, 1) THEN 'interface utilization threshold' END AS rule_category,
  CASE WHEN b.rsel IN (0, 1) THEN 'link util ' || b.eid_s END AS rule_ruleset,
  CASE WHEN b.rsel IN (0, 1) THEN 'utilization' END AS event_reason,
  CASE WHEN b.rsel IN (0, 1) THEN 'util in' END AS event_action,
  'network' AS event_category, 'alert' AS event_kind,
  'failure' AS event_outcome,
  CASE WHEN b.rsel = 0 THEN 'uplink to core' END AS observer_ingress_interface_alias,
  CAST(NULL AS VARCHAR) AS observer_ingress_interface_id,
  CASE WHEN b.rsel = 0 THEN 'gi0/' || b.ifn END AS observer_ingress_interface_name,
  CASE b.rsel
    WHEN 0 THEN 'gigabitethernet0/' || b.ifn || ' (uplink port ' || b.ifn || ') util in 9' || b.thr || '%'
    WHEN 1 THEN '%{[[tmp][details][display name]]} (uplink port ' || b.ifn || ') util in 9' || b.thr || '%'
    ELSE '%{[[tmp][details][display name]]} (%{[[tmp][details][ifdescr]]}) %{[[event][action]]} %{[[tmp][details][threshold]]}'
  END AS error_message,
  CASE WHEN b.rsel = 0
    THEN epoch_ms(date_trunc('second', t.ts)) + 21600000 END AS event_start_ms,
  CASE WHEN b.rsel = 0 THEN 'high_util_link' END AS labels_tags,
  CAST(CASE b.rsel WHEN 0 THEN 3 WHEN 1 THEN 7 WHEN 2 THEN 4 ELSE 5 END AS BIGINT) AS log_syslog_severity_code,
  CASE b.rsel WHEN 0 THEN 'error' WHEN 1 THEN 'debug' WHEN 2 THEN 'warning'
    ELSE 'notice' END AS log_syslog_severity_name,
  CAST(CASE b.rsel WHEN 1 THEN 23 WHEN 3 THEN 10 ELSE 16 END AS BIGINT) AS log_syslog_facility_code,
  CASE b.rsel WHEN 1 THEN 'local7' WHEN 3 THEN 'security/authorization'
    ELSE 'local0' END AS log_syslog_facility_name,
  CASE WHEN b.rsel = 3 THEN '_grokparsefailure_severity' ELSE '' END AS tags_s
FROM rvb_turns t JOIN rvb_base b USING (event_id)""",

    // aws.app: asel 0 journald (UNIX_MS micro created), 1 k8s + nested
    // jtmp payload, 2 invalid nested JSON silently dropped, 3 ISO created
    "qap02_awsapp" ->
      s"""WITH ${Transcripts.appCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'aws' AS event_module, 'aws.app' AS event_dataset,
  'logs-aws.app_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'aws_app' AS log_source_hostname,
  CASE b.asel
    WHEN 0 THEN 1704485287000000 + (b.event_id % 100000)
    WHEN 1 THEN epoch_ms(date_trunc('second', t.ts)) + 333
    WHEN 2 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 921
  END AS event_created_ms,
  CASE WHEN b.asel = 1 THEN epoch_ms(date_trunc('second', t.ts)) + 921 END AS event_ingested_ms,
  CASE WHEN b.asel = 0 THEN '/usr/bin/app' END AS process_executable,
  CASE WHEN b.asel IN (0, 3) THEN 'app' || b.u5 END AS process_name,
  CASE WHEN b.asel = 0 THEN 'b' || b.eid_s END AS process_entity_id,
  CASE WHEN b.asel = 0 THEN 'app' || b.u5 || '.service' END AS process_parent_command_line,
  CASE WHEN b.asel = 0 THEN 'src/main.c' END AS process_parent_name,
  CASE b.asel WHEN 0 THEN 'payments api' WHEN 1 THEN 'checkout svc' END AS service_name,
  CAST(CASE WHEN b.asel = 0
    THEN CAST('1' || CAST(b.event_id % 100 AS VARCHAR) AS BIGINT) END AS BIGINT) AS process_pgid,
  CAST(CASE WHEN b.asel = 0 THEN CAST('2' || CAST(b.event_id % 1000 AS VARCHAR) AS BIGINT)
    WHEN b.asel = 3 THEN CAST('2' || b.eid_s AS BIGINT) END AS BIGINT) AS process_pid,
  CASE WHEN b.asel = 0 THEN '/usr/bin/app --serve --port 80' || b.u5 END AS process_command_line,
  CASE WHEN b.asel = 0 THEN '50' || b.u5 END AS file_uid,
  CASE WHEN b.asel = 0 THEN '/system.slice/app.service' END AS group_name,
  CASE WHEN b.asel = 0 THEN 'journal' END AS network_transport,
  CASE WHEN b.asel = 0 THEN 'm' || b.eid_s END AS host_id,
  CASE WHEN b.asel = 0 THEN 'handlereq' END AS log_origin_function,
  CASE b.asel WHEN 0 THEN '142' WHEN 1 THEN '88' END AS log_origin_file_line,
  CASE WHEN b.asel IN (0, 3) THEN 'node' || b.u5 ELSE 'pod' || b.u5 END AS host_hostname,
  CASE WHEN b.asel = 0 THEN 'appd' END AS log_syslog_facility_name,
  CASE WHEN b.asel = 0 THEN '6' END AS log_syslog_priority,
  CAST(CASE WHEN b.asel = 0 THEN 3 END AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.asel = 1 THEN 'eks-prod' || b.u5 END AS cloud_instance_name,
  CASE WHEN b.asel = 1 THEN 'c' || b.eid_s END AS container_id,
  CASE WHEN b.asel = 1 THEN 'containerd' END AS container_runtime,
  CASE WHEN b.asel = 1 THEN 'env:prod,ver1.' || b.eid_s END AS container_image_tag,
  CASE WHEN b.asel = 1 THEN 'registry.example/app:1.' || b.u5 END AS container_image_name,
  CASE WHEN b.asel = 1 THEN 'app' || b.eid_s END AS container_name,
  CASE WHEN b.asel = 1 THEN '10.42.' || b.u5 || '.9' END AS cloud_instance_id,
  CASE WHEN b.asel = 1 THEN 'payments' END AS cloud_project_id,
  CASE WHEN b.asel = 1 THEN 'app-' || b.eid_s || '-x' END AS cloud_project_name_s,
  CASE WHEN b.asel = 1 THEN 'deployment/app' END AS cloud_account_name,
  CAST(NULL AS VARCHAR) AS cloud_service_name,
  CASE WHEN b.asel = 1 THEN 'nodejs' END AS cloud_machine_type,
  CASE WHEN b.asel IN (1, 2) THEN 'kubernetes' END AS event_kind,
  CASE WHEN b.asel = 1 THEN 'stdout' END AS event_provider,
  CAST(NULL AS VARCHAR) AS dns_answers_class,
  CASE WHEN b.asel = 1 THEN 'warn' END AS log_syslog_severity_name,
  CASE WHEN b.asel = 1 THEN 'warn' END AS log_level,
  CAST(CASE WHEN b.asel = 1 THEN 30000 END AS BIGINT) AS log_syslog_severity_code,
  CASE WHEN b.asel = 1 THEN 'app.router' END AS log_logger,
  CASE WHEN b.asel = 1 THEN 'main-' || b.eid_s END AS process_thread_name,
  CASE b.asel WHEN 0 THEN 'plain text failure ' || b.eid_s
    WHEN 1 THEN 'request failed ' || b.eid_s
    WHEN 3 THEN 'shutdown requested ' || b.eid_s END AS error_message,
  CASE WHEN b.asel = 1 THEN 'tr' || b.eid_s END AS trace_id,
  CASE WHEN b.asel = 1 THEN 'sp' || b.eid_s END AS span_id,
  CASE WHEN b.asel = 1 THEN 'invoice ' || b.eid_s || '.pdf' END AS file_name,
  CASE WHEN b.asel = 1 THEN '7bit' END AS file_type,
  CASE WHEN b.asel = 1 THEN 'application/pdf' END AS file_mime_type,
  '' AS tags_s
FROM app_turns t JOIN app_base b USING (event_id)""",

    // tanium.inventory: tsel 0 full record (Intel Type overwrites dataset,
    // M/d/yyyy install date, private-ip geo tags), 1 the unavailable sweeps
    // + bad install date + default pri 13, 2 brace-less (_grokparsefailure)
    "qti01_taninv" ->
      s"""WITH ${Transcripts.tinCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.tsel = 2 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'tanium' AS event_module,
  CASE b.tsel WHEN 0 THEN 'tanium asset report' ELSE 'tanium.inventory' END AS event_dataset,
  'logs-tanium.inventory_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.tsel IN (0, 1) THEN 'host' || b.u5 END AS host_hostname,
  CASE WHEN b.tsel IN (0, 1) THEN 'host' || b.u5 END AS host_name,
  CASE WHEN b.tsel IN (0, 1) THEN 'ubuntu 22.04' END AS host_os_name,
  CAST(CASE WHEN b.tsel = 0
    THEN epoch_ms(make_date(2024, 1, CAST(b.dnp AS INT))) END AS BIGINT) AS host_os_installation_date_ms,
  CASE WHEN b.tsel IN (0, 1) THEN 'sn' || b.eid_s END AS host_serial,
  CASE WHEN b.tsel = 0 THEN 'corp.example' END AS host_domain,
  CASE WHEN b.tsel IN (0, 1) THEN '00:1b:44:7a:aa:0' || b.u5 END AS host_mac,
  CASE WHEN b.tsel = 0 THEN '10.' || b.u5 || '.' || CAST(b.event_id % 250 AS VARCHAR) || '.4' END AS host_ip,
  CASE WHEN b.tsel = 0 THEN '10.' || b.u5 || '.' || CAST(b.event_id % 250 AS VARCHAR) || '.5' END AS source_ip,
  CASE WHEN b.tsel = 0 THEN '172.16.' || b.u5 || '.6' END AS source_nat_ip,
  CASE WHEN b.tsel IN (0, 1) THEN 'tansrv' || b.u5 END AS observer_hostname,
  CASE WHEN b.tsel = 0 THEN 'user' || b.u5 || ', admin' || b.eid_s END AS host_logged_in_users,
  CASE WHEN b.tsel = 0 THEN 'corp' || chr(92) || 'user' || b.u5 END AS host_last_logged_in_user,
  CASE WHEN b.tsel = 0 THEN 'central standard time' END AS host_timezone,
  CASE WHEN b.tsel IN (0, 1) THEN 'dell inc.' END AS host_manufacturer,
  CASE WHEN b.tsel IN (0, 1) THEN 'optiplex 70' || b.u5 END AS host_model,
  CAST(CASE WHEN b.tsel = 2 THEN 6 ELSE 5 END AS BIGINT) AS log_syslog_severity_code,
  CAST(1 AS BIGINT) AS log_syslog_facility_code,
  CASE b.tsel WHEN 0 THEN 'sip_private,source_ip_private'
    WHEN 1 THEN '_dateparsefailure_hoid' ELSE '_grokparsefailure' END AS tags_s
FROM tin_turns t JOIN tin_base b USING (event_id)""",

    // virtustream.linux: vsel 0 logstash bracket self-log (4-group grok +
    // ruby exception suffix), 1 non-bracket wholesale error.message rename,
    // 2 sshd (grok branch skipped); [tmp][tags] array -> host_os_type null,
    // "notice" priority nulled by the e94 numeric coercion
    "qvl01_virtlinux" ->
      s"""WITH ${Transcripts.vlCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'virtustream' AS event_module,
  'virtustream.linux' AS event_dataset,
  'logs-virtustream.linux_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(NULL AS VARCHAR) AS host_os_type,
  'fwdnode' || b.u5 AS log_source_hostname,
  'daemon' AS log_syslog_facility_name, 'syslog' AS event_type,
  CASE b.vsel WHEN 2 THEN 'sshd' ELSE 'logstash.agent' END AS event_kind,
  '1' AS observer_version,
  'Raw Original ' || b.eid_s AS event_original,
  CAST(3 AS BIGINT) AS log_syslog_facility_code,
  CAST('81' || b.u5 AS BIGINT) AS process_pid,
  CAST(NULL AS BIGINT) AS log_syslog_priority,
  '10.' || b.u5 || '.' || CAST(b.event_id % 250 AS VARCHAR) || '.7' AS log_source_ip,
  CAST(5 AS BIGINT) AS log_syslog_severity_code,
  CASE WHEN b.vsel = 0 THEN 'logstash.outputs.opensearch' END AS process_parent_name,
  CASE WHEN b.vsel = 0 THEN 'main' END AS process_name,
  CAST(NULL AS VARCHAR) AS process_id,
  CASE WHEN b.vsel = 0
    THEN 'attempted to resurrect connection to dead es instance ' || b.eid_s END AS event_action,
  CASE b.vsel WHEN 0 THEN 'connect refused ' || b.eid_s
    WHEN 1 THEN 'plain forwarder warning ' || b.eid_s END AS error_message,
  CASE WHEN b.vsel = 0 THEN 'manticore::socketexception' END AS error_type,
  epoch_ms(date_trunc('day', t.ts)) + 15120000 + (b.event_id % 60) * 1000 AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) + 333 AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) + 921 AS event_ingested_ms,
  '' AS tags_s
FROM vl_turns t JOIN vl_base b USING (event_id)""",

    // pingfederate.auth: psel 4 (<191> debug) and 5 (empty) are DROPPED;
    // 0 RULE 3 PingOne API exception, 1 RULE 4 UnknownHostException,
    // 2 RULE 5 plain 187, 3 RULE 6 188 (CRLF -> ';' kept in description)
    "qpf01_pingfed" ->
      s"""WITH ${Transcripts.pfCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.psel WHEN 0 THEN 'rule 3' WHEN 1 THEN 'rule 4'
    WHEN 2 THEN 'rule 5' ELSE 'rule 6' END AS parse_rule,
  'pingfederate' AS event_module, 'pingfederate.auth' AS event_dataset,
  'logs-pingfederate.auth_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.psel = 3 THEN '188' ELSE '187' END AS log_level,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  'pfsrv' || b.u5 AS source_address,
  CASE b.psel WHEN 0 THEN 'integrationcontrollerservlet'
    WHEN 1 THEN 'httpservletrespproxy' WHEN 2 THEN 'muxinvocationhandler'
    ELSE 'httpoutput' END AS log_logger,
  CASE b.psel WHEN 0 THEN 'provisioning call failed ' || b.eid_s
    WHEN 1 THEN 'dns lookup failed ' || b.eid_s
    WHEN 2 THEN 'connector pool exhausted ' || b.eid_s
    ELSE 'response header too large ' || b.eid_s || ';header dump truncated'
  END AS rule_description,
  CASE WHEN b.psel = 0 THEN 'get' END AS http_request_method,
  CASE WHEN b.psel = 0
    THEN 'https://api.pingone.example/v1/environments/' || b.eid_s END AS url_full,
  CASE WHEN b.psel = 0 THEN '403' END AS error_code,
  CASE WHEN b.psel = 3 THEN 'ops warning' ELSE 'ops error' END AS rule_category,
  '' AS tags_s
FROM pf_turns t JOIN pf_base b USING (event_id)
WHERE b.psel <= 3""",

    // riverbed.audit: only user/host survive the conf's own remove sweep;
    // asel 3 is a LogOut line that fails the RULE 1 dissect
    "qra01_rvbaudit" ->
      s"""WITH ${Transcripts.rauCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.asel = 3 THEN 0 ELSE 1 END AS parse_ok_i,
  CASE b.asel WHEN 1 THEN 'rule 2' WHEN 2 THEN 'rule 3' ELSE 'rule 1' END AS parse_rule,
  'cisco' AS event_module, 'cisco.riverbed.audit' AS event_dataset,
  'logs-cisco.riverbed.audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE b.asel WHEN 0 THEN 'adm' || b.u5 WHEN 1 THEN 'root' || b.eid_s
    WHEN 2 THEN 'op' || b.u5 END AS user_name,
  CASE WHEN b.asel = 0 THEN 'rvb' || b.u5 END AS host_hostname,
  CAST(NULL AS VARCHAR) AS host_name,
  CASE WHEN b.asel = 3 THEN '_dissectfailure' ELSE '' END AS tags_s
FROM rau_turns t JOIN rau_base b USING (event_id)""",

    // riverbed.vnes: vsel 1 carries both custom failure tags yet stays
    // parse_ok (neither matches the _dissectfailure/_grokparsefailure families)
    "qrn01_vnes" ->
      s"""WITH ${Transcripts.rvnCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule,
  'cisco' AS event_module, 'cisco.riverbed.vnes_analytics' AS event_dataset,
  'logs-cisco.riverbed.vnes_analytics_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('day', t.ts)) + 15180000 + (b.event_id % 60) * 1000 AS event_created_ms,
  CASE WHEN b.vsel = 2 THEN 'info' ELSE 'warn' END AS log_level,
  CASE WHEN b.vsel = 0 THEN 'failed log in attempt' END AS rule_description,
  CASE WHEN b.vsel = 0
    THEN '10.' || b.u5 || '.' || CAST(b.event_id % 250 AS VARCHAR) || '.9' END AS source_ip,
  CASE WHEN b.vsel = 0 THEN 'vb' || b.eid_s END AS user_name,
  CASE b.vsel WHEN 0 THEN 'sip_private,source_ip_private'
    WHEN 1 THEN 'dissect 2 failure,grok 1 failure' ELSE '' END AS tags_s
FROM rvn_turns t JOIN rvn_base b USING (event_id)""",

    // riverbed.scportal: ssel 3 dropped; RULE 4's description ends at the
    // FIRST space (dissect first-occurrence delimiter) - 'sync' only
    "qrs01_scportal" ->
      s"""WITH ${Transcripts.rscCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.ssel WHEN 0 THEN 'rule 2' WHEN 1 THEN 'rule 3' ELSE 'rule 4' END AS parse_rule,
  'cisco' AS event_module, 'cisco.riverbed.scportal' AS event_dataset,
  'logs-cisco.riverbed.scportal_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.ssel = 0 THEN 'sc-host-' || b.u5 END AS host_hostname,
  CASE WHEN b.ssel = 0 THEN 'sc-host-' || b.u5 END AS host_name,
  CASE WHEN b.ssel = 0 THEN chr(39) || 'source' || chr(39) END AS source_address,
  CASE WHEN b.ssel = 1 THEN 'start backup' END AS event_action,
  CAST(CASE WHEN b.ssel = 1
    THEN epoch_ms(date_trunc('day', t.ts)) + 15245120 END AS BIGINT) AS event_start_ms,
  CAST(CASE WHEN b.ssel = 2 THEN CAST('13' || b.u5 AS BIGINT) END AS BIGINT) AS process_pid,
  CASE WHEN b.ssel = 2 THEN 'provision' END AS rule_category,
  CASE WHEN b.ssel = 2 THEN 'error' END AS log_level,
  CASE WHEN b.ssel = 2 THEN 'sync' END AS rule_description,
  '' AS tags_s
FROM rsc_turns t JOIN rsc_base b USING (event_id)
WHERE b.ssel <= 2""",

    // forescout push: epoch-seconds parsed as UNIX_MS -> 1970 clocks
    "qfd01_forescoutinv" ->
      s"""WITH ${Transcripts.fsdCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'forescout' AS event_module,
  'forescout.device_inventory' AS event_dataset,
  'logs-forescout.device_inventory_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.fsel = 2 THEN epoch_ms(t.ts)
    ELSE 1614786000 + (b.event_id % 1000) END AS event_created_ms,
  CASE b.fsel WHEN 0 THEN 'nb-host' || b.u5 WHEN 1 THEN 'wlan-host' || b.u5
    ELSE 'dhcp-host-' || b.u5 END AS host_hostname,
  CASE WHEN b.fsel = 0 THEN 'h' || b.eid_s || '.corp.example' END AS dns_answers_name,
  CASE WHEN b.fsel <= 1 THEN 'fsuser' || b.u5 END AS user_name,
  CASE WHEN b.fsel = 0 THEN 'aduser' || b.u5 END AS user_id,
  CASE WHEN b.fsel = 2 THEN 'false' ELSE 'true' END AS event_action,
  CASE b.fsel WHEN 0 THEN '10.' || b.u5 || '.' || b.m250 || '.99'
    WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.98' END AS host_ip,
  CASE b.fsel WHEN 0 THEN '00:1b:44:7a:bb:0' || b.u5
    WHEN 1 THEN '00:1b:44:7a:cc:0' || b.u5 END AS host_mac,
  CASE WHEN b.fsel = 0 THEN 'dell' END AS host_manufacturer,
  CASE WHEN b.fsel = 0 THEN 'workstation' END AS host_type,
  CASE WHEN b.fsel = 0 THEN 'windows 10' END AS host_os_name,
  CASE WHEN b.fsel = 0 THEN 'optiplex' END AS host_model,
  CASE WHEN b.fsel = 0 THEN 'uplink-' || b.u5 END AS observer_ingress_interface_alias,
  CASE WHEN b.fsel = 0 THEN 'corp/floor' || b.u5 END AS network_name,
  CASE WHEN b.fsel = 1 THEN 'ap-' || b.u5 END AS observer_name,
  CASE WHEN b.fsel = 1 THEN '10.0.0.250' END AS observer_ip,
  CASE WHEN b.fsel = 0 THEN 'sn' || b.eid_s END AS host_serial,
  CASE WHEN b.fsel = 0 THEN 'eth1/' || b.u5 END AS observer_ingress_interface_name,
  CASE WHEN b.fsel = 0 THEN '4' || b.eid_s END AS observer_ingress_interface_id,
  CASE WHEN b.fsel = 2 THEN '_dateparsefailure_ec' ELSE '' END AS tags_s
FROM fsd_turns t JOIN fsd_base b USING (event_id)""",

    // windows.exporter: ==-regex guard keeps source.ip dead; Workstation
    // overwrites Computer on host.type
    "qwx01_winexport" ->
      s"""WITH ${Transcripts.wxpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'windows' AS event_module,
  'windows.exporter' AS event_dataset,
  'logs-windows.exporter_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.wsel = 1 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('day', t.ts)) + 47640000 + (b.event_id % 60) * 1000 + 763
  END AS event_created_ms,
  'microsoft-windows-security-auditing' AS event_provider,
  'logon successful' AS event_outcome, 'audit success' AS event_action,
  'logontype 3' AS event_reason, 'ntlm' AS event_kind,
  'security' AS event_type, '7' AS process_entity_id,
  CAST('71' || b.u5 AS BIGINT) AS process_pid,
  CASE WHEN b.wsel = 1 THEN 'winexp-' || b.u5 || '.example'
    ELSE 'wks-' || b.u5 END AS host_type,
  'c:/evtx/security' || b.eid_s || '.evtx' AS file_path,
  CASE WHEN b.wsel = 0 THEN 'wuser' || b.u5 END AS user_name,
  CASE WHEN b.wsel = 0 THEN 'ntlm v2' END AS package_name,
  CASE WHEN b.wsel = 0 THEN 'ntlm' END AS process_name,
  CASE WHEN b.wsel = 0 THEN 'corp' END AS destination_domain,
  CASE WHEN b.wsel = 0 THEN 's-1-5-21-' || b.eid_s END AS destination_user_id,
  CAST(CASE WHEN b.wsel = 0 THEN 50512 END AS BIGINT) AS source_port,
  CAST(NULL AS VARCHAR) AS source_ip,
  CASE WHEN b.wsel = 1 THEN '_dateparsefailure_ec' ELSE '' END AS tags_s
FROM wxp_turns t JOIN wxp_base b USING (event_id)""",

    // infoblox ftp_gzip dns: pattern-1 rows alone escape the answer-grok
    // default failure tag
    "qif01_infobloxftp" ->
      s"""WITH ${Transcripts.ifxCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.isel = 0 THEN 1 ELSE 0 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'infoblox' AS event_module,
  'infoblox.dns' AS event_dataset,
  'logs-infoblox.dns_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.isel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 47460000 + (b.event_id % 60) * 1000 + 893
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 47520000 + (b.event_id % 60) * 1000 + 100
    ELSE epoch_ms(date_trunc('day', t.ts)) + 47580000 + (b.event_id % 60) * 1000 + 500
  END AS event_created_ms,
  'ftp_infoblox_api' AS log_source_hostname,
  CASE b.isel WHEN 0 THEN '10.' || b.u5 || '.' || b.m250 || '.97'
    WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.98'
    ELSE '10.' || b.u5 || '.' || b.m250 || '.99' END AS source_ip,
  CAST(CASE b.isel WHEN 0 THEN 53311 WHEN 1 THEN 53312 ELSE 53313 END AS BIGINT) AS source_port,
  'udp' AS network_transport,
  CASE WHEN b.isel = 2 THEN 'resolving' ELSE 'query' END AS dns_op_code,
  CASE b.isel WHEN 0 THEN 'www' || b.eid_s || '.example.com'
    WHEN 1 THEN 'mail' || b.eid_s || '.example.com'
    ELSE 'ns' || b.eid_s || '.example.com/a' END AS dns_question_name,
  'in' AS dns_question_class, 'a' AS dns_question_type,
  CASE b.isel WHEN 0 THEN 'noerror' WHEN 1 THEN 'servfail' END AS dns_response_code,
  CASE b.isel WHEN 0 THEN '+ae' WHEN 1 THEN '-edc' ELSE '+e' END AS dns_header_flags,
  CASE WHEN b.isel = 2 THEN '10.22.33.44' END AS dns_resolved_ip,
  CASE WHEN b.isel = 0 THEN 'www' || b.eid_s || '.example.com' END AS dns_answers_data,
  CASE WHEN b.isel = 0 THEN '3600' END AS dns_id,
  CASE WHEN b.isel = 0 THEN 'in' END AS dns_answers_class,
  CASE WHEN b.isel = 0 THEN 'a' END AS dns_answers_type,
  CASE WHEN b.isel = 0 THEN '10.11.12.13' END AS dns_answers_name,
  CASE b.isel WHEN 0 THEN 'www' || b.eid_s || '.example.com'
    WHEN 1 THEN 'mail' || b.eid_s || '.example.com'
    ELSE 'ns' || b.eid_s || '.example.com/a' END AS url_full,
  CASE WHEN b.isel = 0 THEN 'sip_private,source_ip_private'
    ELSE '_grokparsefailure,sip_private,source_ip_private' END AS tags_s
FROM ifx_turns t JOIN ifx_base b USING (event_id)""",

    // skyhigh_scal: lowercased record, surname-first full_name
    "qsl01_scalaudit" ->
      s"""WITH ${Transcripts.sclCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'skyhigh' AS event_module,
  'skyhigh_scal' AS event_dataset,
  'logs-skyhigh_scal_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.ssel = 2 THEN epoch_ms(t.ts)
    ELSE (1704067200 + (b.event_id % 1000000)) * 1000 + 123 END AS event_created_ms,
  (1704067200 + (b.event_id % 1000000)) * 1000 + 123 AS event_ingested_ms,
  '10.' || b.u5 || '.' || b.m250 || '.95' AS source_ip,
  'scalnode-' || b.u5 AS host_hostname,
  '4.2.' || b.u5 AS service_version,
  'ten-' || b.u5 AS cloud_account_id,
  'policyobject' AS process_name,
  '3' AS event_category, '7' AS event_code, 'policy' AS event_kind,
  'policy updated' AS error_message, '12' AS error_type,
  'scal' || b.u5 || '@example.com' AS user_email,
  'u-' || b.eid_s AS user_id,
  CASE WHEN b.ssel = 0 THEN 'lopez m ana' ELSE 'lopez ana' END AS user_full_name,
  CASE WHEN b.ssel = 2 THEN '_dateparsefailure_ec,sip_private,source_ip_private'
    ELSE 'sip_private,source_ip_private' END AS tags_s
FROM scl_turns t JOIN scl_base b USING (event_id)""",

    // preempt: broken end-date formats tag every parsed row; Rule 1 only
    // writes the flat "parsing rule" field (parse_rule stays default)
    "qpe01_preempt" ->
      s"""WITH ${Transcripts.preCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.psel = 2 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'preempt' AS event_module,
  'preempt.threat_intelligence' AS event_dataset,
  'logs-preempt.threat_intelligence_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(CASE WHEN b.psel <= 1
    THEN epoch_ms(date_trunc('day', t.ts)) + 16920000 + (b.event_id % 60) * 1000
    END AS BIGINT) AS event_start_ms,
  CAST(NULL AS BIGINT) AS event_end_ms,
  CASE WHEN b.psel <= 1 THEN '134' END AS log_level,
  CASE WHEN b.psel <= 1 THEN 'suspicious_activity' END AS rule_name,
  CASE WHEN b.psel <= 1 THEN 'suspicious activity ' || b.eid_s END AS rule_description,
  CASE WHEN b.psel <= 1 THEN 'ext' || b.eid_s END AS rule_uuid,
  CASE WHEN b.psel = 0 THEN 'corp.com' END AS user_domain,
  CASE b.psel WHEN 0 THEN 'puser' || b.u5 WHEN 1 THEN 'svcacct' || b.u5 END AS user_name,
  CASE WHEN b.psel <= 1 THEN '10.' || b.u5 || '.' || b.m250 || '.90' END AS source_ip,
  CASE WHEN b.psel <= 1 THEN 'endpoint-' || b.u5 END AS host_hostname,
  CASE WHEN b.psel <= 1 THEN 'endpoint-' || b.u5 END AS host_name,
  CASE WHEN b.psel <= 1 THEN 'credentialtheft' END AS rule_ruleset,
  CASE WHEN b.psel <= 1 THEN 'https://console.example/i' || b.eid_s END AS event_reference,
  CASE WHEN b.psel = 2 THEN '_dissectfailure'
    ELSE '_dateparsefailure,_dateparsefailure_ee,sip_private,source_ip_private'
  END AS tags_s
FROM pre_turns t JOIN pre_base b USING (event_id)""",

    // skyhigh.atd: Summary hashes -> file.hash arrays, flat hashes -> the
    // non-ECS hash tree (unobservable), MWG/animalized action default
    "qsa01_skyhighatd" ->
      s"""WITH ${Transcripts.atdCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'skyhigh' AS event_module,
  'skyhigh.atd' AS event_dataset,
  'logs-skyhigh.atd_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  epoch_ms(date_trunc('day', t.ts)) + 16560000 + (b.event_id % 60) * 1000 AS event_start_ms,
  'atdbox' || b.u5 AS source_address, 'atdd' AS process_name,
  CAST('9' || b.u5 AS BIGINT) AS process_pid,
  CASE b.asel WHEN 0 THEN '10.' || b.u5 || '.' || b.m250 || '.80'
    WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.81'
    ELSE '10.' || b.u5 || '.' || b.m250 || '.82' END AS source_ip,
  'atduser' || b.u5 AS user_name,
  CASE WHEN b.asel = 1 THEN '10.9.9.19' END AS destination_ip,
  CAST(CASE b.asel WHEN 0 THEN 8443 WHEN 1 THEN 443 END AS BIGINT) AS destination_port,
  CASE b.asel WHEN 0 THEN 'payload' || b.eid_s || '.exe'
    WHEN 1 THEN 'drop' || b.eid_s || '.bin'
    ELSE 'sample' || b.eid_s || '.doc' END AS file_name,
  CASE b.asel WHEN 0 THEN 'pe32' WHEN 1 THEN 'elf' ELSE 'ole' END AS file_type,
  CASE WHEN b.asel = 0 THEN 'd41d8cd98f00b204e9800998ecf8427e' ELSE '' END AS file_md5_s,
  CASE WHEN b.asel = 0
    THEN 'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855'
    ELSE '' END AS file_sha256_s,
  CAST(CASE b.asel WHEN 0 THEN 20480 WHEN 1 THEN 512 ELSE 1024 END AS BIGINT) AS file_size,
  CAST(CASE WHEN b.asel = 0 THEN 4 END AS BIGINT) AS event_severity,
  CASE b.asel WHEN 0 THEN 'malicious' WHEN 2 THEN '2' END AS event_severity_name,
  CASE b.asel WHEN 0 THEN 'permitted' WHEN 1 THEN 'blocked'
    ELSE 'animalized' END AS event_action,
  CASE WHEN b.asel = 1 THEN 'http://mal.example/x' || b.eid_s END AS url_full,
  CASE WHEN b.asel = 1 THEN 't1059' END AS threat_technique_name,
  CASE WHEN b.asel = 1 THEN 'execution' END AS threat_tactic_name,
  CASE WHEN b.asel = 1 THEN 'known dropper ' || b.eid_s END AS rule_description,
  CAST(6 AS BIGINT) AS log_syslog_severity_code,
  CAST(13 AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.asel = 1
    THEN 'destination_ip_private,dip_private,sip_private,source_ip_private'
    ELSE 'sip_private,source_ip_private' END AS tags_s
FROM atd_turns t JOIN atd_base b USING (event_id)""",

    // aws.lb: the verbatim mega-grok shifts everything after the processing
    // times one slot left (request_bytes holds the target status, response
    // bytes the joined "recv sent" — non-numeric, null); v1 lines draw
    // _grokparsefailure from the nil-field port-list grok
    "qlb02_awslb" ->
      s"""WITH ${Transcripts.albCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.lsel = 1 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'aws' AS event_module, 'aws.lb' AS event_dataset,
  'logs-aws.lb_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.lsel = 0 THEN epoch_ms(date_trunc('second', t.ts)) + 123
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) + 123 AS event_ingested_ms,
  CASE WHEN b.lsel = 0 THEN 'http' END AS url_scheme,
  CASE WHEN b.lsel = 0 THEN 'app/my-lb/50dc6c49' || b.u5
    ELSE 'my-elb-' || b.u5 END AS cloud_instance_name,
  CASE WHEN b.lsel = 0 THEN 'app/my-lb/50dc6c49' || b.u5
    ELSE 'my-elb-' || b.u5 END AS log_source_hostname,
  '10.' || b.u5 || '.' || b.m250 || '.9' AS source_ip,
  CAST(46532 AS BIGINT) AS source_port,
  '10.' || b.u5 || '.' || b.m250 || '.10' AS destination_ip,
  CAST(CASE WHEN b.lsel = 0 THEN 8080 ELSE 80 END AS BIGINT) AS destination_port,
  CAST(NULL AS VARCHAR) AS event_duration,
  CAST(CASE WHEN b.lsel = 0 THEN 0 END AS BIGINT) AS event_severity,
  CAST(NULL AS VARCHAR) AS event_category,
  CAST(NULL AS VARCHAR) AS event_reason,
  CAST(NULL AS BIGINT) AS http_response_status_code,
  CAST(200 AS BIGINT) AS http_request_bytes,
  CAST(NULL AS BIGINT) AS http_response_bytes,
  'get' AS http_request_method,
  CASE WHEN b.lsel = 0 THEN 'http://api.example:80/p' || b.eid_s
    ELSE 'http://api.example:80/q' || b.eid_s END AS url_full,
  CASE WHEN b.lsel = 0 THEN 'api.example' END AS url_domain,
  'http/1.1' AS tls_next_protocol, 'curl/7.46.0' AS user_agent_name,
  CASE WHEN b.lsel = 1 THEN 'ecdhe-rsa-aes128' END AS tls_cipher,
  CASE WHEN b.lsel = 1 THEN 'tlsv1.2' END AS tls_version_protocol,
  CASE WHEN b.lsel = 0 THEN 'root=1-tr' || b.eid_s END AS trace_id,
  CASE WHEN b.lsel = 0 THEN 'forward' END AS rule_name,
  CASE WHEN b.lsel = 0 THEN 'https://r.example/x' || b.eid_s END AS http_request_referrer,
  'aws' AS cloud_provider,
  CASE WHEN b.lsel = 1
    THEN '_grokparsefailure,destination_ip_private,dip_private,sip_private,source_ip_private'
    ELSE 'destination_ip_private,dip_private,sip_private,source_ip_private'
  END AS tags_s
FROM alb_turns t JOIN alb_base b USING (event_id)
WHERE b.lsel <= 1""",

    // citrix.admin: boolean truthiness branch; both clock cases parse via
    // the lenient ISO8601 fallback (the sss formats never match)
    "qct01_citrixadmin" ->
      s"""WITH ${Transcripts.ctaCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'citrix' AS event_module,
  'citrix.admin' AS event_dataset,
  'logs-citrix.admin_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.csel = 2 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 327 END AS event_created_ms,
  CAST(CASE WHEN b.csel <= 1
    THEN epoch_ms(date_trunc('second', t.ts)) + 270 END AS BIGINT) AS event_start_ms,
  CAST(CASE WHEN b.csel <= 1
    THEN epoch_ms(date_trunc('second', t.ts)) + 363 END AS BIGINT) AS event_end_ms,
  'set-brokermachine ' || b.eid_s AS error_message,
  '10.' || b.u5 || '.' || b.m250 || '.70' AS source_ip,
  'aid' || b.u5 AS user_id, 'citrix studio' AS event_kind,
  'posh sdk' AS user_agent_name,
  'cadmin' || b.u5 || '@example.com' AS user_email,
  CASE WHEN b.csel = 0 THEN 'corp' END AS user_domain,
  CASE WHEN b.csel = 0 THEN 'cadmin' || b.u5 END AS user_name,
  CASE WHEN b.csel = 0 THEN 'success' ELSE 'failed' END AS event_action,
  'sip_private,source_ip_private' AS tags_s
FROM cta_turns t JOIN cta_base b USING (event_id)""",

    // tenable security center: app grok fails OS lines (default tag)
    "qtc01_tenablesc" ->
      s"""WITH ${Transcripts.tscCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.tsel = 2 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'tenable_nessus' AS event_module,
  'tenable_nessus.security_center' AS event_dataset,
  'logs-tenable_nessus.security_center_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.tsel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 15900000 + (b.event_id % 60) * 1000
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 15960000 + (b.event_id % 60) * 1000
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE WHEN b.tsel = 2 THEN 'tenable_nessus.security_center.os_logs'
    ELSE 'tenable_nessus.security_center.app' END AS event_kind,
  CASE b.tsel WHEN 0 THEN 'schost' || b.u5 WHEN 1 THEN 'nessus' || b.u5 END AS host_hostname,
  CASE b.tsel WHEN 0 THEN 'securitycenter' WHEN 1 THEN 'nessus' END AS observer_product,
  CASE b.tsel WHEN 0 THEN 'nightlycleanup' WHEN 1 THEN 'scancomplete' END AS event_action,
  CASE b.tsel WHEN 0 THEN 'message' WHEN 1 THEN 'info' END AS error_id,
  CASE b.tsel WHEN 0 THEN 'critical' WHEN 1 THEN 'normal' END AS error_code,
  CASE b.tsel WHEN 0 THEN '0' WHEN 1 THEN '2' END AS error_type,
  CASE b.tsel WHEN 0 THEN 'job finished ok ' || b.eid_s
    WHEN 1 THEN 'scan done ' || b.eid_s END AS event_outcome,
  CAST(CASE WHEN b.tsel = 2 THEN 6 ELSE 4 END AS BIGINT) AS log_syslog_severity_code,
  CAST(10 AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.tsel = 2 THEN '_grokparsefailure' ELSE '' END AS tags_s
FROM tsc_turns t JOIN tsc_base b USING (event_id)""",

    // sap cloud connector: header rows dropped; lowercased captures
    "qsc02_sapcc" ->
      s"""WITH ${Transcripts.sccCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'sap' AS event_module,
  'sap.cloud_connector' AS event_dataset,
  'logs-sap.cloud_connector_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.csel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 16020000 + (b.event_id % 60) * 1000 + 123
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 16080000 + (b.event_id % 60) * 1000 + 456
    ELSE epoch_ms(date_trunc('day', t.ts)) + 16140000 + (b.event_id % 60) * 1000 + 789
  END AS event_created_ms,
  CASE b.csel WHEN 0 THEN 'op_access_allowed' WHEN 1 THEN 'service_started'
    ELSE 'unspecified' END AS event_action,
  CASE b.csel WHEN 0 THEN 'scuser' || b.u5 WHEN 1 THEN 'svc' || b.u5 END AS user_name,
  CASE b.csel WHEN 0 THEN '/api/v' || b.eid_s WHEN 1 THEN 'scservice' END AS process_name,
  CASE WHEN b.csel <= 1 THEN 'backend' || b.u5 END AS destination_address,
  CAST(CASE WHEN b.csel = 0 THEN 8443 END AS BIGINT) AS destination_port,
  CASE WHEN b.csel = 2 THEN 'cc_cert' || b.eid_s || '.pem' END AS file_name,
  '' AS tags_s
FROM scc_turns t JOIN scc_base b USING (event_id)
WHERE b.csel <= 2""",

    // virtustream.windows: message always the literal "[tmp][message]"
    "qvw01_virtwin" ->
      s"""WITH ${Transcripts.vwCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'virtustream' AS event_module,
  'virtustream.windows' AS event_dataset,
  'logs-virtustream.windows_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  '[tmp][message]' AS message,
  CASE b.wsel WHEN 0 THEN epoch_ms(date_trunc('second', t.ts)) + 123
    WHEN 1 THEN epoch_ms(date_trunc('second', t.ts)) + 456
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CAST(CASE b.wsel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 23400000 + (b.event_id % 60) * 1000
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 23460000 + (b.event_id % 60) * 1000
    END AS BIGINT) AS event_start_ms,
  CAST(CASE WHEN b.wsel = 0
    THEN epoch_ms(date_trunc('day', t.ts)) + 23400000 + (b.event_id % 60) * 1000
    END AS BIGINT) AS event_ingested_ms,
  CASE WHEN b.wsel = 0 THEN 'corp2' END AS destination_domain,
  CASE WHEN b.wsel = 0 THEN '0x0' END AS error_code,
  CASE b.wsel WHEN 0 THEN 'winsrv' || b.u5 ELSE 'winapp' || b.u5 END AS host_name,
  CASE b.wsel WHEN 0 THEN '10.' || b.u5 || '.' || b.m250 || '.50'
    WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.51' END AS host_ip,
  CAST(CASE WHEN b.wsel = 0 THEN 514 END AS BIGINT) AS source_port,
  CASE b.wsel WHEN 0 THEN 's-1-5-18' WHEN 1 THEN 's-1-5-21-' || b.eid_s END AS user_id,
  CASE WHEN b.wsel = 0 THEN 'winuser' || b.u5 END AS user_name,
  CASE b.wsel WHEN 0 THEN 'security' WHEN 1 THEN 'info' END AS event_type,
  CAST(CASE WHEN b.wsel = 0 THEN 2 END AS BIGINT) AS event_severity,
  CASE WHEN b.wsel = 0 THEN 's-1-5-19' END AS source_user_id,
  CASE WHEN b.wsel = 0 THEN 'svcacct' || b.u5 END AS source_user_name,
  CASE b.wsel WHEN 0 THEN 'nt authority' WHEN 1 THEN 'corpdom' END AS source_user_domain,
  CASE WHEN b.wsel = 0 THEN 'svchost.exe' END AS process_name,
  CAST(CASE WHEN b.wsel = 0 THEN CAST('71' || b.u5 AS BIGINT) END AS BIGINT) AS process_pid,
  CASE WHEN b.wsel = 1 THEN '150000000' END AS event_duration,
  CASE WHEN b.wsel = 1 THEN 'service control manager' END AS source_address,
  CASE WHEN b.wsel = 1 THEN 'info' END AS log_level,
  CASE WHEN b.wsel = 1 THEN 'info' END AS event_severity_name,
  CASE WHEN b.wsel = 0 THEN 'logon' END AS event_category,
  CASE WHEN b.wsel = 0 THEN 'audit success' END AS rule_category,
  CASE WHEN b.wsel = 0 THEN 'services.exe' END AS process_parent_name,
  CASE WHEN b.wsel = 0 THEN 'microsoft-windows-security-auditing' END AS event_provider,
  CASE b.wsel WHEN 0 THEN 'winsrv' || b.u5 ELSE 'winapp' || b.u5 END AS log_source_hostname,
  CASE WHEN b.wsel = 2
    THEN '_dateparsefailure_ec,_dateparsefailure_ei,_dateparsefailure_es'
    ELSE '' END AS tags_s
FROM vw_turns t JOIN vw_base b USING (event_id)""",

    // impala: statement_type overwrites module; outcome always success;
    // database.query keeps case
    "qim01_impala" ->
      s"""WITH ${Transcripts.impCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule,
  CASE WHEN b.isel = 1 THEN 'ddl' ELSE 'query' END AS event_module,
  'hadoop.impala_audit' AS event_dataset,
  'logs-hadoop.impala_audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('day', t.ts)) + 59220000 + (b.event_id % 60) * 1000 + 975 AS event_created_ms,
  CASE WHEN b.isel = 1 THEN '10.' || b.u5 || '.' || b.m250 || '.61'
    ELSE '10.' || b.u5 || '.' || b.m250 || '.60' END AS source_ip,
  CAST(21000 AS BIGINT) AS source_port,
  'hive' || b.u5 AS user_name,
  CASE WHEN b.isel = 1 THEN 'CREATE TABLE t' || b.eid_s
    ELSE 'SELECT count(1) FROM t' || b.eid_s END AS database_query,
  CASE WHEN b.isel = 1 THEN 'failed' ELSE 'ok' END AS event_action,
  CASE WHEN b.isel = 0 THEN 'db.t' || b.eid_s END AS database_table,
  CASE WHEN b.isel = 0 THEN 'table' END AS event_type,
  CAST(NULL AS VARCHAR) AS event_kind,
  'authorization_success' AS event_outcome,
  'sip_private,source_ip_private' AS tags_s
FROM imp_turns t JOIN imp_base b USING (event_id)""",

    // o365.dlp api: array To nulls the flat email column; backwards merge
    "qdl02_o365dlpapi" ->
      s"""WITH ${Transcripts.odlCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'o365' AS event_module, 'o365.dlp' AS event_dataset,
  'logs-o365.dlp_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.dsel = 2 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 123 END AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) + 456 AS event_start_ms,
  'dlprulematch' AS event_action, 'ukey' || b.eid_s AS user_id,
  'exchange' AS observer_vendor,
  CASE WHEN b.dsel = 1 THEN NULL ELSE 'rcpt' || b.u5 || '@example.com' END AS destination_user_email,
  'sender' || b.u5 || '@example.com' AS source_user_email,
  CAST(2048 AS BIGINT) AS file_size,
  'quarterly report ' || b.eid_s AS email_subject,
  'o365_dlp' AS log_source_hostname, 'azure' AS cloud_provider,
  CASE WHEN b.dsel = 2 THEN '_dateparsefailure_ec' ELSE '' END AS tags_s
FROM odl_turns t JOIN odl_base b USING (event_id)""",

    // azure graph identity protection
    "qgi01_graphident" ->
      s"""WITH ${Transcripts.gipCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'azure' AS event_module,
  'azure.graph_identity_protection' AS event_dataset,
  'logs-azure.graph_identity_protection_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.gsel = 2 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 123 END AS event_created_ms,
  'atrisk' AS event_outcome, 'realtime' AS rule_category,
  'userpassedmfadrivenbyriskbasedpolicy' AS rule_description,
  'unfamiliarfeatures' AS event_kind,
  '203.0.113.' || CAST(b.event_id % 200 AS VARCHAR) AS client_ip,
  'redmond' AS source_geo_city,
  'upn' || b.u5 || '@example.com' AS user_email,
  'user graph ' || b.u5 AS user_name,
  'identityprotection' AS observer_product, 'azuread' AS source_as_organization_name,
  CASE WHEN b.gsel = 1 THEN 'user' ELSE 'signin' END AS event_type,
  'api_azure_identity_protection' AS log_source_hostname,
  CASE WHEN b.gsel = 2 THEN '_dateparsefailure_ec' ELSE '' END AS tags_s
FROM gip_turns t JOIN gip_base b USING (event_id)""",

    // scorecard: public scan ips carry the geo-lookup-failure tag set
    "qss01_scorecard" ->
      s"""WITH ${Transcripts.sscCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'security_scorecard' AS event_module,
  'security_scorecard.events' AS event_dataset,
  'logs-security_scorecard.events_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(CASE WHEN b.ssel = 0
    THEN epoch_ms(date_trunc('second', t.ts)) + 111 END AS BIGINT) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) + 222 AS event_end_ms,
  'https' AS network_protocol,
  'https://bad.example/p' || b.eid_s AS url_full,
  'bad.example' AS host_domain, 'scorecard-bot/1.0' AS user_agent_original,
  '203.0.113.' || CAST(b.event_id % 200 AS VARCHAR) AS source_ip,
  'active' AS service_state, 'https://ref.example/r1' AS rule_reference,
  'malware observed ' || b.eid_s AS rule_description,
  'tcp' AS network_transport, CAST(8443 AS BIGINT) AS destination_port,
  '198.51.100.9' AS destination_ip, 'ssc.issues' AS event_kind,
  'api_security_scorecard.events' AS log_source_hostname,
  CASE WHEN b.ssel = 1
    THEN '_dateparsefailure_es,_geoip_lookup_failure,destination_ip_public,dip_public,sip_public,source_ip_public'
    ELSE '_geoip_lookup_failure,destination_ip_public,dip_public,sip_public,source_ip_public'
  END AS tags_s
FROM ssc_turns t JOIN ssc_base b USING (event_id)""",

    // ad users: undated list index override; literal sprintf fallbacks
    "qad01_adusers" ->
      s"""WITH ${Transcripts.aduCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.asel = 1 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'active_directory' AS event_module,
  'active_directory.users' AS event_dataset,
  CASE WHEN b.asel = 1 THEN 'list_ad_users_%' || chr(123) || '[tmp][sub_domain]' || chr(125)
    ELSE 'list_ad_users_corp' END AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(CASE WHEN b.asel = 0
    THEN epoch_ms(date_trunc('second', t.ts)) END AS BIGINT) AS event_ingested_ms,
  '%' || chr(123) || '[agent][name]' || chr(125) AS log_source_hostname,
  '/scripts/ad_users.ps1' AS file_path,
  'Ad User ' || b.u5 AS user_full_name,
  'aduser' || b.u5 AS user_name,
  's-1-5-21-' || b.eid_s AS user_id,
  CASE WHEN b.asel = 0 THEN 'corp.example.com' END AS user_domain,
  'aduser' || b.u5 || '@example.com' AS user_email,
  'domainusers' AS user_roles,
  CASE WHEN b.asel = 1 THEN '_dateparsefailure_ei,_grokparsefailure' ELSE '' END AS tags_s
FROM adu_turns t JOIN adu_base b USING (event_id)""",

    // oci.cloudguard: embedded-dict branch vs flat branch
    "qoc01_cloudguard" ->
      s"""WITH ${Transcripts.ocgCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'oci' AS event_module,
  'oci.cloudguard' AS event_dataset,
  'logs-oci.cloudguard_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  'ocid1.tenancy.prod' || b.u5 AS log_source_hostname,
  CASE WHEN b.csel = 0 THEN 'secops' END AS event_provider,
  CASE WHEN b.csel = 0 THEN 'us-ashburn-1' END AS cloud_region,
  CASE WHEN b.csel = 0 THEN 'public access' END AS event_reason,
  CASE WHEN b.csel = 0 THEN 'bucket' END AS dns_answers_type,
  CASE b.csel WHEN 0 THEN 'bucket is public' WHEN 1 THEN 'scan complete ok'
    ELSE 'scan pending' END AS rule_description,
  CASE WHEN b.csel = 0 THEN 'public_bucket_' || b.eid_s END AS rule_category,
  CASE WHEN b.csel = 0 THEN 'open' END AS service_state,
  CAST(CASE b.csel WHEN 0 THEN epoch_ms(date_trunc('second', t.ts)) + 111
    WHEN 1 THEN epoch_ms(date_trunc('second', t.ts)) + 333 END AS BIGINT) AS event_start_ms,
  CAST(CASE WHEN b.csel = 0
    THEN epoch_ms(date_trunc('second', t.ts)) + 222 END AS BIGINT) AS event_end_ms,
  CAST(CASE WHEN b.csel >= 1
    THEN epoch_ms(date_trunc('second', t.ts)) + 555 END AS BIGINT) AS event_ingested_ms,
  CASE WHEN b.csel = 0 THEN 'config' ELSE 'problemdetected' END AS event_type,
  CASE WHEN b.csel = 0 THEN 'make private' END AS event_recommendation,
  CASE WHEN b.csel >= 1 THEN 'lg' || b.u5 END AS file_gid,
  CASE b.csel WHEN 1 THEN 'r7' || b.u5 WHEN 2 THEN 'r8' || b.u5 END AS rule_id,
  'oci' AS cloud_provider,
  CASE WHEN b.csel = 2 THEN '_dateparsefailure_es' ELSE '' END AS tags_s
FROM ocg_turns t JOIN ocg_base b USING (event_id)""",

    // oci.object: flat renames; bad startTime variant drops the field
    "qoc02_ociobject" ->
      s"""WITH ${Transcripts.oobCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'oci' AS event_module,
  'oci.object' AS event_dataset,
  'logs-oci.object_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  'ocid1.tenant.t' || b.u5 AS log_source_hostname,
  'com.oraclecloud.objectstorage.getobject' AS event_type,
  'objectstorage' AS event_provider, 'natv' AS event_category,
  '203.0.113.' || CAST(b.event_id % 200 AS VARCHAR) AS client_ip,
  epoch_ms(date_trunc('second', t.ts)) + 444 AS event_end_ms,
  CAST(CASE WHEN b.osel = 0
    THEN epoch_ms(date_trunc('second', t.ts)) + 111 END AS BIGINT) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) + 555 AS event_ingested_ms,
  'us-phoenix-1' AS cloud_region, 'notfound' AS error_code,
  'getobject failed ' || b.eid_s AS event_action,
  'get' AS http_request_method,
  '/n/bkt/o/file' || b.eid_s || '.txt' AS url_path,
  CAST(404 AS BIGINT) AS http_response_status_code,
  'oci-sdk/2.1' AS user_agent_original,
  'prodtenant' AS cloud_account_name,
  CASE WHEN b.osel = 1 THEN '_dateparsefailure_es' ELSE '' END AS tags_s
FROM oob_turns t JOIN oob_base b USING (event_id)""",

    // jamf: dotted key rename; unix clock; array folds are unobservable
    // (string columns null on arrays)
    "qjp01_jamf" ->
      s"""WITH ${Transcripts.jmfCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'jamf' AS event_module,
  'jamf.endpoint_protection' AS event_dataset,
  'logs-jamf.endpoint_protection_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.jsel = 1 THEN epoch_ms(t.ts)
    ELSE (1704067200 + (b.event_id % 1000000)) * 1000 END AS event_created_ms,
  'api_jamf' AS log_source_hostname,
  '10.' || b.u5 || '.' || b.m250 || '.30' AS host_ip,
  'c02' || b.eid_s AS host_serial,
  'macbook-' || b.u5 AS host_name,
  '/tmp/mal' || b.eid_s AS file_path,
  'Threat Prevented ' || b.eid_s AS event_description,
  'gpthreatmatchexecevent' AS event_type, 'alert' AS event_provider,
  'jamf' AS cloud_provider,
  CASE WHEN b.jsel = 1 THEN '_dateparsefailure_ec' ELSE '' END AS tags_s
FROM jmf_turns t JOIN jmf_base b USING (event_id)""",

    // sap.btp: triple-encoded record; original md5 over the raw text
    "qsb01_sapbtp" ->
      s"""WITH ${Transcripts.btpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'sap' AS event_module, 'sap.btp' AS event_dataset,
  'logs-sap.btp_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.bsel = 1 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 123 END AS event_created_ms,
  'btptenant' || b.u5 AS log_source_hostname,
  'alert-notif' AS service_id, 'audit.security-events' AS event_category,
  'mu' || b.eid_s AS rule_uuid, 'org' || b.u5 AS cloud_project_id,
  'sp' || b.u5 AS cloud_instance_id, 'btptenant' || b.u5 AS cloud_account_id,
  'alert' AS event_type,
  '10.' || b.u5 || '.' || b.m250 || '.40' AS source_ip,
  'btpuser' || b.u5 AS user_name,
  CASE WHEN b.bsel = 0 THEN 'critical alert' END AS email_subject,
  CASE WHEN b.bsel = 0 THEN 'u' || b.u5 || '@example.com' END AS user_email,
  CASE WHEN b.bsel = 0 THEN 'auth' || b.eid_s END AS event_code,
  md5(t.text) AS event_original_md5,
  CASE WHEN b.bsel = 1 THEN '_dateparsefailure_ec,sip_private,source_ip_private'
    ELSE 'sip_private,source_ip_private' END AS tags_s
FROM btp_turns t JOIN btp_base b USING (event_id)""",

    // bomgar: every event carries the _es tag (unix header clock string),
    // the misp hostname hit, and the private-source tags
    "qbg01_bomgar" ->
      s"""WITH ${Transcripts.bgrCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'beyondtrust' AS event_module,
  'beyondtrust.secure_remote_mngt' AS event_dataset,
  'logs-beyondtrust.secure_remote_mngt_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.bsel = 2 THEN epoch_ms(t.ts)
    ELSE (1704067200 + (b.event_id % 1000000)) * 1000 END AS event_created_ms,
  CAST(NULL AS BIGINT) AS event_start_ms,
  'rep-console' AS destination_address,
  'us' AS host_geo_country_iso_code,
  CASE b.bsel WHEN 0 THEN 'login' WHEN 1 THEN 'logout' ELSE 'session_end' END AS event_action,
  CASE b.bsel WHEN 0 THEN 'ok' WHEN 1 THEN 'done' ELSE 'timeout' END AS rule_ruleset,
  'support' AS host_hostname,
  CASE WHEN b.bsel = 2 THEN 'failure' ELSE 'success' END AS event_outcome,
  'alice' || b.u5 AS user_name,
  '10.' || b.u5 || '.' || b.m250 || '.13' AS source_ip,
  CASE b.bsel WHEN 0 THEN 'audit/authentication success'
    WHEN 1 THEN 'audit/access revoked' ELSE 'others' END AS rule_category,
  'support.example' AS log_source_hostname,
  CAST(6 AS BIGINT) AS log_syslog_severity_code,
  CAST(16 AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.bsel = 2
    THEN '_dateparsefailure_ec,_dateparsefailure_es,log_enriched_by_misp,sip_private,source_ip_private'
    ELSE '_dateparsefailure_es,log_enriched_by_misp,sip_private,source_ip_private'
  END AS tags_s
FROM bgr_turns t JOIN bgr_base b USING (event_id)""",

    // tufin: RULE 5's shifted tokens put the clock into server.host.name
    // (the USER:INFO prefix eats the month slot); rule.category always null
    "qtf01_tufin" ->
      s"""WITH ${Transcripts.tufCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.tsel WHEN 0 THEN 'rule 1' WHEN 1 THEN 'rule 2,rule 3'
    WHEN 2 THEN 'rule 2' WHEN 3 THEN 'rule 4' ELSE 'rule 5' END AS parse_rule,
  'tufin' AS event_module, 'tufin.fw_acl_manager' AS event_dataset,
  'logs-tufin.fw_acl_manager_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.tsel <= 2 THEN 'fw-domain' || b.u5 END AS destination_domain,
  CASE b.tsel WHEN 1 THEN 'tadmin' || b.u5 WHEN 2 THEN 'ops' || b.u5 END AS user_id,
  -- RULE 4 captures [server][address] and the branch's own remove list
  -- then deletes the whole top-level "server" subtree - always null
  CAST(NULL AS VARCHAR) AS server_address,
  CASE WHEN b.tsel = 3 THEN 'fw-edge' || b.u5 END AS observer_name,
  CASE WHEN b.tsel = 3 THEN '10.' || b.u5 || '.' || b.m250 || '.2' END AS source_ip,
  CASE WHEN b.tsel = 3 THEN 'dsthost' || b.u5 END AS destination_host_name,
  CASE WHEN b.tsel = 3 THEN '10.' || b.u5 || '.' || b.m250 || '.3' END AS destination_ip,
  CAST(CASE WHEN b.tsel = 3 THEN 443 END AS BIGINT) AS destination_port,
  CASE WHEN b.tsel = 4 THEN '04:23:01' END AS server_host_name,
  CAST(NULL AS VARCHAR) AS rule_category,
  CAST(CASE WHEN b.tsel = 4 THEN 6 ELSE 5 END AS BIGINT) AS log_syslog_severity_code,
  CAST(3 AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.tsel = 3
    THEN 'destination_ip_private,dip_private,sip_private,source_ip_private'
    ELSE '' END AS tags_s
FROM tuf_turns t JOIN tuf_base b USING (event_id)""",

    // hp.nnm: the line-anchored header grok drops the \n\t block, so
    // dissect_2 fails and the kv branches stay empty on every event
    "qhp01_hpnnm" ->
      s"""WITH ${Transcripts.hpnCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'hp' AS event_module,
  'hp.nnm_audit' AS event_dataset,
  'logs-hp.nnm_audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CAST(NULL AS VARCHAR) AS event_action,
  CAST(NULL AS VARCHAR) AS client_user_name,
  CAST(NULL AS VARCHAR) AS client_user_roles,
  CAST(NULL AS VARCHAR) AS client_address,
  CAST(NULL AS BIGINT) AS client_port,
  CAST(NULL AS VARCHAR) AS destination_address,
  CAST(NULL AS BIGINT) AS destination_port,
  CAST(6 AS BIGINT) AS log_syslog_severity_code,
  CAST(10 AS BIGINT) AS log_syslog_facility_code,
  '_dateparsefailure,_dateparsefailure_ec,dissect_2' AS tags_s
FROM hpn_turns t JOIN hpn_base b USING (event_id)""",

    // jira: Container dissect vs session groks; action dash gsub;
    // "/" file and url.path drops; event.original keeps case
    "qji01_jira" ->
      s"""WITH ${Transcripts.jirCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'atlassian_jira' AS event_module,
  'jira' AS event_dataset,
  'logs-jira_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('second', t.ts)) + 123 AS event_created_ms,
  'jira-node-' || b.u5 AS host_hostname,
  'jira-node-' || b.u5 AS log_source_hostname,
  '/var/atlassian/jira/access.log' AS log_file_path,
  CASE b.jsel
    WHEN 0 THEN '2024-01-15 10:00:00 JiraTaskExecThread-' || b.u5
      || ' Container was destroyed for ' || chr(39) || 'jadmin' || b.u5 || chr(39)
    WHEN 1 THEN '2024-01-15 10:00:01,500+0000 http-exec-' || b.u5
      || ' session-destroyed [c0ffee' || b.eid_s || '] destroyed for '
      || chr(39) || 'juser' || b.u5 || chr(39)
    WHEN 2 THEN '2024-01-15 10:00:03,000+0000 exec-' || b.u5 || ' juser' || b.u5
      || ' created /secure/att' || b.eid_s || '.jsp 10.' || b.u5 || '.' || b.m250
      || '.9,10.0.0.10 /browse issue-created [id' || b.eid_s || ']'
    WHEN 3 THEN '2024-01-15 10:00:05,000+0000 exec-' || b.u5 || ' juser' || b.u5
      || ' created / 10.' || b.u5 || '.' || b.m250
      || '.9,10.0.0.10 / session-created [sid' || b.eid_s || ']'
    ELSE '2024-01-15 10:00:04,000+0000 exec-' || b.u5
      || ' user-created [id' || b.eid_s || ']'
  END AS event_original,
  CASE b.jsel WHEN 0 THEN 'jirataskexecthread-' || b.u5
    WHEN 1 THEN 'http-exec-' || b.u5 ELSE 'exec-' || b.u5 END AS process_thread_name,
  CASE b.jsel WHEN 0 THEN 'container destroyed'
    WHEN 1 THEN 'sessiondestroyed destroyed' WHEN 2 THEN 'issuecreated'
    WHEN 3 THEN 'sessioncreated' ELSE 'usercreated' END AS event_action,
  CASE b.jsel WHEN 0 THEN 'jadmin' || b.u5 WHEN 4 THEN NULL
    ELSE 'juser' || b.u5 END AS user_name,
  CASE WHEN b.jsel = 2 THEN '/secure/att' || b.eid_s || '.jsp' END AS file_name,
  CASE WHEN b.jsel IN (2, 3)
    THEN '10.' || b.u5 || '.' || b.m250 || '.9' END AS source_ip,
  CASE WHEN b.jsel IN (2, 3) THEN '10.0.0.10' END AS network_forwarded_ip,
  CASE WHEN b.jsel = 2 THEN '/browse' END AS url_path,
  CASE WHEN b.jsel IN (2, 3) THEN 'sip_private,source_ip_private' ELSE '' END AS tags_s
FROM jir_turns t JOIN jir_base b USING (event_id)""",

    // jira.audit: hostname copied into both ip fields, ip- gsub repairs
    // host.ip only; Username fallback to affectedObjects name
    "qji02_jiraaudit" ->
      s"""WITH ${Transcripts.jiaCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'jira' AS event_module,
  'jira.audit' AS event_dataset,
  'logs-jira.audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.asel = 2 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 123 END AS event_created_ms,
  'ip-10-0-' || b.u5 || '-9' AS log_source_hostname,
  'ip-10-0-' || b.u5 || '-9' AS log_source_ip,
  '10.0.' || b.u5 || '.9' AS host_ip,
  '/var/atlassian/jira/audit.log' AS log_file_path,
  '100' || b.u5 AS user_id,
  'user created' AS event_action, 'user management' AS event_category,
  'https://jira.example' AS url_full,
  CASE WHEN b.asel = 1 THEN NULL ELSE 'u' || b.u5 || '@example.com' END AS user_email,
  CASE WHEN b.asel = 1 THEN NULL ELSE 'User ' || b.u5 END AS user_full_name,
  CASE WHEN b.asel = 1 THEN 'affuser' || b.u5 ELSE 'juser' || b.u5 END AS user_name,
  CASE WHEN b.asel = 2 THEN '_dateparsefailure_ec' ELSE '' END AS tags_s
FROM jia_turns t JOIN jia_base b USING (event_id)""",

    // apache envelope: module never stamped; dataset from the envelope type;
    // string ingested date always drawn off by the e02 walk (_ei tag)
    "qah01_apache" ->
      s"""WITH ${Transcripts.apaCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.asel = 4 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, CAST(NULL AS VARCHAR) AS event_module,
  CASE WHEN b.asel = 4 THEN NULL ELSE 'apache' END AS event_dataset,
  'logs-apache_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.asel = 4 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + 123 END AS event_created_ms,
  CASE WHEN b.asel <= 1 THEN 'apache-access'
    WHEN b.asel = 4 THEN NULL ELSE 'apache-error' END AS event_kind,
  CASE WHEN b.asel < 4 THEN 'web' || b.u5 END AS host_name,
  CASE WHEN b.asel < 4 THEN '6' END AS log_syslog_priority,
  CAST(CASE WHEN b.asel < 4 THEN 23 END AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.asel < 4 THEN 'jdoe' || b.u5 END AS host_user_name,
  CASE b.asel WHEN 0 THEN 'proxy:error' WHEN 1 THEN 'proxy:error'
    WHEN 2 THEN 'authz_core' WHEN 3 THEN 'mpm_prefork' END AS log_logger,
  CASE WHEN b.asel < 4 THEN 'web' || b.u5 || '.internal' END AS log_source_hostname,
  CASE b.asel WHEN 0 THEN '127.0.0.1' WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.5'
    WHEN 2 THEN '127.0.0.1:52100' WHEN 3 THEN '10.' || b.u5 || '.' || b.m250 || '.6' END AS client_nat_ip,
  CAST(CASE b.asel WHEN 0 THEN 8443 WHEN 1 THEN 443 END AS BIGINT) AS server_port,
  CASE b.asel WHEN 0 THEN 'get' WHEN 1 THEN 'post' END AS http_request_method,
  CASE b.asel WHEN 0 THEN '/app/page' || b.eid_s WHEN 1 THEN '/submit' || b.eid_s END AS url_full,
  CASE WHEN b.asel = 0 THEN 'q=1' END AS url_query,
  CASE WHEN b.asel <= 1 THEN 'http/1.1' END AS network_protocol,
  CAST(CASE b.asel WHEN 0 THEN 200 WHEN 1 THEN 302 WHEN 2 THEN 403 WHEN 3 THEN 0 END AS BIGINT) AS http_response_status_code,
  CAST(CASE b.asel WHEN 0 THEN 1234 WHEN 1 THEN 44 END AS BIGINT) AS client_bytes,
  CAST(CASE b.asel WHEN 0 THEN 77 WHEN 1 THEN 12 END AS BIGINT) AS process_uptime,
  CASE WHEN b.asel <= 1 THEN 'rd' END AS dns_header_flags,
  CASE b.asel WHEN 0 THEN 'mozilla/5.0' WHEN 1 THEN 'curl/8.0' END AS user_agent_name,
  CASE WHEN b.asel = 0 THEN '10.' || b.u5 || '.' || b.m250 || '.9' END AS network_forwarded_ip,
  CASE b.asel WHEN 2 THEN 'error' WHEN 3 THEN 'warn' END AS log_level,
  CAST(CASE b.asel WHEN 2 THEN CAST('81' || b.u5 AS BIGINT)
    WHEN 3 THEN CAST('82' || b.u5 AS BIGINT) END AS BIGINT) AS process_pid,
  CASE b.asel WHEN 2 THEN 'mod_authz_core.c' WHEN 3 THEN 'prefork.c' END AS log_origin_file_name,
  CASE WHEN b.asel = 2 THEN 'secret' || b.eid_s || '.html' END AS file_name,
  CASE WHEN b.asel = 2 THEN '/var/www/secret' || b.eid_s || '.html' END AS file_path,
  CASE WHEN b.asel = 2 THEN 'because of require directives' END AS event_reason,
  CASE WHEN b.asel = 4 THEN '_dissectfailure' ELSE '_dateparsefailure_ei' END AS tags_s
FROM apa_turns t JOIN apa_base b USING (event_id)""",

    // apache.audit: the rule captures are top-level non-ECS fields; only
    // error.type and the rule tag are visible
    "qae01_apacheaudit" ->
      s"""WITH ${Transcripts.apeCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE WHEN b.esel = 5 THEN 'not parsed' ELSE 'rule ' || CAST(b.esel + 1 AS VARCHAR) END AS parse_rule,
  'apache' AS event_module, 'apache.audit' AS event_dataset,
  'logs-apache.audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  'core:error' AS log_level,
  '10.' || b.u5 || '.' || b.m250 || '.7' AS source_address,
  '10.' || b.u5 || '.' || b.m250 || '.7' AS source_ip,
  CASE b.esel WHEN 0 THEN 'invalid uri' WHEN 1 THEN 'invalid method'
    WHEN 2 THEN 'invalid request' WHEN 3 THEN 'invalid header'
    WHEN 4 THEN 'invalid request' ELSE 'other error' END AS error_type,
  'sip_private,source_ip_private' AS tags_s
FROM ape_turns t JOIN ape_base b USING (event_id)""",

    // mwg proxy: user_agent.original and event.original keep case; Entry
    // overwrites Source ID on [source][ip]
    "qmw01_mwgproxy" ->
      s"""WITH ${Transcripts.mwgCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'mwg' AS event_module,
  'mwg.proxy.audit' AS event_dataset,
  'logs-mwg.proxy.audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.msel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 70500000 + (b.event_id % 60) * 1000 + 533
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 70560000 + (b.event_id % 60) * 1000 + 200
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE b.msel WHEN 0 THEN 'jdoe' || b.u5 WHEN 1 THEN 'msmith' || b.u5
    ELSE 'svc' || b.u5 END AS source_user_name,
  CASE b.msel WHEN 0 THEN 'block' WHEN 1 THEN 'allow' ELSE 'audit' END AS event_action,
  CASE b.msel WHEN 0 THEN 'authfail' WHEN 1 THEN 'urlfilter' END AS process_name,
  CASE WHEN b.msel <= 1 THEN 'proxy' END AS event_category,
  CASE b.msel WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.12'
    ELSE '10.' || b.u5 || '.' || b.m250 || '.11' END AS source_ip,
  CASE b.msel WHEN 0 THEN 'admins' WHEN 1 THEN 'users' END AS source_user_group_name,
  CASE WHEN b.msel = 0 THEN 'Mozilla/5.0 (X11)' END AS user_agent_original,
  CASE WHEN b.msel <= 1 THEN 'wks' || b.u5 END AS source_address,
  CASE WHEN b.msel = 0 THEN '/opt/mwg' END AS file_path,
  CASE b.msel WHEN 0 THEN 'Blocked Request ' || b.eid_s
    WHEN 1 THEN 'Allowed ' || b.eid_s ELSE 'Audit Entry ' || b.eid_s END AS event_original,
  'mwg-' || b.u5 AS observer_hostname,
  'mwg-' || b.u5 AS log_source_hostname,
  CASE WHEN b.msel = 2 THEN '_dateparsefailure_ec,sip_private,source_ip_private'
    ELSE 'sip_private,source_ip_private' END AS tags_s
FROM mwg_turns t JOIN mwg_base b USING (event_id)""",

    // iis flat file: bracket csv columns resolved at root so source.ip/
    // port/client.ip keep raw values; "-" placeholders scrubbed to null
    "qis01_iisflat" ->
      s"""WITH ${Transcripts.iifCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'iis' AS event_module, 'iis' AS event_dataset,
  'logs-iis_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('day', t.ts)) + 15660000 + (b.event_id % 60) * 1000 AS event_created_ms,
  'iishost' || b.u5 AS log_source_hostname,
  'iishost' || b.u5 AS destination_address,
  CASE WHEN b.isel = 1 THEN '10.' || b.u5 || '.' || b.m250 || '.21' ELSE '10.1.1.1' END AS source_ip,
  CAST(443 AS BIGINT) AS source_port,
  '10.2.2.2' AS client_ip,
  CASE WHEN b.isel = 1 THEN '10.1.1.1' END AS observer_ip,
  'get' AS http_request_method,
  '/index' || b.eid_s || '.aspx' AS url_path,
  CASE WHEN b.isel = 2 THEN NULL ELSE 'q=' || b.eid_s END AS url_query,
  CASE WHEN b.isel = 2 THEN NULL ELSE 'domuser' || b.u5 END AS user_name,
  'http/2' AS tls_next_protocol,
  'mozilla/5.0+(windows)' AS user_agent_version,
  'http://ref.example/p' AS http_request_referrer,
  CAST(CASE WHEN b.isel = 2 THEN 404 ELSE 200 END AS BIGINT) AS http_response_status_code,
  CAST('51' || b.u5 AS BIGINT) AS http_response_bytes,
  CAST('42' || b.u5 AS BIGINT) AS http_request_bytes,
  '187' AS event_duration,
  'sip_private,source_ip_private' AS tags_s
FROM iif_turns t JOIN iif_base b USING (event_id)""",

    // ubiquiti bridge: Ruby line-anchored header grok keeps only the FIRST
    // line of the \n\t-folded init frame in actual_msg
    "qub01_ubiqbridge" ->
      s"""WITH ${Transcripts.ubbCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule, 'ubiquiti' AS event_module,
  'ubiquiti.wireless.bridge.session' AS event_dataset,
  'logs-ubiquiti.wireless.bridge.session_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE b.bsel
    WHEN 0 THEN 'starting pid 14' || b.u5 || ', tty ' || chr(39) || '/dev/ttys0' || chr(39)
    WHEN 1 THEN 'ath0 ap peer 00:1b:44:7a:aa:0' || b.u5 || ' associated'
    WHEN 2 THEN 'bad password attempt for ' || chr(39) || 'ubnt' || b.eid_s || chr(39)
      || ' from 10.' || b.u5 || '.' || b.m250 || '.8:52814'
    WHEN 3 THEN 'child connection from 10.' || b.u5 || '.' || b.m250 || '.3:40012'
    ELSE 'login attempt for nonexistent user from 10.' || b.u5 || '.' || b.m250 || '.2:41999'
  END AS rule_description,
  CASE b.bsel WHEN 2 THEN 'dropbear[81' || b.u5 || ']'
    WHEN 3 THEN 'dropbear[9' || b.u5 || ']'
    WHEN 4 THEN 'dropbear[7' || b.u5 || ']' END AS observer_type,
  CASE WHEN b.bsel = 2 THEN 'ubnt' || b.eid_s END AS user_name,
  CASE b.bsel WHEN 2 THEN '10.' || b.u5 || '.' || b.m250 || '.8'
    WHEN 3 THEN '10.' || b.u5 || '.' || b.m250 || '.3'
    WHEN 4 THEN '10.' || b.u5 || '.' || b.m250 || '.2' END AS source_ip,
  CAST(CASE b.bsel WHEN 2 THEN 52814 WHEN 3 THEN 40012 WHEN 4 THEN 41999 END AS BIGINT) AS source_port,
  CAST(6 AS BIGINT) AS log_syslog_severity_code,
  CAST(CASE WHEN b.bsel IN (0, 1) THEN 3 ELSE 4 END AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.bsel IN (2, 3, 4) THEN 'sip_private,source_ip_private' ELSE '' END AS tags_s
FROM ubb_turns t JOIN ubb_base b USING (event_id)""",

    // ubiquiti controller: envelope renames; host.name copied then renamed
    // away to log.source.hostname; event.description keeps case
    "qub02_ubiqctrl" ->
      s"""WITH ${Transcripts.ubcCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.csel = 2 THEN 0 ELSE 1 END AS parse_ok_i,
  'not parsed' AS parse_rule, 'ubiquiti' AS event_module,
  'ubiquiti.controller' AS event_dataset,
  'logs-ubiquiti.controller_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.csel = 2 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('day', t.ts)) + 15480000 + (b.event_id % 60) * 1000 + 123
  END AS event_created_ms,
  'ubiquiti' AS event_provider, 'controller.sess' AS event_category,
  'unifi controller' AS observer_product, 'controller' AS observer_type,
  'ubiquiti' AS observer_vendor, 'netops' AS organization_name,
  'ctrl-' || b.u5 AS host_hostname, CAST(NULL AS VARCHAR) AS host_name,
  'ctrl-' || b.u5 AS log_source_hostname,
  CAST(b.event_id % 5000 AS BIGINT) AS log_offset,
  '/var/log/unifi/server.log' AS log_file_path, '1.8.0' AS ecs_version,
  CASE b.csel
    WHEN 0 THEN '2024.01.' || b.dd || '-04:18:' || b.ss2 || '.123 [svc-mgr] INFO: radius profile updated ' || b.eid_s
    WHEN 1 THEN '2024.01.' || b.dd || '-04:18:' || b.ss2 || '.123 [auth] WARN: penalizing Admin' || b.u5 || ' after 3 unsuccessful login attempts'
    ELSE 'system heartbeat ' || b.eid_s
  END AS event_description,
  CASE b.csel WHEN 0 THEN 'svc-mgr' WHEN 1 THEN 'auth' END AS service_name,
  CASE b.csel WHEN 0 THEN 'info' WHEN 1 THEN 'warn' END AS event_type,
  CASE b.csel WHEN 0 THEN 'radius profile updated ' || b.eid_s
    WHEN 1 THEN 'penalizing admin' || b.u5 || ' after 3 unsuccessful login attempts' END AS rule_description,
  CASE WHEN b.csel = 1 THEN 'admin' || b.u5 END AS user_name,
  CAST(5 AS BIGINT) AS log_syslog_severity_code,
  CAST(1 AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.csel = 2 THEN '_dissectfailure' ELSE '' END AS tags_s
FROM ubc_turns t JOIN ubc_base b USING (event_id)""",

    // cisco wireless ap: parse_rule array join on the clock refinements;
    // colon-less RULE 2 always fails and its sprintf-literal date tags _ec
    "qcw01_ciscoap" ->
      s"""WITH ${Transcripts.cwaCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.wsel = 3 THEN 0 ELSE 1 END AS parse_ok_i,
  CASE b.wsel WHEN 0 THEN 'rule 1' WHEN 1 THEN 'rule 3,rule 4'
    WHEN 2 THEN 'rule 3,rule 5' ELSE 'rule 2' END AS parse_rule,
  'cisco' AS event_module, 'cisco.wireless.access_point' AS event_dataset,
  'logs-cisco.wireless.access_point_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.wsel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 81913900
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 81914100
    WHEN 2 THEN epoch_ms(date_trunc('day', t.ts)) + 81915000
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE b.wsel WHEN 0 THEN 'validate' WHEN 1 THEN 'auth' WHEN 2 THEN 'join' END AS rule_name,
  CASE WHEN b.wsel = 0 THEN 'payload ' || b.eid_s END AS rule_description,
  CASE b.wsel WHEN 1 THEN 'client rejected ' || b.eid_s
    WHEN 2 THEN 'ap joined ' || b.eid_s END AS event_action,
  CAST(5 AS BIGINT) AS log_syslog_severity_code,
  CAST(CASE WHEN b.wsel = 3 THEN 23 ELSE 1 END AS BIGINT) AS log_syslog_facility_code,
  CASE WHEN b.wsel = 3 THEN '_dateparsefailure_ec,_dissectfailure' ELSE '' END AS tags_s
FROM cwa_turns t JOIN cwa_base b USING (event_id)""",

    // cisco waas: lowercased rest_msg captures; rule-1 service.type
    // overwrite; main-dissect failure cascades into _dissectfailure_other
    "qcs01_waas" ->
      s"""WITH ${Transcripts.cwsCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.asel = 3 THEN 0 ELSE 1 END AS parse_ok_i,
  CASE b.asel WHEN 0 THEN 'rule 1' WHEN 1 THEN 'rule 2' ELSE 'other' END AS parse_rule,
  'cisco' AS event_module, 'cisco.waas' AS event_dataset,
  'logs-cisco.waas_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.asel WHEN 0 THEN epoch_ms(date_trunc('day', t.ts)) + 55980000 + (b.event_id % 60) * 1000
    WHEN 1 THEN epoch_ms(date_trunc('day', t.ts)) + 56040000 + (b.event_id % 60) * 1000
    WHEN 2 THEN epoch_ms(date_trunc('day', t.ts)) + 56100000 + (b.event_id % 60) * 1000
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE b.asel WHEN 0 THEN 'pam_unix' WHEN 1 THEN 'tcpproxy[4' || b.u5 || ']'
    WHEN 2 THEN 'tcpproxy[5' || b.u5 || ']' END AS service_type,
  CASE b.asel WHEN 0 THEN '60' || b.u5 WHEN 1 THEN '70' || b.u5
    WHEN 2 THEN '71' || b.u5 END AS event_code,
  CASE WHEN b.asel = 0 THEN 'authentication failure' END AS event_action,
  CASE WHEN b.asel = 0 THEN 'admin' || b.eid_s END AS user_name,
  CASE WHEN b.asel = 0 THEN '0' END AS user_id,
  CASE b.asel WHEN 0 THEN '10.' || b.u5 || '.' || b.m250 || '.2'
    WHEN 1 THEN '10.' || b.u5 || '.' || b.m250 || '.3'
    WHEN 2 THEN '10.' || b.u5 || '.' || b.m250 || '.4' END AS source_ip,
  CAST(CASE b.asel WHEN 1 THEN 5000 WHEN 2 THEN 6000 END AS BIGINT) AS source_port,
  CASE b.asel WHEN 1 THEN '10.9.9.9' WHEN 2 THEN '10.8.8.8' END AS destination_ip,
  CAST(CASE b.asel WHEN 1 THEN 443 WHEN 2 THEN 80 END AS BIGINT) AS destination_port,
  CASE b.asel WHEN 1 THEN 'tcp packet flags are incorrect seq ' || b.eid_s
    WHEN 2 THEN 'connection reset by peer ' || b.eid_s END AS rule_description,
  CAST(6 AS BIGINT) AS log_syslog_severity_code,
  CAST(CASE WHEN b.asel = 3 THEN 23 ELSE 10 END AS BIGINT) AS log_syslog_facility_code,
  CASE b.asel WHEN 0 THEN 'sip_private,source_ip_private'
    WHEN 3 THEN '_dissectfailure,_dissectfailure_other'
    ELSE 'destination_ip_private,dip_private,sip_private,source_ip_private' END AS tags_s
FROM cws_turns t JOIN cws_base b USING (event_id)""",

    // riverbed.opnetreport: RULE 2's session token in event.start draws the
    // enrichment-stage _dateparsefailure_es; event.original keeps case
    "qro01_opnet" ->
      s"""WITH ${Transcripts.ropCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule ' || CAST(b.osel + 1 AS VARCHAR) AS parse_rule,
  'cisco' AS event_module, 'cisco.riverbed.opnetreport' AS event_dataset,
  'logs-cisco.riverbed.opnetreport_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE b.osel WHEN 1 THEN 'info' WHEN 2 THEN 'warn' WHEN 3 THEN 'warn'
    WHEN 4 THEN 'error' END AS log_level,
  CASE b.osel WHEN 0 THEN 'Report agent heartbeat OK ' || b.eid_s
    WHEN 2 THEN 'Maintenance window started ' || b.eid_s
    WHEN 3 THEN 'No appenders found for logger ' || b.eid_s END AS event_original,
  CASE WHEN b.osel = 4 THEN '/opt/reports/run' || b.eid_s || '.csv' END AS file_path,
  CASE WHEN b.osel = 1 THEN '_dateparsefailure_es' ELSE '' END AS tags_s
FROM rop_turns t JOIN rop_base b USING (event_id)""",

    "qmp01_mpki" ->
      s"""WITH ${Transcripts.mpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE WHEN b.bsel = 1 AND b.csel = 0 THEN 'rule 1'
    WHEN b.bsel = 1 AND b.csel = 1 THEN 'rule 2' ELSE 'not parsed' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'entrust.mpki.cmpv2' ELSE 'cisco.mso' END AS technology,
  CASE b.bsel WHEN 0 THEN 'entrust' ELSE 'cisco' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'entrust.mpki.cmpv2' ELSE 'cisco.mso' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'entrust.mpki.cmpv2' ELSE 'cisco.mso' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CASE WHEN b.bsel = 0 THEN 'mu' || b.eid_s
    WHEN b.csel = 0 THEN 'admin' || b.eid_s ELSE NULL END AS user_name,
  CASE WHEN b.bsel = 1 AND b.csel = 0 THEN 'failed attempt from console'
    WHEN b.bsel = 1 AND b.csel = 1 THEN 'audit: log: cleanup' || b.eid_s
    ELSE NULL END AS rule_description
FROM mp_turns t JOIN mp_base b USING (event_id)""",

    "qsp01_sap" ->
      s"""WITH ${Transcripts.spCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 0 THEN 'rule 1' ELSE 'not parsed' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'sap.t-codes' ELSE 'cisco.riverbed.stdout' END AS technology,
  CASE b.bsel WHEN 0 THEN 'sap' ELSE 'cisco' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'sap.t-codes' ELSE 'cisco.riverbed.stdout' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'sap.t-codes' ELSE 'cisco.riverbed.stdout' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.bsel = 0 THEN epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000)
    WHEN b.csel = 0 THEN epoch_ms(date_trunc('second', t.ts))
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE b.bsel WHEN 0 THEN 'logon' ELSE NULL END AS event_reason,
  CASE b.bsel WHEN 0 THEN 'sapagent' || CAST(b.user_id % 9 AS STRING) ELSE NULL END AS agent_name,
  CAST(NULL AS STRING) AS source_ip, -- PC-… is not an ip: migrated by 02
  CASE b.bsel WHEN 0 THEN 'pc-' || b.eid_s ELSE NULL END AS source_address,
  CASE b.bsel WHEN 0 THEN 'sapu' || b.eid_s ELSE NULL END AS user_name,
  CASE b.bsel WHEN 0 THEN '100' ELSE NULL END AS group_id,
  CASE b.bsel WHEN 0 THEN 'sapmsyst' ELSE NULL END AS process_name,
  CASE b.bsel WHEN 0 THEN 'login screen' ELSE NULL END AS rule_name,
  CASE b.bsel WHEN 0 THEN 'su01' ELSE NULL END AS rule_id,
  CASE b.bsel WHEN 0 THEN 'user admin' ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 0 THEN 'aud' ELSE NULL END AS rule_category,
  CASE b.bsel WHEN 0 THEN 'prd' ELSE NULL END AS host_id,
  CASE b.bsel WHEN 0 THEN 'saphost' || b.eid_s ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 0 THEN 'saplog' || CAST(b.user_id % 9 AS STRING) ELSE NULL END AS log_source_hostname,
  CASE WHEN b.bsel = 1 AND b.csel = 1 THEN 'warn'
    WHEN b.bsel = 1 THEN 'info' ELSE NULL END AS log_level,
  CASE WHEN b.bsel = 1 AND b.csel = 1 THEN '/etc/rvbd' || b.eid_s || '.conf'
    ELSE NULL END AS file_path
FROM sp_turns t JOIN sp_base b USING (event_id)""",

    "qvx01_vcnaix" ->
      s"""WITH ${Transcripts.vxCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'oci.vcn' ELSE 'aix.rsyslog' END AS technology,
  CASE b.bsel WHEN 0 THEN 'oci' ELSE 'aix' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'oci.vcn' ELSE 'aix.rsyslog' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'oci.vcn' ELSE 'aix.rsyslog' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.bsel WHEN 0 THEN 'oci' ELSE NULL END AS cloud_provider,
  CASE b.bsel WHEN 0 THEN 'ocid1.tenancy.t' || CAST(b.user_id % 9 AS STRING)
    ELSE NULL END AS log_source_hostname,
  CASE b.bsel WHEN 0 THEN 'accept' ELSE NULL END AS event_action,
  CASE b.bsel WHEN 0 THEN CAST(b.event_id % 100000 AS BIGINT) ELSE NULL END AS network_bytes,
  CASE b.bsel WHEN 0 THEN b.dip ELSE NULL END AS destination_ip,
  CASE b.bsel WHEN 0 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE b.bsel WHEN 0 THEN 'tcp' ELSE NULL END AS network_transport,
  CASE b.bsel WHEN 0 THEN '6' ELSE NULL END AS network_iana_number,
  CASE b.bsel WHEN 0 THEN CAST(1 + (b.event_id % 1000) AS BIGINT) ELSE NULL END AS network_packets,
  CASE b.bsel WHEN 0 THEN b.sip ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 0 THEN CAST(1024 + (b.event_id % 40000) AS BIGINT) ELSE NULL END AS source_port,
  CASE b.bsel WHEN 0 THEN 'ok' ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 0 THEN epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000)
    ELSE NULL END AS event_ingested_ms,
  CASE b.bsel WHEN 0 THEN '1.0' ELSE NULL END AS rule_version,
  CASE b.bsel WHEN 0 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000)
    ELSE NULL END AS event_start_ms,
  CASE b.bsel WHEN 0 THEN 'com.oraclecloud.vcn.flowlogs' WHEN 1 THEN 'audit' END AS event_type,
  CASE b.bsel WHEN 0 THEN 'fl' || b.eid_s ELSE NULL END AS rule_uuid,
  CASE b.bsel WHEN 0 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) END AS event_created_ms,
  CASE b.bsel WHEN 1 THEN CAST(16 + (b.event_id % 8) AS BIGINT) ELSE NULL END AS log_syslog_facility_code,
  CASE b.bsel WHEN 1 THEN CAST(b.event_id % 5 AS BIGINT) ELSE NULL END AS log_syslog_severity_code,
  CASE b.bsel WHEN 1 THEN CAST(5 AS BIGINT) ELSE NULL END AS event_severity,
  CASE b.bsel WHEN 1 THEN 'root' ELSE NULL END AS user_name,
  CASE b.bsel WHEN 1 THEN '/usr/bin/ls -l ' || b.eid_s ELSE NULL END AS process_command_line,
  CASE b.bsel WHEN 1 THEN 'audit: ' || lower(b.mon) || ' ' || b.dd2 || ' ' || b.t1
    || ' ' || b.yr || ' f5 f6 root f8 f9 f10 f11 /usr/bin/ls -l ' || b.eid_s
    ELSE NULL END AS event_original
FROM vx_turns t JOIN vx_base b USING (event_id)""",

    "qa401_as400" ->
      s"""WITH ${Transcripts.a4Cte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 0 THEN 'rule 1' ELSE 'not parsed' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'as400.audit' ELSE 'dell.drac' END AS technology,
  CASE b.bsel WHEN 0 THEN 'as400' ELSE 'dell' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'as400.audit' ELSE 'dell.drac' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'as400.audit' ELSE 'dell.drac' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  CASE WHEN b.bsel = 0 THEN epoch_ms(date_trunc('second', t.ts))
    WHEN EXTRACT(DAY FROM t.ts) >= 10 THEN epoch_ms(date_trunc('second', t.ts))
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE b.bsel WHEN 0 THEN 'as400prod' ELSE NULL END AS host_name,
  CASE b.bsel WHEN 0 THEN 'as400prod' ELSE NULL END AS log_source_hostname,
  CASE b.bsel WHEN 0 THEN 'zc' ELSE NULL END AS event_id_s,
  CASE b.bsel WHEN 0 THEN 'wrkactjob' ELSE NULL END AS process_command_line,
  CASE WHEN b.bsel = 0 THEN b.sip
    WHEN b.csel = 1 THEN b.sip ELSE NULL END AS host_ip,
  CASE b.bsel WHEN 0 THEN 'qpadev' || b.eid_s ELSE NULL END AS rule_name,
  CASE b.bsel WHEN 0 THEN CAST(100000 + (b.event_id % 900000) AS STRING) ELSE NULL END AS rule_id,
  CASE b.bsel WHEN 0 THEN 'qsecofr' || b.eid_s ELSE NULL END AS user_name,
  CASE WHEN b.bsel = 1 AND b.csel = 0 THEN 'authentication failure for root'
    WHEN b.bsel = 1 AND b.csel = 1 THEN 'connection closed host=' || b.sip
    WHEN b.bsel = 1 THEN 'login succeeded (ip:9.9.2.' || CAST(1 + (b.event_id % 250) AS STRING)
      || ', service:web)' ELSE NULL END AS event_action,
  CASE WHEN b.bsel = 1 AND b.csel = 2 THEN '9.9.2.' || CAST(1 + (b.event_id % 250) AS STRING)
    ELSE NULL END AS source_ip,
  CASE WHEN b.bsel = 1 AND b.csel = 2 THEN 'web' ELSE NULL END AS service_name
FROM a4_turns t JOIN a4_base b USING (event_id)""",

    "qch01_cpops" ->
      s"""WITH ${Transcripts.chCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'checkpoint.fw_audit' WHEN 1 THEN 'hadoop.hms_audit'
    ELSE 'ansible.audit' END AS technology,
  CASE b.bsel WHEN 0 THEN 'checkpoint' WHEN 1 THEN 'hadoop' ELSE 'ansible' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'checkpoint.fw_audit' WHEN 1 THEN 'hadoop.hms_audit'
    ELSE 'ansible.audit' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'checkpoint.fw_audit' WHEN 1 THEN 'hadoop.hms_audit'
    ELSE 'ansible.audit' END) || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.bsel WHEN 0 THEN CAST(16 + (b.event_id % 8) AS BIGINT) ELSE NULL END AS log_syslog_facility_code,
  CASE b.bsel WHEN 0 THEN CAST(b.event_id % 5 AS BIGINT) ELSE NULL END AS log_syslog_severity_code,
  CASE WHEN b.bsel = 0 AND b.csel <= 3 THEN epoch_ms(date_trunc('second', t.ts))
    WHEN b.bsel = 1 THEN epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000)
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE WHEN b.bsel = 0 AND b.csel <= 1 THEN 'cpmgr' || CAST(b.user_id % 9 AS STRING)
    ELSE NULL END AS observer_name,
  CASE WHEN b.bsel = 0 AND b.csel <= 1 THEN 'authentication failure'
    WHEN b.bsel = 0 AND b.csel <= 3 THEN 'illegal pam password attempt'
    ELSE NULL END AS rule_description,
  CASE WHEN b.bsel = 0 AND b.csel <= 1 THEN '0' ELSE NULL END AS user_id,
  CASE WHEN b.bsel = 0 AND b.csel <= 1 THEN 'ssh'
    WHEN b.bsel = 0 AND b.csel <= 3 THEN 'ssh2' ELSE NULL END AS network_protocol,
  CASE WHEN b.bsel = 0 AND b.csel <= 1 THEN 'root'
    WHEN b.bsel = 0 AND b.csel <= 3 THEN 'admin' ELSE NULL END AS user_name,
  CASE WHEN b.bsel = 0 AND b.csel IN (2, 3) THEN 'cpgw' ELSE NULL END AS network_name,
  CASE WHEN b.bsel = 0 AND b.csel IN (2, 3) THEN 'mgmt' ELSE NULL END AS service_type,
  CASE WHEN b.bsel = 0 AND b.csel IN (2, 3) THEN '9.1.2.' || CAST(1 + (b.event_id % 250) AS STRING)
    WHEN b.bsel = 1 THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.bsel = 0 AND b.csel IN (2, 3) THEN CAST(51515 AS BIGINT) ELSE NULL END AS source_port,
  CASE b.bsel WHEN 1 THEN 'prod' ELSE NULL END AS database_instance,
  CAST(NULL AS BIGINT) AS event_severity, -- INFO dies on the long coercion
  CASE b.bsel WHEN 1 THEN 'hive' ELSE NULL END AS user_roles,
  CASE b.bsel WHEN 1 THEN 'hivemetastore.audit' WHEN 2 THEN 'node1' END AS event_provider,
  CASE b.bsel WHEN 1 THEN 'source:get_table ' || b.eid_s ELSE NULL END AS process_command_line,
  CASE b.bsel WHEN 1 THEN 'hive' ELSE NULL END AS url_path,
  CASE b.bsel WHEN 2 THEN '/var/log/ansible' ELSE NULL END AS file_directory,
  CASE b.bsel WHEN 2 THEN 'app-cnetops-repo' || b.eid_s || '-123-node1-srv1-out.txt'
    ELSE NULL END AS file_name
FROM ch_turns t JOIN ch_base b USING (event_id)""",

    "qmc01_mcas" ->
      s"""WITH ${Transcripts.mcCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 1 THEN 'not parsed' ELSE 'rule 1' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'azure.mcas' WHEN 1 THEN 'redhat.syslog'
    ELSE 'virtustream.trendmicro' END AS technology,
  CASE b.bsel WHEN 0 THEN 'azure' WHEN 1 THEN 'redhat' ELSE 'virtustream' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'azure.mcas' WHEN 1 THEN 'redhat.syslog'
    ELSE 'virtustream.trendmicro' END AS event_dataset,
  CASE b.bsel WHEN 0 THEN 'api_azure_mcas' WHEN 2 THEN 'tmhost' || b.eid_s
    ELSE NULL END AS log_source_hostname,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'azure.mcas' WHEN 1 THEN 'redhat.syslog'
    ELSE 'virtustream.trendmicro' END) || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.bsel WHEN 0 THEN 'azure' ELSE NULL END AS cloud_provider,
  CASE WHEN b.bsel = 0 THEN epoch_ms(t.ts)
    WHEN EXTRACT(DAY FROM t.ts) >= 10 THEN epoch_ms(date_trunc('second', t.ts))
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  CASE b.bsel WHEN 0 THEN 'ctx' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.bsel WHEN 0 THEN CAST(2 AS BIGINT) WHEN 2 THEN CAST(6 AS BIGINT)
    ELSE NULL END AS event_severity,
  CASE b.bsel WHEN 0 THEN CAST(b.event_id % 100 AS BIGINT) ELSE NULL END AS event_risk_score,
  CASE b.bsel WHEN 0 THEN 'impossible travel' ELSE NULL END AS event_category,
  CASE b.bsel WHEN 0 THEN 'https://portal/x' || b.eid_s ELSE NULL END AS event_url,
  CASE b.bsel WHEN 0 THEN 'mu' || b.eid_s WHEN 1 THEN 'ruser' || b.eid_s
    ELSE NULL END AS user_name,
  CASE b.bsel WHEN 0 THEN 'mu' || b.eid_s || '@corp.example' ELSE NULL END AS user_email,
  CASE b.bsel WHEN 0 THEN 'risky' ELSE NULL END AS event_reason,
  CASE b.bsel WHEN 0 THEN 'block' WHEN 2 THEN 'deny' ELSE NULL END AS event_action,
  CAST(NULL AS BIGINT) AS event_start_ms, -- mcas date probes the wrong field
  CASE b.bsel WHEN 1 THEN 'rh' || CAST(b.user_id % 9 AS STRING) ELSE NULL END AS agent_name,
  CAST(NULL AS STRING) AS process_name, -- uppercase sudo keys kill the rename
  CASE b.bsel WHEN 1 THEN CAST(16 + (b.event_id % 8) AS BIGINT) ELSE NULL END AS log_syslog_facility_code,
  CASE b.bsel WHEN 1 THEN CAST(b.event_id % 5 AS BIGINT) ELSE NULL END AS log_syslog_severity_code,
  CASE b.bsel WHEN 2 THEN 'tmhost' || b.eid_s ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 2 THEN 'trend micro' ELSE NULL END AS event_provider,
  CASE b.bsel WHEN 2 THEN '12.0' ELSE NULL END AS rule_version,
  CASE b.bsel WHEN 2 THEN 'probe event' ELSE NULL END AS event_type,
  CASE b.bsel WHEN 2 THEN b.sip ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 2 THEN b.dip ELSE NULL END AS destination_ip,
  CASE b.bsel WHEN 2 THEN CAST(1234 AS BIGINT) ELSE NULL END AS source_port,
  CASE b.bsel WHEN 2 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE b.bsel WHEN 2 THEN 'aa:bb:cc:dd:ee:01' ELSE NULL END AS source_mac,
  CASE b.bsel WHEN 2 THEN 'tcp' ELSE NULL END AS network_transport,
  CASE b.bsel WHEN 2 THEN 'h' || CAST(b.event_id % 400 AS STRING) ELSE NULL END AS host_id,
  CASE b.bsel WHEN 2 THEN CAST(512 AS BIGINT) ELSE NULL END AS source_bytes
FROM mc_turns t JOIN mc_base b USING (event_id)""",

    // start_ms: the buggy yyyy-mm-dd pattern parses the month digits as a
    // minute — only rows whose month equals the timestamp minute parse, and
    // they resolve into JANUARY (no month field in the pattern)
    "qrg01_rsagg" ->
      s"""WITH ${Transcripts.rgCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 0 THEN 'not parsed' ELSE 'rule 1' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'rsa.auth' ELSE 'vuln.gitguardian_api' END AS technology,
  CASE b.bsel WHEN 0 THEN 'rsa' ELSE 'gitguardian' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'rsa.auth' ELSE 'vuln.gitguardian_api' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'rsa.auth' ELSE 'vuln.gitguardian_api' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.bsel WHEN 0 THEN CAST(16 + (b.event_id % 8) AS BIGINT) ELSE NULL END AS log_syslog_facility_code,
  CASE b.bsel WHEN 0 THEN CAST(b.event_id % 5 AS BIGINT) ELSE NULL END AS log_syslog_severity_code,
  CASE b.bsel WHEN 0 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) END AS event_created_ms,
  CASE WHEN b.bsel = 0 AND EXTRACT(MONTH FROM t.ts) = EXTRACT(MINUTE FROM t.ts)
    THEN epoch_ms(make_timestamp(CAST(EXTRACT(YEAR FROM t.ts) AS BIGINT), 1,
      CAST(EXTRACT(DAY FROM t.ts) AS BIGINT), CAST(EXTRACT(HOUR FROM t.ts) AS BIGINT),
      CAST(EXTRACT(MINUTE FROM t.ts) AS BIGINT), FLOOR(EXTRACT(SECOND FROM t.ts))))
    ELSE NULL END AS event_start_ms,
  CASE b.bsel WHEN 0 THEN b.sip2 ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 0 THEN b.dip ELSE NULL END AS destination_ip,
  CASE b.bsel WHEN 0 THEN 'authrule' WHEN 1 THEN 'generic api key' END AS rule_ruleset,
  CASE b.bsel WHEN 0 THEN 'auth desc ' || b.eid_s ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 0 THEN 'uid' || b.eid_s ELSE NULL END AS user_id,
  CASE b.bsel WHEN 0 THEN 'agent' || b.eid_s ELSE NULL END AS source_address,
  CASE b.bsel WHEN 0 THEN 'rsa.example' ELSE NULL END AS source_domain,
  CASE b.bsel WHEN 0 THEN 'others' ELSE NULL END AS rule_category,
  CASE b.bsel WHEN 1 THEN CAST(10000 + (b.event_id % 90000) AS STRING) ELSE NULL END AS event_id_s,
  CASE b.bsel WHEN 1 THEN md5('g' || b.eid_s) ELSE '' END AS related_hash_s,
  CASE b.bsel WHEN 1 THEN 'apikey' ELSE NULL END AS rule_name,
  CASE b.bsel WHEN 1 THEN 'dev' || b.eid_s || '@corp.example' ELSE NULL END AS user_email,
  CASE b.bsel WHEN 1 THEN '/src/config' || b.eid_s || '.py' ELSE NULL END AS file_path,
  CAST(NULL AS BIGINT) AS event_end_ms,
  CASE b.bsel WHEN 1 THEN 'vuln_gitguardian' ELSE NULL END AS log_source_hostname
FROM rg_turns t JOIN rg_base b USING (event_id)""",

    "qgo01_gheoci" ->
      s"""WITH ${Transcripts.goCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'github.ghe' WHEN 1 THEN 'oci.audit'
    ELSE 'aws.cloudflare' END AS technology,
  CASE b.bsel WHEN 0 THEN 'github' WHEN 1 THEN 'oci' ELSE 'aws' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'github.audit' WHEN 1 THEN 'oci.audit'
    ELSE 'aws.cloudflare' END AS event_dataset,
  CASE b.bsel WHEN 0 THEN 'ghe' || CAST(b.user_id % 9 AS STRING)
    WHEN 1 THEN 'ocid1.res.' || b.eid_s ELSE 'api_aws_cloudflare' END AS log_source_hostname,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'github.ghe' WHEN 1 THEN 'oci.audit'
    ELSE 'aws.cloudflare' END) || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.bsel
    WHEN 0 THEN (CASE WHEN EXTRACT(DAY FROM t.ts) >= 10
      THEN epoch_ms(date_trunc('second', t.ts)) ELSE epoch_ms(t.ts) END)
    WHEN 1 THEN epoch_ms(t.ts)
    ELSE CAST(1700000000 + b.event_id AS BIGINT) * 1000 END AS event_created_ms,
  CASE b.bsel WHEN 0 THEN CAST(443 AS BIGINT) ELSE NULL END AS client_port,
  CASE b.bsel WHEN 0 THEN CAST(512 AS BIGINT) ELSE NULL END AS http_request_bytes,
  CASE b.bsel WHEN 0 THEN 'q=1' ELSE NULL END AS url_query,
  CASE b.bsel WHEN 0 THEN '1.1' ELSE NULL END AS http_version,
  CASE WHEN b.bsel IN (0, 2) THEN b.cip ELSE NULL END AS client_ip,
  CASE b.bsel WHEN 0 THEN CAST(200 AS BIGINT) WHEN 1 THEN CAST(200 AS BIGINT)
    ELSE CAST(403 AS BIGINT) END AS http_response_status_code,
  CASE b.bsel WHEN 0 THEN 'get' WHEN 1 THEN 'post' ELSE 'get' END AS http_request_method,
  CASE b.bsel WHEN 0 THEN 'ghe-auth' ELSE NULL END AS service_name,
  CASE b.bsel WHEN 0 THEN CAST(77 AS BIGINT) ELSE NULL END AS process_pid,
  CASE b.bsel WHEN 0 THEN 'ghe msg ' || b.eid_s ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 1 THEN 'oci' ELSE NULL END AS cloud_provider,
  CASE b.bsel WHEN 1 THEN 'createbucket' ELSE NULL END AS event_category,
  CASE b.bsel WHEN 1 THEN 'com.oraclecloud.objectstorage' ELSE NULL END AS event_type,
  CASE b.bsel WHEN 1 THEN 'oid' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.bsel WHEN 1 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000)
    ELSE NULL END AS event_start_ms,
  CASE b.bsel WHEN 1 THEN b.cip ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 1 THEN 'ouser' || b.eid_s ELSE NULL END AS user_name,
  CASE b.bsel WHEN 1 THEN 'oci-sdk/2.0' ELSE NULL END AS user_agent_original,
  CASE b.bsel WHEN 1 THEN '/b/bucket' || b.eid_s WHEN 2 THEN '/p' || b.eid_s
    ELSE NULL END AS url_path,
  CASE b.bsel WHEN 2 THEN 'allow' ELSE NULL END AS event_action,
  CASE b.bsel WHEN 2 THEN '/p' || b.eid_s ELSE NULL END AS event_code,
  CASE b.bsel WHEN 2 THEN 'site.example.com' ELSE NULL END AS url_domain,
  CASE b.bsel WHEN 2 THEN CAST(2048 AS BIGINT) ELSE NULL END AS http_response_bytes,
  CASE b.bsel WHEN 2 THEN 'ray' || b.eid_s ELSE NULL END AS rule_id
FROM go_turns t JOIN go_base b USING (event_id)""",

    "qnk01_nist" ->
      s"""WITH ${Transcripts.nkCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 2 THEN 'not parsed' ELSE 'rule 1' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'known_good_file_hash.nist' WHEN 1 THEN 'sysdig.scan.api'
    ELSE 'kafka.error' END AS technology,
  CASE b.bsel WHEN 0 THEN 'known_good_file_hash' WHEN 1 THEN 'sysdig'
    ELSE 'kafka' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'known_good_file_hash.nist' WHEN 1 THEN 'sysdig.scan.api'
    ELSE 'kafka.error' END AS event_dataset,
  CASE b.bsel WHEN 0 THEN 'api_sqlite_hash.nist' WHEN 1 THEN 'vuln_sysdig_scanning'
    ELSE 'kb' || CAST(b.user_id % 9 AS STRING) END AS log_source_hostname,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'known_good_file_hash.nist'
    WHEN 1 THEN 'sysdig.scan.api' ELSE 'kafka.error' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE b.bsel WHEN 0 THEN epoch_ms(t.ts)
    WHEN 1 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND))
    ELSE epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) END AS event_created_ms,
  CASE b.bsel WHEN 0 THEN 'good' || b.eid_s || '.dll'
    WHEN 1 THEN 'repo/img' || b.eid_s || ':1.0' ELSE NULL END AS file_name,
  CASE b.bsel WHEN 0 THEN CAST(1000 + (b.event_id % 900000) AS BIGINT)
    ELSE NULL END AS file_size,
  CASE b.bsel WHEN 0 THEN array_to_string(list_sort([
      md5('m' || b.eid_s),
      md5('a' || b.eid_s) || substr(md5('b' || b.eid_s), 1, 8),
      md5(b.eid_s) || md5('s' || b.eid_s)]), ',')
    ELSE '' END AS related_hash_s,
  CASE b.bsel WHEN 1 THEN 'dev' || b.eid_s || '@corp.example' ELSE NULL END AS user_email,
  CASE b.bsel WHEN 1 THEN 'img' || b.eid_s || '.corp.example' ELSE NULL END AS url_full,
  CASE b.bsel WHEN 2 THEN 'kb' || CAST(b.user_id % 9 AS STRING) ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 2 THEN 'kbn' || b.eid_s ELSE NULL END AS agent_name,
  CASE b.bsel WHEN 2 THEN 'kafka' ELSE NULL END AS event_kind,
  CASE b.bsel WHEN 2 THEN '/var/log/server.log' ELSE NULL END AS file_path,
  CASE b.bsel WHEN 2 THEN 'log' ELSE NULL END AS file_type,
  CASE b.bsel WHEN 2 THEN 'error' ELSE NULL END AS event_severity_name,
  CASE b.bsel WHEN 2 THEN 'broker' ELSE NULL END AS service_name,
  CASE b.bsel WHEN 2 THEN 'ops' ELSE NULL END AS user_roles
FROM nk_turns t JOIN nk_base b USING (event_id)""",

    "qsy01_syncplicity" ->
      s"""WITH ${Transcripts.syCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 2 THEN 'rule 1' ELSE 'not parsed' END AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'syncplicity.admin_logs' WHEN 1 THEN 'syncplicity.user_logs'
    ELSE 'security_scorecard.company_scores' END AS technology,
  CASE b.bsel WHEN 2 THEN 'security_scorecard' ELSE 'syncplicity' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'syncplicity.admin_logs' WHEN 1 THEN 'syncplicity.user_logs'
    ELSE 'security_scorecard.company_scores' END AS event_dataset,
  CASE b.bsel WHEN 0 THEN 'api_syncplicity_adm_log' WHEN 1 THEN 'api_syncplicity'
    ELSE 'scorecard_events_company_scores' END AS log_source_hostname,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'syncplicity.admin_logs'
    WHEN 1 THEN 'syncplicity.user_logs'
    ELSE 'security_scorecard.company_scores' END) || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.bsel = 2 THEN NULL ELSE 'syncplicity' END AS cloud_provider,
  epoch_ms(t.ts) AS event_created_ms,
  CASE b.bsel WHEN 1 THEN '/dir' || b.eid_s ELSE NULL END AS file_directory,
  CASE b.bsel WHEN 1 THEN 'ev' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.bsel WHEN 1 THEN 'su' || b.eid_s || '@x.example' ELSE NULL END AS source_user_email,
  CASE b.bsel WHEN 1 THEN '/files/f' || b.eid_s || '.docx' ELSE NULL END AS file_path,
  CASE b.bsel WHEN 1 THEN 'docx' ELSE NULL END AS file_type,
  CASE b.bsel WHEN 1 THEN 'f' || b.eid_s || '.docx' ELSE NULL END AS file_name,
  CASE b.bsel WHEN 1 THEN 'added' ELSE NULL END AS event_action,
  CASE b.bsel WHEN 1 THEN 'files' WHEN 2 THEN 'large' ELSE NULL END AS rule_category,
  CASE b.bsel WHEN 1 THEN 'useraction' ELSE NULL END AS rule_ruleset,
  CASE b.bsel WHEN 1 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND))
    ELSE NULL END AS event_start_ms,
  CASE b.bsel WHEN 1 THEN 'Full Name' || b.eid_s ELSE NULL END AS user_full_name,
  CASE b.bsel WHEN 1 THEN 'u' || b.eid_s || '@x.example' ELSE NULL END AS user_email,
  CASE b.bsel WHEN 1 THEN 'syhost' || b.eid_s ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 1 THEN 'syhost' || b.eid_s ELSE NULL END AS host_name,
  CASE b.bsel WHEN 1 THEN b.sip ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 1 THEN 'syncrule' ELSE NULL END AS rule_name,
  CASE b.bsel WHEN 1 THEN 'du' || b.eid_s || '@x.example' ELSE NULL END AS destination_user_email,
  CASE b.bsel WHEN 1 THEN '77' ELSE NULL END AS event_duration,
  CAST(NULL AS BIGINT) AS event_end_ms, -- user_logs' end column is undated
  CASE b.bsel WHEN 2 THEN 'corp' || b.eid_s || '.example' ELSE NULL END AS client_domain,
  CASE b.bsel WHEN 2 THEN CAST(50 + (b.event_id % 50) AS BIGINT) ELSE NULL END AS event_severity,
  CASE b.bsel WHEN 2 THEN 'b' ELSE NULL END AS event_outcome,
  CASE b.bsel WHEN 2 THEN '-2' ELSE NULL END AS event_sequence,
  CASE b.bsel WHEN 2 THEN 'technology' ELSE NULL END AS event_provider,
  CASE b.bsel WHEN 2 THEN 'scorecard' ELSE NULL END AS event_kind
FROM sy_turns t JOIN sy_base b USING (event_id)""",

    // tanium/rundeck replace message with the LITERAL "[event][original]";
    // hadoop's sprintf form survives as the %{...} literal (94's bracketless
    // scrub can't match it); hadoop's host.hostname rename no-ops
    "qba01_beats" ->
      s"""WITH ${Transcripts.baCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule,
  CASE b.bsel WHEN 0 THEN 'tanium.agent' WHEN 1 THEN 'rundeck.agent'
    WHEN 2 THEN 'hadoop.agent' ELSE 'elasticsearch.audit' END AS technology,
  CASE b.bsel WHEN 0 THEN 'tanium' WHEN 1 THEN 'rundeck'
    WHEN 2 THEN 'hadoop' ELSE 'elasticsearch' END AS event_module,
  CASE b.bsel WHEN 0 THEN 'tanium.agent' WHEN 1 THEN 'rundeck.agent'
    WHEN 2 THEN 'hadoop.agent' ELSE 'elasticsearch.audit' END AS event_dataset,
  'logs-' || (CASE b.bsel WHEN 0 THEN 'tanium.agent' WHEN 1 THEN 'rundeck.agent'
    WHEN 2 THEN 'hadoop.agent' ELSE 'elasticsearch.audit' END)
    || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  'bh' || CAST(b.user_id % 9 AS STRING) AS log_source_hostname,
  CASE WHEN b.bsel = 2 THEN NULL ELSE 'bh' || CAST(b.user_id % 9 AS STRING) END AS host_hostname,
  'bn' || b.eid_s AS agent_name,
  'prog' || b.eid_s AS event_kind,
  '/var/log/x' || b.eid_s || '.log' AS file_path,
  'log' AS file_type, 'info' AS event_severity_name, 'svc1' AS service_name,
  -- hadoop: the role rename coerces the string [user] into a hash (its
  -- value is lost), and the later [user]→[user][name] rename moves that
  -- HASH onto user.name — both columns null, exactly as in Logstash
  CASE WHEN b.bsel = 2 THEN NULL ELSE 'admin' END AS user_roles,
  CAST(NULL AS STRING) AS user_name,
  CASE b.bsel WHEN 0 THEN '[event][original]' WHEN 1 THEN '[event][original]'
    WHEN 2 THEN '%{[event][original]}' ELSE 'raw line ' || b.eid_s END AS message
FROM ba_turns t JOIN ba_base b USING (event_id)""",

    "qhx01_small" ->
      s"""WITH ${Transcripts.hxCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'not parsed' AS parse_rule,
  CASE b.tsel WHEN 0 THEN 'unidentified' WHEN 1 THEN 'cisco.meraki.wap'
    WHEN 2 THEN 'cisco.meraki.router' WHEN 3 THEN 'cisco.satellite'
    WHEN 4 THEN 'cisco.wireless.bridge' WHEN 5 THEN 'cisco.prime'
    ELSE 'cisco.riverbed.amauth' END AS technology,
  CASE b.tsel WHEN 0 THEN 'unidentified' WHEN 1 THEN 'cisco.meraki'
    WHEN 2 THEN 'cisco.meraki' ELSE 'cisco' END AS event_module,
  CASE b.tsel WHEN 0 THEN 'unidentified' WHEN 1 THEN 'cisco.meraki.wap'
    WHEN 2 THEN 'cisco.meraki.router' WHEN 3 THEN 'cisco.satellite'
    WHEN 4 THEN 'cisco.wireless.bridge' WHEN 5 THEN 'cisco.prime'
    ELSE 'cisco.riverbed.amauth' END AS event_dataset,
  'logs-' || (CASE b.tsel WHEN 0 THEN 'unidentified' WHEN 1 THEN 'cisco.meraki.wap'
    WHEN 2 THEN 'cisco.meraki.router' WHEN 3 THEN 'cisco.satellite'
    WHEN 4 THEN 'cisco.wireless.bridge' WHEN 5 THEN 'cisco.prime'
    ELSE 'cisco.riverbed.amauth' END) || '_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.tsel IN (1, 2, 3, 4, 5) THEN CAST(16 + (b.event_id % 8) AS BIGINT)
    ELSE NULL END AS log_syslog_facility_code,
  CASE WHEN b.tsel IN (1, 2, 3, 4, 5) THEN CAST(b.event_id % 5 AS BIGINT)
    ELSE NULL END AS log_syslog_severity_code,
  epoch_ms(t.ts) AS event_created_ms,
  CASE b.tsel WHEN 5 THEN 'u' || b.eid_s WHEN 6 THEN 'amu' || b.eid_s
    ELSE NULL END AS user_name,
  CASE b.tsel WHEN 5 THEN b.cip ELSE NULL END AS client_ip,
  CASE b.tsel WHEN 5 THEN 'audit' ELSE NULL END AS event_category,
  CASE b.tsel WHEN 5 THEN 'config' ELSE NULL END AS event_type,
  CASE b.tsel WHEN 5 THEN 'success' ELSE NULL END AS event_outcome,
  CASE b.tsel WHEN 6 THEN 'access granted' ELSE NULL END AS event_action
FROM hx_turns t JOIN hx_base b USING (event_id)""",

    "qzk01_zeek" ->
      s"""WITH ${Transcripts.zkCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'securityonion' AS event_module,
  'securityonion.zeek' AS event_dataset, b.kindname AS event_kind,
  'network' AS event_category,
  'sensor' || CAST(b.user_id % 9 AS STRING) AS log_source_hostname,
  'logs-securityonion.zeek_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(1700000000 + b.event_id AS BIGINT) * 1000 AS event_created_ms,
  b.sip AS source_ip, CAST(b.sp AS BIGINT) AS source_port,
  b.dip AS destination_ip, CAST(443 AS BIGINT) AS destination_port,
  'tcp' AS network_protocol, 'c' || b.eid_s AS event_id_s,
  CASE b.zsel WHEN 0 THEN '1:zc' || b.eid_s ELSE NULL END AS rule_uuid,
  CASE b.zsel WHEN 0 THEN CAST(1000 AS BIGINT) ELSE NULL END AS source_bytes,
  CASE b.zsel WHEN 0 THEN CAST(2000 AS BIGINT) ELSE NULL END AS destination_bytes,
  CASE b.zsel WHEN 0 THEN '1.5' WHEN 1 THEN '0.002' ELSE NULL END AS event_duration,
  CASE b.zsel WHEN 0 THEN 'sf' ELSE NULL END AS service_state,
  CASE b.zsel WHEN 0 THEN 'ssl' WHEN 5 THEN 'krbtgt' ELSE NULL END AS service_name,
  CASE b.zsel WHEN 0 THEN CAST(0 AS BIGINT) ELSE NULL END AS network_bytes,
  CASE b.zsel WHEN 1 THEN b.tid ELSE NULL END AS transaction_id,
  CASE b.zsel WHEN 2 THEN 'get' ELSE NULL END AS http_request_method,
  CASE b.zsel WHEN 2 THEN 'www.example.com' ELSE NULL END AS url_domain,
  CASE b.zsel WHEN 2 THEN '/idx' || b.eid_s ELSE NULL END AS url_query,
  CASE b.zsel WHEN 2 THEN CAST(200 AS BIGINT) ELSE NULL END AS http_response_status_code,
  CASE b.zsel WHEN 2 THEN 'ok' ELSE NULL END AS event_action,
  CASE b.zsel WHEN 2 THEN 'text/html' ELSE NULL END AS http_request_mime_type,
  CAST(NULL AS STRING) AS http_request_referrer, -- '-' scrubbed by 94
  CASE b.zsel WHEN 2 THEN 'curl/8.5' ELSE NULL END AS user_agent_original,
  CASE b.zsel WHEN 3 THEN 's' || b.eid_s || '@x.example' ELSE NULL END AS source_user_email,
  CASE b.zsel WHEN 3 THEN 'zeek mail ' || b.eid_s ELSE NULL END AS email_subject,
  CAST(NULL AS STRING) AS destination_user_email, -- ruby list → array → null
  CAST(NULL AS STRING) AS file_path, -- smtp removes it; others never set it
  CASE b.zsel WHEN 4 THEN 'Jo' || b.eid_s || ' Doe' ELSE NULL END AS user_full_name,
  'internal' AS destination_domain, -- PTR + host_split overwrite everywhere
  CASE b.zsel WHEN 5 THEN 'as' ELSE NULL END AS process_name
FROM zk_turns t JOIN zk_inner b USING (event_id)
WHERE b.zsel <> 6""",

    "qso01_suricata" ->
      s"""WITH ${Transcripts.soCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'securityonion' AS event_module,
  'securityonion.suricata' AS event_dataset,
  'logs-securityonion.suricata_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  CASE WHEN b.susel = 1 THEN 'dns' ELSE 'alert' END AS event_type,
  b.sip AS source_ip, b.dip AS destination_ip,
  CAST(b.sp AS BIGINT) AS source_port, CAST(b.dp AS BIGINT) AS destination_port,
  CASE WHEN (b.event_id % 2) = 0 THEN 'tcp' ELSE 'udp' END AS network_protocol,
  CASE WHEN b.susel = 1 THEN NULL ELSE 'allowed' END AS event_action,
  CASE WHEN b.susel = 1 THEN NULL ELSE 'attempted information leak' END AS event_category,
  CASE WHEN b.susel = 1 THEN NULL ELSE CAST(2 AS BIGINT) END AS event_severity,
  CASE WHEN b.susel = 1 THEN NULL ELSE 'alert tcp any any' END AS rule_description,
  b.eid_s AS event_id_s, 'eth0' AS observer_ingress_interface_id,
  '1:cid' || b.eid_s AS rule_uuid,
  CASE WHEN b.susel = 1 THEN NULL ELSE b.sid END AS rule_id,
  CASE WHEN b.susel = 1 THEN NULL ELSE 'et scan probe ' || b.eid_s END AS rule_name,
  CASE WHEN b.susel = 1 THEN NULL ELSE '3' END AS rule_version,
  CASE WHEN b.susel = 1 THEN 'dns' ELSE 'http' END AS event_outcome,
  CAST(NULL AS STRING) AS log_source_hostname
FROM so_turns t JOIN so_base b USING (event_id)""",

    "qap01_apache" ->
      s"""WITH ${Transcripts.apCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  (CASE WHEN b.absel = 0 THEN 'rule 1' ELSE 'rule 2' END) || ','
    || (CASE WHEN CAST(b.status AS INT) >= 400 THEN 'rule 3' ELSE 'rule 4' END) AS parse_rule,
  'apache' AS event_module, 'apache.access' AS event_dataset,
  'logs-apache.access_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.absel = 0 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND))
    ELSE epoch_ms(t.ts) END AS event_created_ms,
  b.sip AS source_ip,
  CASE WHEN b.absel = 0 THEN 'get' ELSE 'post' END AS http_request_method,
  CASE WHEN b.absel = 0 THEN '/p' || b.eid_s ELSE '/q' || b.eid_s END AS url_path,
  CASE WHEN b.absel = 0 THEN '1.1' ELSE '1.0' END AS http_version,
  CAST(b.status AS BIGINT) AS http_response_status_code,
  CASE WHEN b.absel = 0 THEN CAST(123 AS BIGINT) ELSE CAST(456 AS BIGINT) END AS http_response_bytes,
  CASE WHEN CAST(b.status AS INT) >= 400 THEN 'ops/error' ELSE 'ops/information' END AS rule_category
FROM ap_turns t JOIN ap_base b USING (event_id)""",

    // event.module is add_field'ed twice → array → NULL scalar column
    "qdl01_o365dlp" ->
      s"""WITH ${Transcripts.dlpCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, CAST(NULL AS STRING) AS event_module,
  'azure.eventhub.o365_dlp' AS event_dataset, 'azure.eventhub' AS agent_name,
  'api_azure_eventhub_o365_dlp' AS log_source_hostname,
  'logs-azure.eventhub.o365_dlp_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'threatmanagement' AS rule_category, 'al' || b.eid_s AS event_id_s,
  'inv' || CAST(b.event_id % 500 AS STRING) AS group_id,
  'high' AS event_severity_name, 'new' AS event_outcome, 'apt' AS event_type,
  'officedlp' AS observer_product, 'dlp alert ' || b.eid_s AS event_kind,
  'desc ' || b.eid_s AS rule_description,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND)) + (b.event_id % 1000) AS event_end_ms,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_modified_ms,
  'm' || b.eid_s AS host_id, 'wks' || b.eid_s AS host_hostname,
  'u' || b.eid_s AS user_name
FROM dlp_turns t JOIN dlp_base b USING (event_id)""",

    "qmt01_msgtrkg" ->
      s"""WITH ${Transcripts.mtCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'azure.eventhub.o365.msg_tracking' AS event_dataset,
  'azure.eventhub' AS agent_name,
  'api_azure_eventhub_o365_msg_tracking' AS log_source_hostname,
  'logs-azure.eventhub.o365.msg_tracking_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'mid' || b.eid_s AS event_id_s,
  's' || b.eid_s || '@corp.example' AS source_user_email,
  'r' || b.eid_s || '@corp.example' AS destination_user_email,
  'subj ' || b.eid_s AS email_subject, 'delivered' AS event_action,
  b.dip AS destination_ip, b.sip AS source_ip,
  CAST(1000 + (b.event_id % 5000) AS BIGINT) AS source_bytes,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND)) AS event_end_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms
FROM mt_turns t JOIN mt_base b USING (event_id)""",

    // the NetworkRule grok's lazy protocol group binds "" (scrubbed → null)
    "qfw01_azurefw" ->
      s"""WITH ${Transcripts.fwCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'azure' AS event_module,
  CASE b.ksel WHEN 0 THEN 'azure.dns' WHEN 1 THEN 'azure.ids'
    WHEN 2 THEN 'azure.proxy' WHEN 3 THEN 'azure.fw' ELSE 'azure.fw_metrics' END AS event_dataset,
  CASE b.ksel WHEN 0 THEN 'azfwdnsquery' WHEN 1 THEN 'azfwidpssignature'
    WHEN 2 THEN 'azfwapplicationrule' WHEN 3 THEN 'azurefirewallnetworkrule'
    ELSE 'somethingnew' END AS event_kind,
  '/subscriptions/x/azfw' || CAST(b.user_id % 9 AS STRING) AS log_source_hostname,
  'logs-azure.fwflow_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  CASE b.ksel WHEN 0 THEN 'udp' ELSE NULL END AS network_transport,
  CASE WHEN b.ksel IN (0, 1, 2, 3) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.ksel IN (0, 1, 2) THEN CAST(b.sp AS BIGINT)
    WHEN b.ksel = 3 THEN CAST(5353 AS BIGINT) ELSE NULL END AS source_port,
  CASE b.ksel WHEN 1 THEN 'sig desc ' || b.eid_s
    WHEN 2 THEN 'rcg' || b.eid_s ELSE NULL END AS rule_description,
  CASE b.ksel WHEN 1 THEN 'alert' WHEN 2 THEN 'allow' WHEN 3 THEN 'deny'
    ELSE NULL END AS event_action,
  CASE WHEN b.ksel IN (1, 3) THEN b.dip ELSE NULL END AS destination_ip,
  CASE WHEN b.ksel IN (1, 2, 3) THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE b.ksel WHEN 1 THEN 'policy' WHEN 2 THEN 'pol1' WHEN 3 THEN 'pol1'
    ELSE NULL END AS rule_category,
  CASE b.ksel WHEN 1 THEN CAST(2 AS BIGINT) ELSE NULL END AS event_severity,
  CASE b.ksel WHEN 1 THEN b.sid ELSE NULL END AS rule_id,
  CASE b.ksel WHEN 2 THEN 'rc1' WHEN 3 THEN 'rcg1' ELSE NULL END AS rule_ruleset,
  CASE b.ksel WHEN 2 THEN 'apprule' || b.eid_s WHEN 3 THEN 'netrule' || b.eid_s
    ELSE NULL END AS rule_name,
  CASE b.ksel WHEN 3 THEN 'rc1' ELSE NULL END AS observer_name,
  CASE b.ksel WHEN 2 THEN 'searchengines' ELSE NULL END AS event_category,
  CASE b.ksel WHEN 2 THEN 'allowed by rule' ELSE NULL END AS event_reason,
  CASE b.ksel WHEN 2 THEN 'site' || b.eid_s || '.example.com' ELSE NULL END AS url_registered_domain,
  CASE b.ksel WHEN 2 THEN 'site' || b.eid_s || '.example.com' ELSE NULL END AS url_full,
  CASE b.ksel WHEN 3 THEN 'tcp request from ' || b.sip || ':5353 to ' || b.dip
    || ':443. action: deny. policy: pol1 rule collection group: rcg1 rule collection: rc1 rule: netrule'
    || b.eid_s ELSE NULL END AS error_message,
  -- 90_lookup_iana back-fills https from port 443 where the protocol is
  -- absent; the NetworkRule grok's lazy "" capture is DROPPED
  -- (keep_empty_captures defaults false), so ksel 3 backfills too
  CASE WHEN b.ksel IN (1, 2, 3) THEN 'https' ELSE NULL END AS network_protocol
FROM fw_turns t JOIN fw_base b USING (event_id)""",

    "qpo01_pod" ->
      s"""WITH ${Transcripts.podCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'proofpoint' AS event_module,
  'proofpoint.pod' AS event_dataset, 'api_proofpoint_pod' AS log_source_hostname,
  'logs-proofpoint.pod_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'proofpoint' AS cloud_provider, 'proofpoint' AS observer_vendor,
  'proofpoint e-mail filter' AS observer_product,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  'g' || b.eid_s AS rule_uuid, 'pod0001' AS observer_name,
  'accept' AS event_outcome, 'quarantine' AS file_path,
  'spam' || b.eid_s AS rule_name, 'inbound' AS network_direction,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000) AS event_start_ms,
  CAST(2000 + (b.event_id % 90000) AS BIGINT) AS source_bytes,
  b.sip AS source_ip,
  CASE WHEN b.psel = 0 THEN '10.2.3.4' ELSE 'mail' || CAST(b.user_id % 9 AS STRING) END AS source_address,
  CASE WHEN b.psel = 0 THEN NULL ELSE 'pod.example' END AS source_domain,
  'subj ' || b.eid_s AS email_subject,
  CASE WHEN b.psel = 0 THEN 'r' || b.eid_s || '@corp.example' ELSE NULL END AS destination_user_email,
  's' || b.eid_s || '@x.example' AS source_user_email,
  'smtp' AS network_protocol,
  CAST(NULL AS STRING) AS file_name, CAST(NULL AS BIGINT) AS file_size,
  CAST(NULL AS STRING) AS url_full
FROM pod_turns t JOIN pod_base b USING (event_id)""",

    // bsel 6 is the type:"text" drop; bsel 3's comma re-join breaks its own
    // filename|md5 dissect (parse_ok 0) — both mirrored
    "qmf01_mispfeed" ->
      s"""WITH ${Transcripts.mfCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx,
  CASE WHEN b.bsel = 3 THEN 0 ELSE 1 END AS parse_ok_i,
  'rule 1' AS parse_rule,
  'api misp metrics' AS event_module, 'misp metrics' AS event_dataset,
  'api_misp_metrics' AS log_source_hostname,
  'misp' AS observer_vendor, 'misp metrics' AS observer_product,
  'logs-misp.metrics_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.bsel = 8 THEN 'inactive' ELSE 'active' END AS event_category,
  epoch_ms(t.ts) AS event_created_ms,
  'au-' || b.eid_s AS threat_list_uuid,
  CASE b.bsel WHEN 0 THEN 'ip-src' WHEN 1 THEN 'filename|md5' WHEN 2 THEN 'mac-address'
    WHEN 3 THEN 'filename|md5' WHEN 4 THEN 'domain' WHEN 5 THEN 'hostname'
    WHEN 7 THEN 'url' WHEN 8 THEN 'target-user' ELSE 'port' END AS threat_list_type,
  CASE b.bsel WHEN 0 THEN '8.0.' || CAST(b.event_id % 250 AS STRING) || '.99'
    WHEN 1 THEN 'inv' || b.eid_s || '.exe|' || md5(b.eid_s)
    WHEN 2 THEN 'aabbccddee' || LPAD(CAST(b.event_id % 100 AS STRING), 2, '0')
    WHEN 3 THEN 'tool' || b.eid_s || '.exe,aabbccddee0f'
    WHEN 4 THEN 'evil' || b.eid_s || '.example.org'
    WHEN 5 THEN 'evilhost' || b.eid_s || '.bad.example'
    WHEN 7 THEN 'http://bad' || b.eid_s || '.example/p'
    WHEN 8 THEN 'baduser' || b.eid_s
    ELSE CAST(40000 + (b.event_id % 2000) AS STRING) END AS threat_list_ioc,
  b.evid AS threat_list_event_id_s,
  CAST(b.tsec AS BIGINT) * 1000 AS threat_list_start_ms,
  epoch_ms(CAST(('2020-08-' || b.dd) AS TIMESTAMP)) AS threat_list_created_ms,
  CASE b.tl WHEN '1' THEN 'high' WHEN '2' THEN 'medium' WHEN '3' THEN 'low'
    ELSE 'undefined' END AS threat_list_severity_name,
  CASE b.an WHEN '0' THEN 'initial' WHEN '1' THEN 'ongoing' ELSE 'complete' END AS threat_list_event_analysis,
  CASE b.di WHEN '0' THEN 'your organisation only' WHEN '1' THEN 'this community only'
    WHEN '2' THEN 'connected communities' WHEN '3' THEN 'all communities'
    ELSE 'sharing group' END AS threat_list_distribution,
  'false' AS threat_list_safe_to_enable_ids,
  'orgx' || b.eid_s AS threat_list_source_org,
  'camp ' || b.eid_s AS threat_list_event_info,
  CASE b.bsel WHEN 1 THEN 'attachment' ELSE NULL END AS threat_list_object_relation,
  'cmt ' || b.eid_s AS threat_list_comment,
  'network activity' AS threat_list_category,
  CASE b.bsel WHEN 0 THEN 'mitre att&ck' ELSE NULL END AS threat_framework,
  CASE b.bsel WHEN 0 THEN 't1566.002' ELSE '' END AS threat_technique_id_s,
  CASE b.bsel WHEN 0 THEN '8.0.' || CAST(b.event_id % 250 AS STRING) || '.99' ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 2 THEN 'aabbccddee' || LPAD(CAST(b.event_id % 100 AS STRING), 2, '0')
    ELSE NULL END AS source_mac,
  CASE b.bsel WHEN 1 THEN 'inv' || b.eid_s || '.exe' ELSE NULL END AS file_name,
  CASE b.bsel WHEN 4 THEN 'evil' || b.eid_s || '.example.org' ELSE NULL END AS url_domain,
  CASE b.bsel WHEN 7 THEN 'http://bad' || b.eid_s || '.example/p' ELSE NULL END AS url_full,
  CASE b.bsel WHEN 5 THEN 'evilhost' || b.eid_s ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 5 THEN 'bad.example' ELSE NULL END AS host_domain,
  CASE b.bsel WHEN 5 THEN 'evilhost' || b.eid_s || '.bad.example' ELSE NULL END AS host_name,
  CASE b.bsel WHEN 9 THEN CAST(40000 + (b.event_id % 2000) AS BIGINT) ELSE NULL END AS destination_port
FROM mf_turns t JOIN mf_base b USING (event_id)
WHERE b.bsel <> 6""",

    "qib01_infoblox" ->
      s"""WITH ${Transcripts.ibCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 0 THEN 'rule 2' WHEN 1 THEN 'rule 2' WHEN 2 THEN 'rule 3'
    WHEN 3 THEN 'rule 7' WHEN 4 THEN 'rule 8' WHEN 5 THEN 'rule 9'
    WHEN 6 THEN 'rule 10' WHEN 7 THEN 'rule 11' WHEN 8 THEN 'rule 12 (a)'
    WHEN 9 THEN 'rule 15' WHEN 10 THEN 'rule 17' ELSE 'rule 18' END AS parse_rule,
  'infoblox' AS event_module, 'infoblox.ipam_audit' AS event_dataset,
  'logs-infoblox.ipam_audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CASE b.bsel WHEN 5 THEN 'db_jnld' WHEN 6 THEN 'dhcpd' WHEN 7 THEN 'dhcpd'
    WHEN 8 THEN 'dhcpd' WHEN 9 THEN 'dhcpd' WHEN 10 THEN NULL WHEN 11 THEN 'dhcpd'
    ELSE 'named' END AS process_name,
  CASE b.bsel WHEN 0 THEN CAST(123 AS BIGINT) WHEN 1 THEN CAST(5353 AS BIGINT)
    WHEN 2 THEN CAST(123 AS BIGINT) WHEN 3 THEN CAST(123 AS BIGINT)
    WHEN 4 THEN CAST(5353 AS BIGINT) WHEN 5 THEN NULL
    WHEN 6 THEN NULL WHEN 7 THEN NULL
    WHEN 8 THEN CAST(3123 AS BIGINT) WHEN 9 THEN CAST(3123 AS BIGINT)
    WHEN 10 THEN NULL ELSE CAST(3123 AS BIGINT) END AS source_port,
  CASE b.bsel WHEN 1 THEN b.cip WHEN 4 THEN b.cip ELSE b.hip END AS source_ip,
  CASE WHEN b.bsel IN (6, 7, 8, 9) THEN 'aa:bb:cc:dd:ee:0f' ELSE NULL END AS source_mac,
  CASE b.bsel WHEN 6 THEN 'h' || b.eid_s WHEN 9 THEN 'h' || b.eid_s ELSE NULL END AS source_address,
  CASE b.bsel WHEN 3 THEN '172.16.9.9' WHEN 7 THEN '10.4.5.6' WHEN 8 THEN '10.4.5.1'
    ELSE NULL END AS destination_ip,
  CASE b.bsel WHEN 3 THEN CAST(53 AS BIGINT) ELSE NULL END AS destination_port,
  CASE b.bsel WHEN 0 THEN 'zone' || b.eid_s || '.example/in'
    WHEN 3 THEN 'zn' || b.eid_s || '.example/in' WHEN 5 THEN 'corp.example'
    ELSE NULL END AS network_name,
  -- 90_lookup_iana: destination port 53 back-fills network.protocol
  CASE b.bsel WHEN 4 THEN 'udp' WHEN 3 THEN 'domain' ELSE NULL END AS network_protocol,
  CASE b.bsel WHEN 0 THEN 'loaded serial 42'
    WHEN 1 THEN 'query: example.com in a' WHEN 2 THEN 'hint ' || b.eid_s
    WHEN 3 THEN 'transfer status: success'
    WHEN 4 THEN 'query: www.example.com in a' WHEN 6 THEN 'via eth1'
    WHEN 7 THEN 'network x: no free leases' WHEN 10 THEN 'sshd: infoblox admin note ' || b.eid_s
    WHEN 11 THEN 'dhcpunknown event ' || b.eid_s ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 0 THEN 'audit/configuration' WHEN 3 THEN 'audit/configuration'
    WHEN 5 THEN 'audit/configuration' ELSE 'audit/information' END AS rule_category,
  CASE b.bsel WHEN 5 THEN 'deleted' WHEN 6 THEN 'dhcpack' WHEN 7 THEN 'dhcpdiscover'
    WHEN 8 THEN 'dhcprequest' WHEN 9 THEN 'assigned' ELSE NULL END AS event_action,
  CASE b.bsel WHEN 8 THEN 'tid' || b.eid_s ELSE NULL END AS event_id_s,
  CASE b.bsel WHEN 4 THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000)
    ELSE NULL END AS event_start_ms,
  CASE b.bsel WHEN 1 THEN 'cl' || b.eid_s ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 1 THEN 'corp.example' ELSE NULL END AS host_domain,
  CASE b.bsel WHEN 1 THEN 'cl' || b.eid_s || '.corp.example' ELSE NULL END AS host_name,
  CASE b.bsel WHEN 1 THEN 'cl' || b.eid_s || '.corp.example' ELSE NULL END AS log_source_hostname
FROM ib_turns t JOIN ib_base b USING (event_id)""",

    "qjn01_juniper" ->
      s"""WITH ${Transcripts.jnCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 0 THEN 'rule 1' WHEN 1 THEN 'rule 2,rule 3' WHEN 2 THEN 'rule 2,rule 4'
    WHEN 3 THEN 'rule 6' WHEN 4 THEN 'rule 9' WHEN 5 THEN 'rule 12'
    WHEN 6 THEN 'rule 13' WHEN 7 THEN 'rule 14' WHEN 8 THEN 'rule 15'
    WHEN 9 THEN 'rule 16' WHEN 10 THEN 'rule 17,rule 18' WHEN 11 THEN 'rule 17,rule 19'
    WHEN 12 THEN 'rule 20'
    ELSE 'rule 21,' || (CASE b.rsel WHEN 0 THEN 'rule 22' WHEN 1 THEN 'rule 23' ELSE 'rule 24' END)
  END AS parse_rule,
  'juniper' AS event_module, 'juniper.fw_traffic' AS event_dataset,
  'logs-juniper.fw_traffic_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  CASE WHEN b.bsel >= 12 THEN epoch_ms(t.ts)
    ELSE epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000)
  END AS event_created_ms,
  CASE b.bsel WHEN 0 THEN 'rt_flow_session_deny' WHEN 1 THEN 'apptrack_session_close'
    WHEN 2 THEN 'apptrack_session_create' WHEN 3 THEN 'webfilter_url_permitted'
    WHEN 4 THEN 'snmpd_auth_failure' WHEN 5 THEN 'snmp_trap_link_up'
    WHEN 6 THEN 'kmd_vpn_up_alarm_user' WHEN 7 THEN 'rt_flow_session_close'
    WHEN 8 THEN 'rt_flow_session_create' WHEN 9 THEN 'apptrack_session_vol_update'
    WHEN 10 THEN 'no proposal chosen' WHEN 11 THEN 'ikefailgeneric'
    ELSE NULL END AS rule_name,
  CASE b.bsel WHEN 0 THEN 'ops/network deny' WHEN 1 THEN 'ops/information'
    WHEN 2 THEN 'ops/network traffic' WHEN 3 THEN 'ops/network allow'
    WHEN 4 THEN 'ops/network traffic' WHEN 5 THEN 'ops/network traffic'
    WHEN 6 THEN 'ops/network traffic' WHEN 7 THEN 'ops/information'
    WHEN 8 THEN 'ops/network traffic' WHEN 9 THEN 'ops/network traffic'
    WHEN 10 THEN 'ops/network traffic' WHEN 11 THEN 'ops/network traffic'
    WHEN 12 THEN 'ops/network traffic'
    ELSE (CASE b.rsel WHEN 0 THEN 'audit/access success' WHEN 1 THEN 'ops/information'
      ELSE 'ops/network traffic' END) END AS rule_category,
  CASE WHEN b.bsel IN (0, 1, 2, 7, 8, 9) THEN 'pol-' || b.eid_s ELSE NULL END AS rule_id,
  CASE b.bsel WHEN 0 THEN NULL WHEN 1 THEN 'appqos processing' WHEN 2 THEN 'apptrack start'
    WHEN 3 THEN 'url permitted' WHEN 4 THEN 'snmp auth fail' WHEN 5 THEN 'ifoperstatus'
    WHEN 6 THEN 'vpn up' WHEN 7 THEN 'session closed' WHEN 8 THEN 'session created'
    WHEN 9 THEN 'vol update' WHEN 12 THEN 'juniper event ' || b.eid_s
    WHEN 13 THEN (CASE b.rsel WHEN 0 THEN 'login (root) ok'
      WHEN 1 THEN 'last message repeated 2 times' ELSE 'plain juniper ' || b.eid_s END)
    ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 5 THEN 'down' ELSE NULL END AS rule_ruleset,
  CASE WHEN b.bsel IN (0, 1, 2, 3, 4, 6, 7, 8, 9, 10, 11) THEN b.sip
    ELSE NULL END AS source_ip,
  CASE WHEN b.bsel IN (0, 1, 2, 3, 7, 8, 9) THEN CAST(5353 AS BIGINT)
    WHEN b.bsel IN (10, 11) THEN CAST(500 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.bsel IN (0, 1, 2, 3, 4, 6, 7, 8, 9, 10, 11) THEN b.dip
    ELSE NULL END AS destination_ip,
  CASE WHEN b.bsel IN (0, 1, 2, 3, 7, 8, 9) THEN CAST(443 AS BIGINT)
    WHEN b.bsel IN (10, 11) THEN CAST(500 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.bsel IN (0, 1, 2, 7, 8, 9) THEN 'junos-https' ELSE NULL END AS service_name,
  CASE WHEN b.bsel IN (0, 1, 2, 3, 7, 8, 9) THEN 'u' || b.eid_s ELSE NULL END AS user_name,
  CASE WHEN b.bsel IN (0, 1, 2, 7, 8, 9) THEN 'trust' ELSE NULL END AS source_domain,
  -- every 172.16.x.y destination resolves in the PTR table; 18_host_split
  -- then splits 'ptr-...-y.internal' and OVERWRITES the dissected zone
  CASE WHEN b.bsel IN (0, 1, 2, 3, 4, 6, 7, 8, 9, 10, 11) THEN 'internal' ELSE NULL END AS destination_domain,
  CASE WHEN b.bsel IN (0, 1, 2, 7, 8, 9) THEN '6'
    WHEN b.bsel IN (10, 11) THEN '2' ELSE NULL END AS network_iana_number,
  CASE b.bsel WHEN 6 THEN 'vpn-' || b.eid_s
    WHEN 10 THEN 'vpnx' WHEN 11 THEN 'vpnx' ELSE NULL END AS network_name,
  CASE b.bsel WHEN 0 THEN 'policy deny' WHEN 7 THEN 'tcp fin' ELSE NULL END AS event_action,
  CASE WHEN b.bsel IN (1, 2, 7, 8, 9) THEN b.sip ELSE NULL END AS source_nat_ip,
  CASE WHEN b.bsel IN (1, 2, 7, 8, 9) THEN b.dip ELSE NULL END AS destination_nat_ip,
  CASE WHEN b.bsel IN (7, 9) THEN '33' ELSE NULL END AS event_duration,
  CASE WHEN b.bsel IN (7, 9) THEN CAST(1000 AS BIGINT) ELSE NULL END AS source_bytes,
  CASE WHEN b.bsel IN (7, 9) THEN CAST(2000 AS BIGINT) ELSE NULL END AS destination_bytes,
  CASE b.bsel WHEN 3 THEN 'permitted' ELSE NULL END AS error_message,
  CASE b.bsel WHEN 4 THEN 'auth failure ' || b.eid_s ELSE NULL END AS event_original,
  CASE b.bsel WHEN 3 THEN '/p/' || b.eid_s ELSE NULL END AS url_path,
  CASE b.bsel WHEN 5 THEN '541' ELSE NULL END AS observer_ingress_interface_id,
  CASE b.bsel WHEN 5 THEN 'ge-1/0/1' WHEN 6 THEN 'st0.0' ELSE NULL END AS observer_ingress_interface_name,
  CASE b.bsel WHEN 6 THEN '10.8.8.8' ELSE NULL END AS host_ip,
  CASE b.bsel WHEN 6 THEN 'vpnhost' || b.eid_s ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 6 THEN 'vpnhost' || b.eid_s ELSE NULL END AS host_name,
  CASE b.bsel WHEN 6 THEN 'cl' || b.eid_s ELSE NULL END AS source_address,
  CASE b.bsel WHEN 6 THEN '7' ELSE NULL END AS group_id
FROM jn_turns t JOIN jn_base b USING (event_id)""",

    "qse01_symantec" ->
      s"""WITH ${Transcripts.symCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.bsel WHEN 0 THEN 'other' WHEN 1 THEN 'other' WHEN 2 THEN 'system,other'
    WHEN 3 THEN 'agent activity,other' WHEN 4 THEN 'administrative'
    WHEN 5 THEN 'administrative,admin' WHEN 6 THEN 'agent behavior'
    WHEN 7 THEN 'agent scan' WHEN 8 THEN 'agent security'
    WHEN 9 THEN 'agent proactive detection logs(sonar)' WHEN 10 THEN 'agent system'
    ELSE 'konspol jv' END AS parse_rule,
  'symantec' AS event_module, 'symantec.endpoint_protection' AS event_dataset,
  'logs-symantec.endpoint_protection_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CAST(16 + (b.event_id % 8) AS BIGINT) AS log_syslog_facility_code,
  'local' || CAST(b.event_id % 8 AS STRING) AS log_syslog_facility_name,
  CAST(b.event_id % 5 AS BIGINT) AS log_syslog_severity_code,
  CASE (b.event_id % 5) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
    WHEN 2 THEN 'critical' WHEN 3 THEN 'error' ELSE 'warning' END AS log_syslog_severity_name,
  epoch_ms(t.ts) AS event_created_ms,
  CASE b.bsel WHEN 1 THEN 'srv' || b.eid_s WHEN 3 THEN NULL WHEN 7 THEN NULL
    ELSE b.obs END AS observer_name,
  CASE b.bsel WHEN 0 THEN 'hosta' || b.eid_s WHEN 1 THEN 'prod_dmz_hb' || b.eid_s
    WHEN 2 THEN 'hostc' || b.eid_s WHEN 4 THEN 'hostd' || b.eid_s
    WHEN 5 THEN 'hostd' || b.eid_s WHEN 6 THEN 'hoste' || b.eid_s
    WHEN 7 THEN 'hostf' || b.eid_s WHEN 8 THEN 'hosts' || b.eid_s
    WHEN 10 THEN 'ahost' || b.eid_s WHEN 11 THEN 'khost' || b.eid_s
    ELSE NULL END AS host_hostname,
  CASE b.bsel WHEN 0 THEN 'hosta' || b.eid_s WHEN 1 THEN 'prod_dmz_hb' || b.eid_s
    WHEN 2 THEN 'hostc' || b.eid_s WHEN 4 THEN 'hostd' || b.eid_s
    WHEN 5 THEN 'hostd' || b.eid_s WHEN 6 THEN 'hoste' || b.eid_s
    WHEN 7 THEN 'hostf' || b.eid_s WHEN 8 THEN 'hosts' || b.eid_s
    WHEN 10 THEN 'ahost' || b.eid_s WHEN 11 THEN 'khost' || b.eid_s
    ELSE NULL END AS host_name,
  CASE b.bsel WHEN 1 THEN 'domt' WHEN 4 THEN 'domd' || b.eid_s
    WHEN 5 THEN 'domd' || b.eid_s WHEN 6 THEN 'domb' WHEN 7 THEN 'doms'
    WHEN 8 THEN 'domc' ELSE NULL END AS host_domain,
  CASE b.bsel WHEN 0 THEN '10.1.2.3' WHEN 7 THEN '10.2.3.4' ELSE NULL END AS host_ip,
  CASE b.bsel WHEN 6 THEN '10.0.0.5' WHEN 8 THEN '8.8.4.4' ELSE NULL END AS source_ip,
  CASE b.bsel WHEN 10 THEN 'ahost' || b.eid_s ELSE NULL END AS source_address,
  CASE b.bsel WHEN 8 THEN 'aa:bb:cc:dd:ee:0f' ELSE NULL END AS source_mac,
  CASE b.bsel WHEN 8 THEN CAST(5555 AS BIGINT) ELSE NULL END AS source_port,
  CASE b.bsel WHEN 8 THEN '172.16.1.2' ELSE NULL END AS destination_ip,
  CASE b.bsel WHEN 8 THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE b.bsel WHEN 0 THEN 'u' || b.eid_s WHEN 4 THEN 'adm' || b.eid_s
    WHEN 5 THEN 'adm' || b.eid_s WHEN 6 THEN 'u' || b.eid_s ELSE NULL END AS user_name,
  CASE b.bsel WHEN 0 THEN 'riskz' || b.eid_s WHEN 6 THEN 'ruleb' || b.eid_s
    WHEN 7 THEN 'scanfull' WHEN 8 THEN 'sigstr' || b.eid_s WHEN 9 THEN 'heuristic'
    WHEN 11 THEN 'rulek' || b.eid_s ELSE NULL END AS rule_name,
  CASE b.bsel WHEN 0 THEN 'srvdesc' || b.eid_s WHEN 1 THEN 'tcpd' || b.eid_s
    WHEN 4 THEN 'admdesc' || b.eid_s WHEN 5 THEN 'administrator log on failed'
    WHEN 6 THEN 'evname' || b.eid_s WHEN 7 THEN 'evscan' || b.eid_s
    WHEN 8 THEN (CASE WHEN b.rsel = 0 THEN 'evsec' || b.eid_s ELSE NULL END)
    WHEN 10 THEN 'descg' || b.eid_s
    WHEN 11 THEN 'blocked file ''c:/apps/k' || b.eid_s || '.exe'' found'
    ELSE NULL END AS rule_description,
  CASE b.bsel WHEN 0 THEN 'loca' WHEN 4 THEN 'audit/information'
    WHEN 5 THEN 'audit/information' ELSE NULL END AS rule_category,
  CASE b.bsel WHEN 2 THEN 'rset' || b.eid_s WHEN 4 THEN 'rseta' || b.eid_s
    WHEN 5 THEN 'rseta' || b.eid_s WHEN 7 THEN 'rsets' || b.eid_s
    ELSE NULL END AS rule_ruleset,
  CASE b.bsel WHEN 8 THEN '71' || b.eid_s ELSE NULL END AS rule_id,
  CASE b.bsel WHEN 8 THEN '33' WHEN 10 THEN '2' ELSE NULL END AS rule_uuid,
  CASE b.bsel WHEN 0 THEN 'blocked'
    WHEN 2 THEN 'started [u' || b.eid_s || '@corp.example]'
    WHEN 6 THEN 'blocked' WHEN 7 THEN 'completed'
    WHEN 8 THEN (CASE WHEN b.rsel = 0 THEN 'audited' ELSE NULL END)
    WHEN 9 THEN 'actd' || b.eid_s ELSE NULL END AS event_action,
  CASE b.bsel WHEN 0 THEN 'catt' ELSE NULL END AS event_type,
  CASE b.bsel WHEN 6 THEN 'at1' WHEN 7 THEN 'ec2' ELSE NULL END AS event_code,
  CASE b.bsel WHEN 8 THEN 'blocked' ELSE NULL END AS event_outcome,
  CASE b.bsel WHEN 8 THEN 'networkidps' ELSE NULL END AS event_category,
  CASE WHEN b.bsel IN (6, 7, 8, 10, 11)
    THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND))
    ELSE NULL END AS event_start_ms,
  CASE WHEN b.bsel IN (0, 6, 7, 8)
    THEN epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND))
    ELSE NULL END AS event_end_ms,
  CASE b.bsel WHEN 8 THEN '71' || b.eid_s ELSE '0' END AS event_sequence,
  CASE b.bsel WHEN 7 THEN '42' ELSE NULL END AS event_duration,
  CASE b.bsel WHEN 9 THEN 'high' ELSE NULL END AS event_severity_name,
  CASE b.bsel WHEN 0 THEN '/tmp/y' || b.eid_s || '.exe'
    WHEN 6 THEN '/tmp/f' || b.eid_s || '.bin' WHEN 9 THEN '/tmp/s' || b.eid_s || '.exe'
    WHEN 11 THEN 'c:/apps/k' || b.eid_s || '.exe' ELSE NULL END AS file_path,
  CASE b.bsel WHEN 0 THEN CAST(123 AS BIGINT) WHEN 6 THEN CAST(456 AS BIGINT)
    ELSE NULL END AS file_size,
  CASE b.bsel WHEN 0 THEN 'web.example.com' ELSE NULL END AS url_domain,
  CASE b.bsel WHEN 8 THEN 'http://bad.example/x' || b.eid_s ELSE NULL END AS url_full,
  CASE b.bsel WHEN 0 THEN 'http://dl.example.com/x' ELSE NULL END AS event_url,
  CASE b.bsel WHEN 0 THEN 'chrome' ELSE NULL END AS package_type,
  CASE b.bsel WHEN 8 THEN 'inbound' ELSE NULL END AS network_direction,
  CASE b.bsel WHEN 8 THEN 'tcp' ELSE NULL END AS network_protocol,
  CASE b.bsel WHEN 2 THEN 'u' || b.eid_s || '@corp.example' ELSE NULL END AS destination_user_email,
  CASE b.bsel WHEN 6 THEN CAST(123 AS BIGINT) ELSE NULL END AS process_pid,
  CASE b.bsel WHEN 6 THEN 'proc.exe' WHEN 8 THEN 'procx' ELSE NULL END AS process_name
FROM sym_turns t JOIN sym_base b USING (event_id)""",

    // --- event_hub_audit_azure.* family oracles. Envelope convention:
    // esel 0 → two records (sub_idx 0 + the UNION'd 'b' row), 1 → one
    // record, 2 → bare object. Style-A bare rows never set the split
    // target, so every record field is NULL and the tenant hostname stays
    // an unresolved sprintf literal that 94 scrubs to NULL. ---
    "qeh01_insaudit" ->
      s"""WITH ${Transcripts.ehaCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'azure.eventhub' AS agent_name,
  -- the unresolved sprintf literal is NOT scrubbed by 94 (its bracketless
  -- character-class pattern cannot match field refs) and 07 lowercases it
  CASE WHEN b.esel = 2 THEN '%{[azaudit][tenantid]}' ELSE b.tnt END AS log_source_hostname,
  'azure' AS event_module, 'azure.eventhub.insights_audit' AS event_dataset,
  'logs-azure.eventhub.insights_audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'app' || b.eid_s END AS user_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE LOWER(b.op) END AS rule_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE '1.0' END AS rule_version,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'auditlogs' END AS rule_category,
  CASE WHEN b.esel = 2 THEN NULL ELSE b.tnt END AS rule_id,
  CASE WHEN b.esel = 2 THEN NULL ELSE LOWER(b.rt) END AS event_action,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'sig' || b.eid_s END AS error_code,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'desc ' || b.eid_s END AS rule_description,
  CAST(NULL AS STRING) AS event_id_s,
  CASE WHEN b.esel = 2 THEN NULL ELSE '4' END AS log_level,
  CASE WHEN b.esel = 2 THEN NULL ELSE b.cip END AS source_ip,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'iu' || b.eid_s || '@corp.example' END AS source_user_email,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'tu' || b.eid_s || '@corp.example' END AS user_email,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'tid' || b.eid_s END AS destination_user_id,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'usermanagement' END AS event_kind,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'reason ' || b.eid_s END AS event_reason,
  CASE WHEN b.esel = 2 THEN NULL WHEN b.usel = 0 THEN 'du' || b.eid_s ELSE 'uid' || b.eid_s END AS user_id
FROM eha_turns t JOIN eha_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', 'azure.eventhub', b.tnt,
  'azure', 'azure.eventhub.insights_audit',
  'logs-azure.eventhub.insights_audit_' || strftime(t.ts, '%Y.%m.%d'),
  epoch_ms(t.ts),
  'app' || b.eid_s || 'b', LOWER(b.op), '1.0', 'auditlogs', b.tnt, LOWER(b.rt),
  'sig' || b.eid_s || 'b', 'desc ' || b.eid_s || 'b', NULL, '4', b.cip,
  'iu' || b.eid_s || 'b@corp.example', 'tu' || b.eid_s || 'b@corp.example',
  'tid' || b.eid_s || 'b', 'usermanagement', 'reason ' || b.eid_s || 'b',
  CASE WHEN b.usel = 0 THEN 'du' || b.eid_s || 'b' ELSE 'uid' || b.eid_s || 'b' END
FROM eha_turns t JOIN eha_base b USING (event_id) WHERE b.esel = 0""",

    "qeh02_insops" ->
      s"""WITH ${Transcripts.ehoCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'azure.eventhub' AS agent_name,
  CASE WHEN b.esel = 2 THEN '%{[azops][tenantid]}' ELSE b.tnt END AS log_source_hostname,
  'azure' AS event_module, 'azure.eventhub.insights_operational' AS event_dataset,
  'logs-azure.eventhub.insights_operational_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(t.ts) AS event_created_ms,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'topop' || b.eid_s END AS rule_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE '2' END AS rule_version,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'topcat' || b.eid_s END AS rule_category,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'ok' || b.eid_s END AS event_action,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'e' || b.eid_s END AS error_code,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'reason ' || b.eid_s END AS rule_description,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'ev' || b.eid_s END AS event_id_s,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'uid' || b.eid_s END AS user_id,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'information' END AS log_level,
  CASE WHEN b.esel = 2 THEN NULL ELSE '10.0' END AS host_os_version,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'windows' END AS host_os_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE b.tnt END AS rule_id
FROM eho_turns t JOIN eho_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', 'azure.eventhub', b.tnt,
  'azure', 'azure.eventhub.insights_operational',
  'logs-azure.eventhub.insights_operational_' || strftime(t.ts, '%Y.%m.%d'),
  epoch_ms(t.ts),
  'topop' || b.eid_s || 'b', '2', 'topcat' || b.eid_s || 'b', 'ok' || b.eid_s || 'b',
  'e' || b.eid_s || 'b', 'reason ' || b.eid_s || 'b', 'ev' || b.eid_s || 'b',
  'uid' || b.eid_s || 'b', 'information', '10.0', 'windows', b.tnt
FROM eho_turns t JOIN eho_base b USING (event_id) WHERE b.esel = 0""",

    // style-B bare objects parse straight into [az] — full values, sub_idx 0
    "qeh03_azaudit" ->
      s"""WITH ${Transcripts.ehzCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, b.tnt AS log_source_hostname,
  'azure' AS event_module, 'azure.audit' AS event_dataset,
  'logs-azure.audit_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'add' AS event_action, 'aad-' || b.tnt AS rule_id,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000) AS event_created_ms,
  'add user ' || b.eid_s AS rule_name, 'auditlogs' AS event_category,
  CAST(b.event_id % 5000 AS STRING) AS event_duration,
  'id' || b.eid_s AS event_id_s, 'iuid' || b.eid_s AS source_user_id,
  'iu' || b.eid_s || '@corp.example' AS source_user_email,
  b.cip AS source_ip, CAST(3 AS BIGINT) AS event_severity,
  '2.1' AS rule_version, b.res AS event_outcome,
  'rdesc ' || b.eid_s AS rule_description,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  'auditlogs' AS event_type,
  CAST(NULL AS STRING) AS destination_user_id,
  CAST(NULL AS STRING) AS destination_user_email
FROM ehz_turns t JOIN ehz_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', b.tnt, 'azure', 'azure.audit',
  'logs-azure.audit_' || strftime(t.ts, '%Y.%m.%d'),
  'add', 'aad-' || b.tnt,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000),
  'add user ' || b.eid_s || 'b', 'auditlogs', CAST(b.event_id % 5000 AS STRING),
  'id' || b.eid_s || 'b', 'iuid' || b.eid_s || 'b',
  'iu' || b.eid_s || 'b@corp.example', b.cip, CAST(3 AS BIGINT), '2.1', b.res,
  'rdesc ' || b.eid_s || 'b',
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000), 'auditlogs',
  NULL, NULL
FROM ehz_turns t JOIN ehz_base b USING (event_id) WHERE b.esel = 0""",

    "qeh04_risky" ->
      s"""WITH ${Transcripts.ehrCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, b.tnt AS log_source_hostname,
  'azure.riskyuser' AS event_dataset,
  'logs-azure.riskyuser_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'userpassedmfadrivenbyriskbasedpolicy' AS rule_description,
  CAST(NULL AS BIGINT) AS event_end_ms,
  b.lvl AS event_severity_name, LOWER(b.st) AS event_outcome,
  'user ' || b.eid_s AS user_name, 'u' || b.eid_s || '@corp.example' AS user_email,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  'userriskevent' AS rule_name, 'c' || b.eid_s AS event_id_s,
  'aaduserriskevents' AS event_type, epoch_ms(t.ts) AS event_created_ms
FROM ehr_turns t JOIN ehr_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', b.tnt, 'azure.riskyuser',
  'logs-azure.riskyuser_' || strftime(t.ts, '%Y.%m.%d'),
  'userpassedmfadrivenbyriskbasedpolicy', NULL, b.lvl, LOWER(b.st),
  'user ' || b.eid_s || 'b', 'u' || b.eid_s || 'b@corp.example',
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  'userriskevent', 'c' || b.eid_s || 'b', 'aaduserriskevents', epoch_ms(t.ts)
FROM ehr_turns t JOIN ehr_base b USING (event_id) WHERE b.esel = 0""",

    "qeh05_email" ->
      s"""WITH ${Transcripts.ehmCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, 'api_azure_emailevents' AS log_source_hostname,
  'azure.emailevents' AS event_dataset,
  'logs-azure.emailevents_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'rp' || b.eid_s AS rule_id,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  'https://portal.office.com/attach/' || b.eid_s AS url_original,
  'portal.office.com' AS url_domain, '/attach/' || b.eid_s AS url_path,
  'com' AS url_tld, 'office.com' AS url_registered_domain,
  'emailevents' AS event_type, 'invoice ' || b.eid_s || '.pdf' AS file_name,
  'pdf' AS file_type, 's' || b.eid_s || '@corp.example' AS source_user_email,
  'so' || b.eid_s AS source_user_id,
  CAST(1000 + (b.event_id % 900000) AS BIGINT) AS file_size,
  'r' || b.eid_s || '@corp.example' AS destination_user_email,
  'ro' || b.eid_s AS database_user_id, epoch_ms(t.ts) AS event_created_ms
FROM ehm_turns t JOIN ehm_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', 'api_azure_emailevents',
  'azure.emailevents', 'logs-azure.emailevents_' || strftime(t.ts, '%Y.%m.%d'),
  'rp' || b.eid_s || 'b',
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  'https://portal.office.com/attach/' || b.eid_s || 'b', 'portal.office.com',
  '/attach/' || b.eid_s || 'b', 'com', 'office.com', 'emailevents',
  'invoice ' || b.eid_s || 'b.pdf', 'pdf', 's' || b.eid_s || 'b@corp.example',
  'so' || b.eid_s || 'b', CAST(1000 + (b.event_id % 900000) AS BIGINT),
  'r' || b.eid_s || 'b@corp.example', 'ro' || b.eid_s || 'b', epoch_ms(t.ts)
FROM ehm_turns t JOIN ehm_base b USING (event_id) WHERE b.esel = 0""",

    "qeh06_userrisk" ->
      s"""WITH ${Transcripts.ehuCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, b.tnt AS log_source_hostname,
  'azure.userriskevents' AS event_dataset,
  'logs-azure.userriskevents_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  'id' || b.eid_s AS event_id_s, 'u' || b.eid_s AS user_id,
  b.cip AS client_ip, 'city' || b.eid_s AS source_geo_city,
  'rq' || b.eid_s AS transaction_id,
  'adminconfirmedusercompromised' AS rule_description,
  'unlikelytravel' AS event_kind, b.lvl AS event_severity_name,
  'atrisk' AS event_outcome, 'identityprotection' AS observer_product,
  'azuread' AS source_as_organization_name,
  'u' || b.eid_s || '@corp.example' AS user_email,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  'userriskevents' AS rule_name, 'aaduserriskevents' AS event_type,
  epoch_ms(t.ts) AS event_created_ms
FROM ehu_turns t JOIN ehu_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', b.tnt, 'azure.userriskevents',
  'logs-azure.userriskevents_' || strftime(t.ts, '%Y.%m.%d'),
  'id' || b.eid_s || 'b', 'u' || b.eid_s || 'b', b.cip, 'city' || b.eid_s || 'b',
  'rq' || b.eid_s || 'b', 'adminconfirmedusercompromised', 'unlikelytravel',
  b.lvl, 'atrisk', 'identityprotection', 'azuread',
  'u' || b.eid_s || 'b@corp.example',
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  'userriskevents', 'aaduserriskevents', epoch_ms(t.ts)
FROM ehu_turns t JOIN ehu_base b USING (event_id) WHERE b.esel = 0""",

    "qeh07_incident" ->
      s"""WITH ${Transcripts.ehiCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, b.tnt AS log_source_hostname,
  'azure.securityincident' AS event_dataset,
  'logs-azure.securityincident_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms,
  'desc ' || b.eid_s AS rule_description,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000) AS event_start_ms,
  b.inum AS event_id_s, 'inc-' || b.eid_s AS rule_name,
  epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND)) + (b.event_id % 1000) AS event_modified_ms,
  'azure sentinel' AS event_provider, LOWER(b.sev) AS event_severity_name,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  'securityincident' AS event_type, b.tnt AS rule_id,
  'incident ' || b.eid_s AS event_kind
FROM ehi_turns t JOIN ehi_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', b.tnt, 'azure.securityincident',
  'logs-azure.securityincident_' || strftime(t.ts, '%Y.%m.%d'),
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  'desc ' || b.eid_s || 'b',
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000),
  b.inum, 'inc-' || b.eid_s || 'b',
  epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND)) + (b.event_id % 1000),
  'azure sentinel', LOWER(b.sev),
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  'securityincident', b.tnt, 'incident ' || b.eid_s || 'b'
FROM ehi_turns t JOIN ehi_base b USING (event_id) WHERE b.esel = 0""",

    // anomalies: bare objects hit the no-array split (tagged, all NULL);
    // object-shaped entities/extendedlinks exercise the live probe arm,
    // array-shaped ones the dead arm; tactics always flatten to NULL
    // (array renamed onto a scalar), techniques keep their array column
    "qeh08_anomalies" ->
      s"""WITH ${Transcripts.ehnCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule,
  CASE WHEN b.esel = 2 THEN '%{[tmp][records][tenantid]}' ELSE b.tnt END AS log_source_hostname,
  'azure.anomalies' AS event_dataset,
  'logs-azure.anomalies_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'user ' || b.eid_s END AS user_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'u' || b.eid_s || '@corp.example' END AS user_email,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'acct ' || b.eid_s END AS user_full_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'ao' || b.eid_s END AS user_id,
  CASE WHEN b.esel = 2 THEN epoch_ms(t.ts)
       ELSE epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) END AS event_created_ms,
  CASE WHEN b.esel = 2 THEN NULL
       ELSE epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000) END AS event_start_ms,
  CASE WHEN b.esel = 2 THEN NULL
       ELSE epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND)) + (b.event_id % 1000) END AS event_end_ms,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'anomalous sign-in' END AS rule_name,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'ar' || b.eid_s END AS rule_id,
  CASE WHEN b.esel = 2 OR b.xobj <> 0 THEN NULL ELSE 'view anomaly' END AS event_kind,
  CASE WHEN b.esel = 2 THEN NULL ELSE 'chrome' END AS ua_device_name,
  CASE WHEN b.esel = 2 OR b.nobj <> 0 THEN NULL ELSE b.cip END AS source_ip,
  CASE WHEN b.esel = 2 THEN NULL ELSE CAST(b.event_id % 100 AS BIGINT) END AS event_risk_score,
  CAST(NULL AS STRING) AS threat_tactic_name,
  CASE WHEN b.esel = 2 THEN '' ELSE 't1078,t1110' END AS threat_technique_id_s
FROM ehn_turns t JOIN ehn_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', b.tnt, 'azure.anomalies',
  'logs-azure.anomalies_' || strftime(t.ts, '%Y.%m.%d'),
  'user ' || b.eid_s || 'b', 'u' || b.eid_s || 'b@corp.example',
  'acct ' || b.eid_s || 'b', 'ao' || b.eid_s || 'b',
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000),
  epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) + (b.event_id % 1000),
  epoch_ms(date_trunc('second', t.ts + INTERVAL 131 SECOND)) + (b.event_id % 1000),
  'anomalous sign-in', 'ar' || b.eid_s || 'b',
  CASE WHEN b.xobj <> 0 THEN NULL ELSE 'view anomaly' END, 'chrome',
  CASE WHEN b.nobj <> 0 THEN NULL ELSE b.cip END,
  CAST(b.event_id % 100 AS BIGINT), NULL, 't1078,t1110'
FROM ehn_turns t JOIN ehn_base b USING (event_id) WHERE b.esel = 0""",

    // interactive_signin: msel 0 = millisecond stamps (the date gsub fires
    // and DESTROYS them → created falls to the 03 default, ingested lost);
    // msel 1 = second-resolution stamps (gsub skipped, both parse)
    "qeh09_signin" ->
      s"""WITH ${Transcripts.ehsCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'rule 1' AS parse_rule, b.tnt AS cloud_account_id,
  CASE WHEN b.msel = 0 THEN NULL
       ELSE epoch_ms(date_trunc('second', t.ts)) END AS event_ingested_ms,
  'signinlogs' AS event_category,
  CAST(b.event_id % 5000 AS STRING) AS event_duration,
  '0' AS error_code, 'c' || b.eid_s AS event_id_s,
  CASE WHEN b.msel = 0 THEN epoch_ms(t.ts)
       ELSE epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) END AS event_created_ms,
  b.cip AS source_ip, 'Mozilla/5.0' AS user_agent_original,
  'u' || b.eid_s || '@corp.example' AS user_email, 'office 365' AS process_name,
  'uid' || b.eid_s AS user_id, '1.0' AS service_version,
  'other.' AS event_reason, 'rd ' || b.eid_s AS error_message,
  CAST(64512 + (b.event_id % 1000) AS BIGINT) AS source_as_number,
  'User ' || b.eid_s AS user_full_name, 'success' AS event_action,
  'rsp' || b.eid_s AS cloud_instance_id,
  'mfa requirement satisfied' AS rule_category, '50140' AS rule_id,
  'multifactorauthentication' AS event_kind, 'browser' AS event_provider,
  'signinlogs' AS event_type, 'dev' || b.eid_s AS host_id,
  'windows10' AS host_os_name, 'host-' || b.eid_s AS host_hostname,
  'password' AS http_request_method, 'correct password' AS rule_description,
  'azure ad joined' AS tls_version_protocol,
  CAST(NULL AS STRING) AS event_outcome,
  '[{"displayname":"policy a","result":"notapplied"}]' AS user_group_name,
  'login hint present' AS tls_cipher,
  'host-' || b.eid_s AS log_source_hostname
FROM ehs_turns t JOIN ehs_base b USING (event_id)
UNION ALL
SELECT t.conv_id, t.turn_idx, 1, 1, 'rule 1', b.tnt,
  CASE WHEN b.msel = 0 THEN NULL ELSE epoch_ms(date_trunc('second', t.ts)) END,
  'signinlogs', CAST(b.event_id % 5000 AS STRING), '0', 'c' || b.eid_s || 'b',
  CASE WHEN b.msel = 0 THEN epoch_ms(t.ts)
       ELSE epoch_ms(date_trunc('second', t.ts + INTERVAL 67 SECOND)) END,
  b.cip, 'Mozilla/5.0', 'u' || b.eid_s || 'b@corp.example', 'office 365',
  'uid' || b.eid_s || 'b', '1.0', 'other.', 'rd ' || b.eid_s || 'b',
  CAST(64512 + (b.event_id % 1000) AS BIGINT), 'User ' || b.eid_s || 'b',
  'success', 'rsp' || b.eid_s || 'b', 'mfa requirement satisfied', '50140',
  'multifactorauthentication', 'browser', 'signinlogs', 'dev' || b.eid_s || 'b',
  'windows10', 'host-' || b.eid_s || 'b', 'password', 'correct password',
  'azure ad joined', NULL,
  '[{"displayname":"policy a","result":"notapplied"}]', 'login hint present',
  'host-' || b.eid_s || 'b'
FROM ehs_turns t JOIN ehs_base b USING (event_id) WHERE b.esel = 0""",

    "qpt01_trap" ->
      s"""WITH ${Transcripts.ptCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'phish campaign ' || CAST(b.event_id % 25 AS STRING) AS event_reason,
  CAST(NULL AS STRING) AS event_category, -- array-valued event_sources
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CAST(NULL AS STRING) AS event_id_s, -- array-valued event_ids
  'incident desc ' || b.eid_s AS rule_description,
  b.eid_s AS trace_id,
  CAST(b.event_id % 100 AS BIGINT) AS event_risk_score,
  CASE WHEN (b.event_id % 2) = 0 THEN 'closed' ELSE 'open' END AS event_outcome,
  epoch_ms(date_trunc('second', t.ts)) AS event_end_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_modified_ms,
  CAST(1 + (b.event_id % 9) AS STRING) AS event_sequence,
  'resolved by analyst ' || CAST(b.event_id % 8 AS STRING) AS event_recommendation,
  CAST(b.event_id % 5 AS BIGINT) AS event_risk_score_norm,
  'phish' AS threat_list_category,
  'email' AS threat_list_attribute_tag,
  CASE (b.event_id % 3) WHEN 0 THEN 'critical' WHEN 1 THEN 'high' ELSE 'medium' END AS event_severity_name,
  CAST(NULL AS STRING) AS user_email, -- array (every recipient, the or-'null' bug)
  b.cnc2 || ',' || b.cnc1 AS related_ip_s, -- 198.x sorts before 203.x
  'api_proofpoint_trap' AS log_source_hostname
FROM pt_turns t JOIN pt_base b USING (event_id)""",

    "qmk01_meraki" ->
      s"""WITH ${Transcripts.mkCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.rsel WHEN 0 THEN 'rule 2,rule 5,rule 6' WHEN 1 THEN 'rule 3,rule 5,rule 6'
       WHEN 2 THEN 'rule 4' ELSE 'rule 1' END AS parse_rule,
  CASE b.rsel WHEN 2 THEN '1:' || CAST(20000 + (b.event_id % 9000) AS STRING) || '/blocked'
       WHEN 3 THEN 'filteringblocked' ELSE NULL END AS event_action,
  CASE WHEN b.rsel IN (0, 1) THEN '8' ELSE NULL END AS source_address,
  CASE WHEN b.rsel IN (0, 1) THEN
    CAST(b.user_id % 200 AS STRING) || '.' || CAST(b.event_id % 250 AS STRING)
    || '.' || CAST(1 + (b.event_id % 254) AS STRING) || ':' || CAST(b.spt AS STRING)
  ELSE NULL END AS source_domain,
  CASE WHEN b.rsel IN (0, 1) THEN CAST(b.spt AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.rsel IN (0, 1) THEN '172' ELSE NULL END AS destination_address,
  CASE WHEN b.rsel = 0 THEN '16.' || CAST(b.event_id % 100 AS STRING) || '.' || CAST(1 + (b.user_id % 254) AS STRING) || ':443'
       WHEN b.rsel = 1 THEN '16.' || CAST(b.event_id % 100 AS STRING) || '.' || CAST(1 + (b.user_id % 254) AS STRING) || ':80'
       ELSE NULL END AS destination_domain,
  CASE WHEN b.rsel = 0 THEN CAST(443 AS BIGINT)
       WHEN b.rsel = 1 THEN CAST(80 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.rsel = 0 THEN 'tcp' WHEN b.rsel = 1 THEN 'http' ELSE NULL END AS network_protocol,
  CASE WHEN b.rsel = 0 THEN '10.99.' || CAST(b.event_id % 200 AS STRING) || '.9' ELSE NULL END AS source_nat_ip,
  CASE WHEN b.rsel = 1 THEN 'https://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk/p/' || b.eid_s
       WHEN b.rsel = 3 THEN 'https://bad' || CAST(b.event_id % 40 AS STRING) || '.example/x'
       ELSE NULL END AS url_full,
  CASE (b.event_id % 8) WHEN 3 THEN 'security/vulnerability' WHEN 4 THEN 'security/warning'
       WHEN 5 THEN 'security/activity' ELSE 'others' END AS rule_category,
  CASE (b.event_id % 8) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
       WHEN 2 THEN 'critical' WHEN 3 THEN 'error' WHEN 4 THEN 'warning'
       WHEN 5 THEN 'notice' WHEN 6 THEN 'informational' ELSE 'debug' END AS sev_name
FROM mk_turns t JOIN mk_base b USING (event_id)""",

    "qgh01_github" ->
      s"""WITH ${Transcripts.ghCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'ghe' AS server_address, -- host-split keeps the name, domain splits off
  CAST(50000 + (b.event_id % 9000) AS BIGINT) AS client_port,
  CAST(b.event_id % 60000 AS BIGINT) AS http_request_bytes,
  '/api/v3/repos?page=' || CAST(b.event_id % 30 AS STRING) AS url_query,
  'http/1.1' AS http_version,
  b.cip AS client_ip,
  CASE WHEN (b.event_id % 6) = 0 THEN CAST(404 AS BIGINT) ELSE CAST(200 AS BIGINT) END AS http_response_status_code,
  CASE WHEN (b.event_id % 2) = 0 THEN 'get' ELSE 'post' END AS http_request_method,
  'github-unicorn' AS service_name,
  'ghe-node' || CAST(b.user_id % 4 AS STRING) AS log_source_hostname,
  CAST(1000 + (b.event_id % 9000) AS BIGINT) AS process_pid,
  'request completed ' || b.eid_s AS rule_description,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms
FROM gh_turns t JOIN gh_base b USING (event_id)""",

    "qcx01_citrix" ->
      s"""WITH ${Transcripts.cxCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'wks' || CAST(b.user_id % 30 AS STRING) AS source_address,
  b.cip AS source_ip,
  b.uname AS source_user_id,
  'User ' || b.uname AS source_user_full_name,
  'corp' AS source_user_domain,
  '10.20.' || CAST(b.event_id % 200 AS STRING) || '.9' AS source_nat_ip,
  'xen' || CAST(b.event_id % 9 AS STRING) AS destination_address,
  '10.30.' || CAST(b.event_id % 200 AS STRING) || '.9' AS destination_nat_ip,
  'desktop' || CAST(b.event_id % 5 AS STRING) AS service_ephemeral_id,
  '1' AS event_code,
  'hdx' AS network_protocol,
  'windows' AS host_os_name,
  's' || b.eid_s AS event_id_s,
  'hostedondesktop' AS service_type,
  'receiver' AS user_agent_name,
  'gw' || CAST(b.event_id % 4 AS STRING) AS server_address,
  '19.12.0.' || CAST(b.event_id % 300 AS STRING) AS host_os_version,
  'session' || b.eid_s AS service_name,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms
FROM cx_turns t JOIN cx_base b USING (event_id)""",

    "qck01_checkpoint" ->
      s"""WITH ${Transcripts.ckCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE WHEN b.rsel = 4 THEN 'type 2' WHEN b.rsel = 5 THEN 'other' ELSE 'type 1' END AS parse_rule,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE b.gw END AS observer_name,
  CASE WHEN b.rsel IN (4, 5) THEN NULL
       WHEN (b.event_id % 5) < 3 THEN 'accept' ELSE 'drop' END AS event_action,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE 'vpn-1 & firewall-1' END AS observer_product,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE CAST(1 + (b.event_id % 5) AS BIGINT) END AS event_severity,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE b.dip END AS destination_ip,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE CAST(443 AS BIGINT) END AS destination_port,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE CAST(b.spt AS BIGINT) END AS source_port,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE b.sip END AS source_ip,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE '10.9.' || CAST(b.event_id % 200 AS STRING) || '.1' END AS host_ip,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE '6' END AS network_iana_number,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE 'tcp' END AS network_transport,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE 'https' END AS network_protocol,
  CASE WHEN b.rsel IN (4, 5) THEN NULL
       WHEN (b.event_id % 2) = 0 THEN 'inbound' ELSE 'outbound' END AS network_direction,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE CAST(b.event_id % 40 AS STRING) END AS rule_id,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE 'implied rule' END AS rule_category,
  CASE WHEN b.rsel IN (4, 5) THEN NULL ELSE 'standard_' || CAST(b.event_id % 12 AS STRING) END AS rule_ruleset,
  CASE WHEN b.rsel IN (4, 5) THEN epoch_ms(t.ts) -- enrichment default
       ELSE b.stime * 1000 END AS event_created_ms,
  CASE WHEN b.rsel IN (4, 5) THEN 'checkpoint_fw' ELSE b.gw END AS log_source_hostname,
  CAST(NULL AS STRING) AS event_module, -- :141 add_field → array, flattens null
  'checkpoint.fw' AS event_kind,
  CASE WHEN b.rsel = 4 THEN 'unable to reach peer ' || CAST(b.event_id % 50 AS STRING) ELSE NULL END AS error_message
FROM ck_turns t JOIN ck_base b USING (event_id)
WHERE b.rsel <> 0""",

    "qlh01_linuxhost" ->
      s"""WITH ${Transcripts.lhCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.rsel WHEN 0 THEN 'rule 1,rule 2' WHEN 1 THEN 'rule 1,rule 3'
       WHEN 2 THEN 'rule 4' WHEN 3 THEN 'rule 5' WHEN 4 THEN 'rule 6'
       WHEN 5 THEN 'rule 7,rule 8' WHEN 6 THEN 'rule 7,rule 9'
       ELSE 'rule 1,rule 3' END AS parse_rule,
  CASE b.rsel WHEN 0 THEN 'sshd' WHEN 1 THEN 'passwd' WHEN 2 THEN 'rhnsd'
       WHEN 3 THEN 'gdm' WHEN 4 THEN 'dhclient' WHEN 7 THEN 'sshd'
       ELSE 'systemd' END AS event_type,
  CASE WHEN b.rsel IN (5, 6) THEN NULL ELSE CAST(b.pid AS BIGINT) END AS process_pid,
  CASE b.rsel WHEN 0 THEN 'error' WHEN 1 THEN 'failed to change password'
       WHEN 3 THEN 'error' WHEN 7 THEN 'fatal: access denied'
       ELSE NULL END AS event_severity_name,
  CASE b.rsel
    WHEN 0 THEN 'password: token has expired (error)'
    WHEN 1 THEN 'failed to change password for ' || b.uname
    WHEN 2 THEN 'running rhn_check ' || b.eid_s
    WHEN 3 THEN 'gdm check failed ' || b.eid_s
    WHEN 4 THEN 'dhcprequest on eth0 to 10.1.1.1 port 67'
    WHEN 5 THEN 'started session ' || CAST(b.event_id % 900 AS STRING) || ' of user ' || b.uname
    WHEN 6 THEN 'created slice of user ' || b.uname
    ELSE 'fatal: access denied for user root from 8.9.' || CAST(b.event_id % 200 AS STRING) || '.7'
  END AS rule_description,
  CASE b.rsel WHEN 0 THEN 'ops error' WHEN 1 THEN 'security denial of service'
       WHEN 3 THEN 'ops error' WHEN 7 THEN 'ops network deny'
       ELSE NULL END AS rule_category,
  CASE b.rsel WHEN 5 THEN b.uname WHEN 6 THEN ' user ' || b.uname
       ELSE NULL END AS user_name,
  b.hname AS host_hostname,
  b.hname AS log_source_hostname,
  CAST(NULL AS STRING) AS host_name, -- copied then renamed away
  epoch_ms(date_trunc('second', t.ts)) AS event_start_ms,
  CASE b.rsel WHEN 0 THEN 'critical' WHEN 1 THEN 'notice' WHEN 2 THEN 'debug'
       WHEN 3 THEN 'error' WHEN 7 THEN 'critical'
       ELSE 'informational' END AS sev_name,
  CASE WHEN b.rsel IN (0, 1, 7) THEN 'security/authorization'
       ELSE 'daemon' END AS fac_name
FROM lh_turns t JOIN lh_base b USING (event_id)""",

    "qg01_guardduty" ->
      s"""WITH ${Transcripts.gdCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CAST(1 + (b.event_id % 8) AS BIGINT) AS event_severity,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_modified_ms,
  'finding ' || CAST(b.event_id % 40 AS STRING) AS event_reason,
  'desc ' || b.eid_s AS rule_description,
  '2.0' AS service_version,
  b.acct AS cloud_account_id,
  'us-east-1' AS cloud_region,
  'aws' AS cloud_provider,
  'gd' || b.eid_s AS event_id_s,
  CASE b.fsel WHEN 0 THEN 'unauthorizedaccess:ec2/sshbruteforce'
       ELSE 'recon:iamuser/userpermissions' END AS rule_name,
  'us-east-1' || (CASE (b.event_id % 3) WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END) AS cloud_availability_zone,
  'amazon linux 2' AS container_image_name,
  'i-' || CAST(b.event_id % 4000 AS STRING) AS cloud_instance_id,
  'running' AS service_state,
  't3.' || (CASE (b.event_id % 3) WHEN 0 THEN 'micro' WHEN 1 THEN 'small' ELSE 'large' END) AS cloud_machine_type,
  CASE WHEN b.fsel = 1 THEN b.uname ELSE NULL END AS user_name,
  CASE WHEN b.fsel = 1 THEN CAST(64496 + (b.event_id % 90) AS BIGINT) ELSE NULL END AS source_as_number,
  CASE WHEN b.fsel = 1 THEN 'examplenet ' || CAST(b.event_id % 7 AS STRING) ELSE NULL END AS source_as_organization_name,
  CASE WHEN b.fsel = 1 THEN 'iam.amazonaws.com' ELSE NULL END AS service_name,
  CASE WHEN b.fsel = 0 THEN b.rip ELSE NULL END AS source_ip,
  CASE WHEN b.fsel = 0 THEN b.lip ELSE NULL END AS destination_ip,
  CASE b.fsel WHEN 0 THEN 'network_connection' ELSE 'aws_api_call' END AS rule_category,
  'det' || CAST(b.user_id % 40 AS STRING) AS rule_id,
  epoch_ms(date_trunc('second', t.ts)) AS event_start_ms,
  epoch_ms(date_trunc('second', t.ts)) AS event_end_ms,
  b.acct AS log_source_hostname,
  CASE WHEN (b.event_id % 5) = 0 THEN '0' ELSE NULL END AS log_syslog_priority,
  CASE WHEN (b.event_id % 3) = 0
       THEN 'sg-db' || CAST(b.event_id % 20 AS STRING) || ',sg-web' || CAST(b.event_id % 20 AS STRING)
       ELSE 'sg-web' || CAST(b.event_id % 20 AS STRING) END AS cloud_project_name_s
FROM gd_turns t JOIN gd_base b USING (event_id)""",

    "qsa01_securityalert" ->
      s"""WITH ${Transcripts.saCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 0 AS sub_idx, 1 AS parse_ok_i,
  'suspicious sign-in ' || CAST(b.event_id % 25 AS STRING) AS rule_name,
  CASE (b.event_id % 3) WHEN 0 THEN 'high' WHEN 1 THEN 'medium' ELSE 'low' END AS event_severity_name,
  'unfamiliarlocation' AS rule_category,
  'alert desc ' || b.eid_s AS rule_description,
  'user ' || b.uname AS user_name,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_end_ms,
  'ipc' AS event_provider,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_start_ms,
  CASE WHEN (b.event_id % 4) = 0 THEN 'resolved' ELSE 'new' END AS event_outcome,
  'sa' || b.eid_s AS event_id_s,
  'initialaccess' AS threat_tactic_name,
  't10' || CAST(70 + (b.event_id % 9) AS STRING) AS threat_technique_name,
  b.tenant AS rule_id,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_ingested_ms,
  'microsoft' AS observer_vendor,
  'securityalert' AS event_type,
  b.tenant AS log_source_hostname
FROM sa_turns t JOIN sa_base b USING (event_id)""",

    "qcf01_cloudfront" ->
      s"""WITH ${Transcripts.cfCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CAST(b.sbytes AS BIGINT) AS http_response_bytes,
  b.cip AS source_ip,
  CASE WHEN (b.q26 % 2) = 0 THEN 'get' ELSE 'post' END AS http_request_method,
  'd' || CAST(b.event_id % 900 AS STRING) || '.cloudfront.net' AS cloud_instance_id,
  '/p/' || b.eid_s AS url_path,
  CAST(b.status AS BIGINT) AS http_response_status_code,
  CASE WHEN (b.event_id % 3) = 1 THEN 'https://ref.example/r' || CAST(b.event_id % 40 AS STRING) ELSE NULL END AS http_request_referrer,
  'Mozilla/5.0%20(Windows%20NT%2010.0)' AS user_agent_original,
  CASE WHEN (b.event_id % 7) = 0 THEN 'q=' || CAST(b.event_id % 9 AS STRING) ELSE NULL END AS url_query,
  CASE WHEN (b.q26 % 2) = 0 THEN 'session=s' || CAST(b.event_id % 500 AS STRING) ELSE NULL END AS http_cookie_name,
  LOWER(b.rtype) AS event_outcome,
  LOWER(b.rtype) AS event_reason,
  MD5(b.eid_s) AS event_id_s,
  'www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk' AS url_domain,
  CASE WHEN (b.q26 % 2) = 0 THEN 'https' ELSE 'http' END AS url_scheme,
  CAST(b.cbytes AS BIGINT) AS http_request_bytes,
  CAST(NULL AS STRING) AS event_duration, -- deleted by the 02 long coercion
  CASE WHEN (b.event_id % 7) = 0 THEN '10.9.' || CAST(b.event_id % 200 AS STRING) || '.7' ELSE NULL END AS network_forwarded_ip,
  CASE WHEN (b.q26 % 2) = 0 THEN 'tlsv1.2' ELSE NULL END AS tls_version_protocol,
  CASE WHEN (b.q26 % 2) = 0 THEN 'ecdhe-rsa-aes128-gcm-sha256' ELSE NULL END AS tls_cipher,
  'http/2.0' AS tls_next_protocol,
  CAST(b.cport AS BIGINT) AS source_port,
  CASE (b.event_id % 3) WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/json' ELSE 'image/png' END AS http_request_mime_type,
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  'aws_cloudfront' AS log_source_hostname
FROM cf_turns t JOIN cf_base b USING (event_id)
WHERE (b.event_id % 29) <> 0""",

    "qnf01_netflow" ->
      s"""WITH ${Transcripts.nfCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  b.eid_s AS event_sequence,
  CAST(256 + (b.event_id % 4) AS STRING) AS event_id_s,
  CASE WHEN (b.event_id % 3) = 0 THEN '17' ELSE '6' END AS network_transport,
  CAST(b.nbytes AS BIGINT) AS network_bytes,
  CAST(b.npkts AS BIGINT) AS network_packets,
  '9' AS service_version,
  CAST(64496 + (b.event_id % 100) AS BIGINT) AS destination_as_number,
  CAST(NULL AS STRING) AS destination_ip, -- ipv4 rename is dead; ipv6 migrates
  CASE WHEN (b.event_id % 2) = 1 THEN b.dip6 ELSE NULL END AS destination_address,
  CASE WHEN (b.event_id % 4) = 0 THEN CAST(53 AS BIGINT) ELSE CAST(443 AS BIGINT) END AS destination_port,
  CAST(1 + (b.event_id % 8) AS STRING) AS observer_egress_interface_id,
  CAST(1 + (b.event_id % 4) AS STRING) AS observer_ingress_interface_id,
  b.sip AS source_ip,
  CAST(b.spt AS BIGINT) AS source_port,
  CAST(64500 + (b.user_id % 50) AS BIGINT) AS source_as_number,
  epoch_ms(date_trunc('minute', t.ts)) AS event_created_ms -- first_switched wins
FROM nf_turns t JOIN nf_base b USING (event_id)""",

    "qh01_hdfs" ->
      s"""WITH ${Transcripts.hdfsCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  'fsnamesystem.audit' AS event_kind,
  'prod-hdfs' AS database_instance,
  CASE (CAST(FLOOR(b.event_id / 24.0) AS BIGINT) % 4) WHEN 0 THEN 'getfileinfo'
       WHEN 1 THEN 'open' WHEN 2 THEN 'mkdirs' ELSE 'delete' END AS process_command_line,
  '/data/f' || CAST(b.event_id % 500 AS STRING) AS url_path,
  CASE WHEN (CAST(FLOOR(b.event_id / 24.0) AS BIGINT) % 3) = 0
       THEN '/data/moved' || CAST(b.event_id % 500 AS STRING)
       ELSE NULL END AS file_target_path, -- 'null' scrubbed by the 94 pass
  b.uname || ':supergroup:rw-r--r--' AS event_code,
  b.cip AS source_ip,
  'rpc' AS network_protocol,
  'access success' AS event_action, -- ref :43-49 literal condition, always true
  b.uname AS user_name,
  epoch_ms(date_trunc('second', t.ts)) + (b.event_id % 1000) AS event_created_ms
FROM hdfs_turns t JOIN hdfs_base b USING (event_id)""",

    "qlb01_f5" ->
      s"""WITH ${Transcripts.f5Cte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.rsel WHEN 0 THEN 'rule 3' WHEN 1 THEN 'rule 4' WHEN 2 THEN 'rule 4 (a)'
       WHEN 3 THEN 'rule 5' WHEN 4 THEN 'rule 7' WHEN 5 THEN 'rule 10(a)'
       ELSE 'rule 13' END AS parse_rule,
  CASE WHEN b.rsel = 4 THEN NULL ELSE 'lb' || CAST(b.user_id % 9 AS STRING) END AS source_address,
  CASE WHEN b.rsel = 4 THEN NULL ELSE 'corp.example' END AS source_domain,
  CASE WHEN b.rsel = 4 THEN 'lb' || CAST(b.user_id % 9 AS STRING) ELSE NULL END AS destination_address,
  CASE WHEN b.rsel = 4 THEN 'corp.example' ELSE NULL END AS destination_domain,
  CASE b.rsel WHEN 0 THEN 'emdeviced' WHEN 1 THEN 'logger' WHEN 2 THEN 'httpd-ssl'
       WHEN 3 THEN 'tmm1' WHEN 4 THEN 'auditd' WHEN 5 THEN 'sshd'
       ELSE 'icrd_child' END AS process_name,
  CASE WHEN b.rsel = 1 THEN NULL ELSE CAST(b.pid AS BIGINT) END AS process_pid,
  CASE b.rsel
    WHEN 0 THEN 'device heartbeat lost ' || b.eid_s
    WHEN 1 THEN 'config saved by admin' || CAST(b.event_id % 9 AS STRING)
    WHEN 2 THEN 'invalid uri /p/' || b.eid_s
    WHEN 3 THEN 'connection error: timeout after ' || CAST(b.event_id % 60 AS STRING) || 's'
    WHEN 4 THEN 'audit configuration changed by ' || b.uname
    WHEN 5 THEN 'accepted publickey for ' || b.uname
    ELSE 'generic status report ' || b.eid_s END AS rule_description,
  CASE WHEN b.rsel IN (2, 5) THEN b.sip ELSE NULL END AS source_ip,
  'others' AS rule_category, -- numeric pri never matches the label keys
  epoch_ms(date_trunc('second', t.ts)) AS event_created_ms,
  CASE (b.event_id % 8) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
       WHEN 2 THEN 'critical' WHEN 3 THEN 'error' WHEN 4 THEN 'warning'
       WHEN 5 THEN 'notice' WHEN 6 THEN 'informational' ELSE 'debug' END AS sev_name
FROM f5_turns t JOIN f5_base b USING (event_id)""",

    "qii01_iis" ->
      s"""WITH ${Transcripts.iisCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.rsel WHEN 1 THEN 'rule 2' WHEN 2 THEN 'rule 3' WHEN 3 THEN 'rule 4'
       WHEN 4 THEN 'rule 5' ELSE 'rule 6(parse)' END AS parse_rule,
  CASE WHEN b.rsel IN (1, 2, 4) THEN b.sip ELSE NULL END AS source_ip,
  CASE WHEN b.rsel IN (1, 2, 3) THEN CAST(b.spt AS BIGINT)
       WHEN b.rsel = 4 THEN CAST(443 AS BIGINT) ELSE NULL END AS source_port,
  CASE WHEN b.rsel IN (1, 2, 3, 4) THEN b.dip ELSE NULL END AS destination_ip,
  CASE WHEN b.rsel IN (1, 2) THEN CAST(443 AS BIGINT) ELSE NULL END AS destination_port,
  CASE WHEN b.rsel = 1 THEN 'conn_idle_' || CAST(b.event_id % 9 AS STRING) ELSE NULL END AS rule_description,
  CASE WHEN b.rsel = 2 THEN 'reject' ELSE NULL END AS event_action,
  CASE WHEN b.rsel IN (2, 3) THEN 'web' || CAST(b.user_id % 20 AS STRING) ELSE NULL END AS source_address,
  CASE WHEN b.rsel IN (2, 3) THEN 'corp.example' ELSE NULL END AS source_domain,
  CASE WHEN b.rsel IN (2, 3, 4) THEN CAST(b.status AS BIGINT) ELSE NULL END AS http_response_status_code,
  CASE WHEN b.rsel = 2 THEN (CASE WHEN b.status >= 400 THEN 'ops/error' ELSE 'ops/information' END)
       WHEN b.rsel IN (3, 4) THEN (CASE WHEN b.status >= 400 THEN 'ops/error' ELSE NULL END)
       ELSE NULL END AS event_category,
  CASE WHEN b.rsel = 3 THEN 'w3svc' || CAST(b.event_id % 30 AS STRING) ELSE NULL END AS service_name,
  CASE WHEN b.rsel IN (3, 4) THEN 'get' ELSE NULL END AS http_request_method,
  CASE WHEN b.rsel IN (3, 4) THEN '/p/' || b.eid_s ELSE NULL END AS url_path,
  CASE WHEN b.rsel = 3 THEN 'http://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk/p/' || b.eid_s
       WHEN b.rsel = 4 THEN 'http://www.app' || CAST(b.event_id % 30 AS STRING) || '.co.uk/r/' || b.eid_s
       ELSE NULL END AS url_full,
  CASE WHEN b.rsel IN (3, 4) THEN CAST(b.sbytes AS BIGINT) ELSE NULL END AS source_bytes,
  CASE WHEN b.rsel IN (3, 4) THEN CAST(b.dbytes AS BIGINT) ELSE NULL END AS destination_bytes,
  'iisweb-relay.corp.example' AS log_source_hostname,
  epoch_ms(t.ts) AS event_created_ms
FROM iis_turns t JOIN iis_base b USING (event_id)
WHERE b.rsel <> 0""",

    "qi01_ise" ->
      s"""WITH ${Transcripts.iseCte}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  CASE b.catsel WHEN 0 THEN 'aaa_audit' WHEN 1 THEN 'aaa_audit'
       WHEN 2 THEN 'accounting' WHEN 3 THEN 'system_diagnostics'
       ELSE 'aaa_diagnostics' END AS event_module,
  CASE WHEN b.catsel = 1 THEN 'alert' ELSE 'event' END AS event_kind,
  CASE b.catsel WHEN 3 THEN 'host' WHEN 2 THEN 'configuration'
       ELSE 'authentication' END AS event_category,
  CASE b.catsel WHEN 0 THEN 'allowed' WHEN 1 THEN 'denied' WHEN 3 THEN 'info'
       ELSE 'access' END AS event_type,
  CASE WHEN b.catsel = 2 THEN '{type=authentication}'
       WHEN b.catsel = 0 THEN 'success' WHEN b.catsel = 1 THEN 'failure'
       ELSE 'unknown' END AS event_outcome,
  LOWER(b.cat) AS event_action,
  CASE WHEN b.segsel <> 0 THEN LOWER(b.cls) ELSE NULL END AS event_provider,
  CASE WHEN b.segsel <> 0 THEN LOWER(b.mtxt) ELSE NULL END AS event_reason,
  '0000' || b.eid_s AS event_id_s,
  CASE WHEN b.segsel <> 0 THEN '5200' ELSE NULL END AS event_code,
  CAST(NULL AS STRING) AS event_sequence, -- created by :118, deleted by 02 coercion
  'ise-psn' || CAST(b.user_id % 6 AS STRING) AS observer_name,
  CASE (b.event_id % 8) WHEN 0 THEN 'emergency' WHEN 1 THEN 'alert'
       WHEN 2 THEN 'critical' WHEN 3 THEN 'error' WHEN 4 THEN 'warning'
       WHEN 5 THEN 'notice' WHEN 6 THEN 'informational' ELSE 'debug' END AS sev_name,
  b.dip AS destination_ip,
  CAST(49 AS BIGINT) AS destination_port,
  'tacacs' AS network_protocol,
  b.ndn AS host_hostname,
  b.uname AS user_name,
  b.sip AS source_ip,
  CASE WHEN (b.event_id % 4) = 1 THEN '24408' ELSE NULL END AS error_code,
  CASE WHEN (b.event_id % 4) = 1 THEN 'user authentication failed' ELSE NULL END AS error_message,
  CASE WHEN b.catsel = 2 THEN 'show running-config' ELSE NULL END AS process_command_line,
  CASE WHEN b.segsel <> 0 THEN 'den-sw' ELSE NULL END AS network_name,
  CASE WHEN b.segsel <> 0 THEN 'sw' || CAST(1 + (b.event_id % 4) AS STRING) ELSE NULL END AS service_type,
  '{"ConfigVersionId":"' || CAST(b.event_id % 90 AS STRING) || '"'
    || CASE WHEN (b.event_id % 6) = 2 THEN ',"AdminIPAddress":"10.99.9"' ELSE '' END
    || '}' AS labels_tags,
  epoch_ms(t.ts) AS event_created_ms,
  epoch_ms(t.ts) AS event_ingested_ms,
  1 AS ec_failed_i
FROM ise_turns t JOIN ise_cat b USING (event_id)""",

    "qo01_office" ->
      s"""WITH ${Transcripts.offCte},
offx AS (
  SELECT t.conv_id, t.turn_idx, t.ts, b.*, s.i AS sub_idx
  FROM off_turns t JOIN off_base b USING (event_id)
  CROSS JOIN (VALUES (0), (1)) AS s(i)
  WHERE s.i = 0 OR ((b.event_id % 2) = 0 AND (b.event_id % 4) = 0)
)
SELECT conv_id, turn_idx, sub_idx, 1 AS parse_ok_i,
  epoch_ms(date_trunc('second', ts)) + (event_id % 1000) AS event_ingested_ms,
  CASE WHEN sub_idx = 0 THEN 'site' || CAST(event_id % 40 AS STRING) ELSE NULL END AS server_user_group_id,
  'org' || CAST(user_id % 30 AS STRING) || (CASE WHEN sub_idx = 1 THEN 'b' ELSE '' END) AS organization_id,
  CASE WHEN sub_idx = 0 THEN 'https://sp.example/sites/team' || CAST(event_id % 12 AS STRING) || '/' ELSE NULL END AS event_url,
  CASE WHEN sub_idx = 1 THEN 'azureactivedirectory'
       WHEN (event_id % 2) = 0 THEN 'sharepointfileoperation' ELSE 'exchangeadmin' END AS event_type,
  uname || (CASE WHEN sub_idx = 1 THEN 'b' ELSE '' END) || '@example.com' AS user_id,
  CASE WHEN sub_idx = 0 THEN cip ELSE NULL END AS client_ip,
  CASE WHEN sub_idx = 1 THEN NULL
       WHEN (event_id % 3) = 0 THEN 'docx' WHEN (event_id % 3) = 1 THEN 'xlsx' ELSE 'pdf' END AS file_extension,
  tenant AS cloud_account_id,
  CASE WHEN sub_idx = 0 THEN 'sharepoint' ELSE 'azuread' END AS source_name,
  CASE WHEN sub_idx = 0 THEN 'doc' || CAST(event_id % 200 AS STRING) || '.bin' ELSE NULL END AS file_name,
  CASE WHEN sub_idx = 0 THEN epoch_ms(date_trunc('second', ts)) + (event_id % 1000) ELSE NULL END AS event_start_ms,
  CASE WHEN sub_idx = 0 THEN 'curl/8.5' ELSE NULL END AS user_agent_original,
  CASE WHEN sub_idx = 0 THEN 'file' ELSE NULL END AS file_type,
  CASE WHEN sub_idx = 0 THEN 'https://sp.example/sites/team' || CAST(event_id % 12 AS STRING) || '/doc' || eid_s ELSE NULL END AS url_full,
  CASE WHEN sub_idx = 0 THEN 'sites/team' || CAST(event_id % 12 AS STRING) ELSE NULL END AS url_path,
  CASE WHEN sub_idx = 0 THEN 'team ' || CAST(event_id % 12 AS STRING) || ' site' ELSE NULL END AS host_hostname,
  tenant AS log_source_hostname
FROM offx"""
  ) ++ MlEntry.oracleSql ++ graft.rules.SnowflakeFamily.oracleSql

  private lazy val q05OracleSql: String =
    s"""$pxCte
SELECT snk.sink AS sink, tool AS technology, role, tool,
  CAST(EXTRACT(YEAR FROM ts) AS INT) AS y, CAST(EXTRACT(MONTH FROM ts) AS INT) AS m,
  CAST(EXTRACT(DAY FROM ts) AS INT) AS d, CAST(EXTRACT(HOUR FROM ts) AS INT) AS h,
  COUNT(*) AS cnt
FROM px CROSS JOIN $oSinks
WHERE $oSinkFilter
GROUP BY ALL"""
}
