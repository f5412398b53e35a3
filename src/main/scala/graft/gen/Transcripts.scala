package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthesis of the transcript input table
  * `(conv_id string, turn_idx int, role string, text string, tool string,
  * ts timestamp)` — the BASELINE.json input_hint shape — as a PURE SQL
  * transformation over the driver-provided `events` parquet table.
  *
  * The SQL is written in the portable subset that parses identically in
  * Spark SQL and DuckDB, so the exact same CTE serves as (a) the engine's
  * test/bench input and (b) the prefix of every DuckDB oracle query. Each
  * turn's `text` is a log line in one of the reference's technologies:
  *
  *  - palo.alto.fw   — syslog header + PAN-OS CSV (modeled on the TRAFFIC
  *                     dissect rule, ref: config/processors/
  *                     syslog_security_palo.alto.fw.conf:59-70 "Rule 3")
  *  - aws.vpcflow    — space-delimited VPC flow records incl. NODATA drops
  *                     (ref: config/processors/api_network_aws.vpcflow.conf:14-22)
  *  - linux.rsyslog  — sshd auth lines, grok-parsed
  *                     (ref: config/processors/syslog_audit_linux_rsyslog.conf)
  *  - cef.fw         — CEF header + kv extensions (modeled on "Rule 1",
  *                     ref: syslog_security_palo.alto.fw.conf:99-122)
  *  - azure.signin   — Event Hub JSON with a records[] envelope (1 or 2
  *                     records → cardinality-increasing split path, ref:
  *                     config/processors/event_hub_audit_azure.event_hub_signin.conf:16-29)
  *  - unknown        — unparseable junk (failure-tag path)
  *
  * `conv_id` is deliberately skewed: every 7th event lands on `conv_hot`
  * (SURVEY.md §7.4 #5 — skew is a north-rule ask).
  *
  * Determinism: everything derives from (event_id, user_id, ts); no
  * wall-clock, no RNG.
  */
object Transcripts {

  /** Month-number → syslog month name, as a SQL CASE (portable). */
  private val monCase: String =
    "CASE CAST(EXTRACT(MONTH FROM ts) AS INT) WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar' WHEN 4 THEN 'Apr' WHEN 5 THEN 'May' WHEN 6 THEN 'Jun' WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug' WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov' ELSE 'Dec' END"

  /** ge_base + ge_txt only (no ROW_NUMBER window) — composable into
    * streaming plans, where non-time windows are unsupported. */
  val cteTxt: String = s"""
ge_base AS (
  SELECT event_id, ts, user_id,
    (event_id % 10) AS tsel,
    (event_id % 4) AS rsel,
    1024 + (event_id % 40000) AS spt,
    CASE (event_id % 4) WHEN 0 THEN 443 WHEN 1 THEN 80 WHEN 2 THEN 53 ELSE 22 END AS dpt,
    CASE (event_id % 3) WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS iana,
    CASE WHEN (event_id % 5) < 3 THEN 'allow' ELSE 'deny' END AS act,
    (CASE WHEN (event_id % 3) = 0 THEN '8' ELSE '10' END)
      || '.' || CAST(user_id % 200 AS STRING)
      || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    (CASE WHEN (event_id % 7) = 0 THEN '192.168' ELSE '172.16' END)
      || '.' || CAST(event_id % 100 AS STRING)
      || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '/'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '/'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS d1,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS t1,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    32 + (event_id % 8) AS pri2,
    1600000000 + (event_id % 10000000) AS ep1,
    (event_id % 100000) AS nbytes,
    1 + (event_id % 1000) AS npkts,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id AS STRING) AS uid_s
  FROM events
),
ge_txt AS (
  SELECT *,
    CASE
      WHEN tsel <= 2 THEN
        '<' || CAST(pri AS STRING) || '>' || mon || ' ' || dday || ' ' || t1
        || ' fw' || CAST(user_id % 10 AS STRING)
        || ' 1,' || d1 || ' ' || t1
        || ',00' || eid_s
        || ',TRAFFIC,end,1,' || d1 || ' ' || t1
        || ',' || sip || ',' || dip || ',0.0.0.0,0.0.0.0,rule-' || act
        || ',,,'
        || CASE (event_id % 3) WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp' ELSE 'icmp' END
        || ',' || act
        || ',' || CAST(spt AS STRING) || ',' || CAST(dpt AS STRING)
        || ',' || CAST(nbytes AS STRING) || ',' || CAST(npkts AS STRING)
        || ',' || CAST(iana AS STRING)
      WHEN tsel <= 4 THEN
        CASE WHEN (event_id % 13) = 0 THEN 'NODATA' ELSE
          '2 ' || LPAD(uid_s, 12, '0') || ' eni-' || eid_s
          || ' ' || sip || ' ' || dip
          || ' ' || CAST(spt AS STRING) || ' ' || CAST(dpt AS STRING)
          || ' ' || CAST(iana AS STRING)
          || ' ' || CAST(npkts AS STRING) || ' ' || CAST(nbytes AS STRING)
          || ' ' || CAST(ep1 AS STRING) || ' ' || CAST(ep1 + 60 AS STRING)
          || ' ' || CASE WHEN act = 'allow' THEN 'ACCEPT' ELSE 'REJECT' END
          || ' OK'
        END
      WHEN tsel <= 6 THEN
        '<' || CAST(pri2 AS STRING) || '>' || mon || ' ' || dday || ' ' || t1
        || ' host' || CAST(user_id % 20 AS STRING)
        || ' sshd[' || CAST(1000 + (event_id % 9000) AS STRING) || ']: '
        || CASE WHEN (event_id % 3) = 0
             THEN 'Accepted password for ' || uname
             ELSE 'Failed password for invalid user ' || uname END
        || ' from ' || sip || ' port ' || CAST(spt AS STRING) || ' ssh2'
      WHEN tsel = 7 THEN
        'CEF:0|PaloAlto|Fw|9.1|' || CAST(100 + (event_id % 20) AS STRING)
        || '|rule ' || CAST(event_id % 20 AS STRING)
        || '|' || CAST(event_id % 10 AS STRING)
        || '|src=' || CASE WHEN (event_id % 17) = 0 THEN 'badhost.example' ELSE sip END
        || ' dst=' || dip
        || ' spt=' || CAST(spt AS STRING) || ' dpt=' || CAST(dpt AS STRING)
        || ' act=' || act
        || ' smac=AA-BB-CC-DD-' || LPAD(CAST(event_id % 100 AS STRING), 2, '0')
        || '-' || LPAD(CAST(user_id % 100 AS STRING), 2, '0')
        || ' request=https://www.app' || CAST(event_id % 30 AS STRING)
        || '.co.uk/p/' || eid_s || '?q=' || CAST(event_id % 7 AS STRING)
        || ' cs2=' || CASE WHEN (event_id % 5) = 4 THEN 'TA9999'
                           ELSE 'TA000' || CAST(1 + (event_id % 3) AS STRING) END
      WHEN tsel = 8 THEN
        '{"records":[{"resultType":"' || CAST(event_id % 2 AS STRING)
        || '","callerIpAddress":"' || sip
        || '","identity":"User ' || uid_s
        || '","properties":{"userPrincipalName":"' || uname
        || '@example.com","userAgent":"' || CASE (event_id % 3) WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36' WHEN 1 THEN 'Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1)' ELSE 'curl/8.5' END || '","appDisplayName":"App' || CAST(event_id % 5 AS STRING)
        || '","conditionalAccessStatus":"'
        || CASE WHEN (event_id % 4) = 0 THEN 'failure' ELSE 'success' END
        || '"}}'
        || CASE WHEN (event_id % 2) = 0 THEN
             ',{"resultType":"50126","callerIpAddress":"' || dip
             || '","identity":"User ' || uid_s
             || 'b","properties":{"userPrincipalName":"' || uname
             || 'b@example.com","userAgent":"' || CASE (event_id % 3) WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36' WHEN 1 THEN 'Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1)' ELSE 'curl/8.5' END || '","appDisplayName":"App' || CAST(event_id % 5 AS STRING)
             || '","conditionalAccessStatus":"failure"}}'
           ELSE '' END
        || ']}'
      ELSE 'garbage ' || MD5(eid_s)
    END AS text,
    CASE WHEN tsel <= 2 THEN 'palo.alto.fw'
         WHEN tsel <= 4 THEN 'aws.vpcflow'
         WHEN tsel <= 6 THEN 'linux.rsyslog'
         WHEN tsel = 7 THEN 'cef.fw'
         WHEN tsel = 8 THEN 'azure.signin'
         ELSE 'unknown' END AS tool,
    CASE (event_id % 4) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
         WHEN 2 THEN 'tool' ELSE 'system' END AS role,
    CASE WHEN (event_id % 7) = 0 THEN 'conv_hot'
         ELSE 'conv_' || CAST(((user_id * 73) + (event_id % 37)) % 499 AS STRING)
    END AS conv_id
  FROM ge_base
)"""

  /** The shared CTE body. Use as: `WITH <cte> SELECT ... FROM turns`. */
  val cte: String = s"""$cteTxt,
turns AS (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY event_id) AS INT) AS turn_idx,
         role, text, tool, ts, event_id
  FROM ge_txt
)"""

  /** Additive side tables for the csv/xml technologies (separate small
    * corpora so the main 6-technology table and its oracles are untouched).
    * Same portability rules as `cte`. */
  val csvCte: String = s"""
csv_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS natip,
    (event_id % 100000) AS dbytes,
    10 * (1 + (event_id % 1000)) AS sbytes,
    CASE WHEN (event_id % 5) < 3 THEN 'allow' ELSE 'deny' END AS act
  FROM events WHERE (event_id % 5) = 0
),
csv_turns AS (
  SELECT 'csv_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    eid_s || ',' || uname || ',' || natip || ','
      || CASE WHEN (event_id % 9) = 0 THEN '' ELSE (CASE WHEN (event_id % 2) = 0 THEN 'GET' ELSE 'POST' END) END
      || ',' || CAST(dbytes AS STRING) || ',' || CAST(sbytes AS STRING)
      || ',www.app' || CAST(event_id % 30 AS STRING) || '.co.uk,/p/' || eid_s
      || ',' || act || ',rule-' || CAST(event_id % 20 AS STRING) AS text,
    'mcafee.mcp' AS tool, ts, event_id
  FROM csv_base
)"""

  val xmlCte: String = s"""
xml_turns AS (
  SELECT 'xml_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    'epoevents hdr' || CAST(event_id AS STRING) || ' srv' || CAST(user_id AS STRING)
      || ' <?xml version="1.0" encoding="UTF-8"?><epo><machineinfo><machinename>host'
      || CAST(user_id % 20 AS STRING) || '</machinename><ipaddress>10.0.'
      || CAST(event_id % 250 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING)
      || '</ipaddress><username>u' || CAST(user_id % 50 AS STRING)
      || '</username></machineinfo><mcafeecommonupdater><updateevent><severity>'
      || CAST(event_id % 8 AS STRING) || '</severity><error>'
      || CAST(event_id % 100 AS STRING) || '</error><eventid>ev'
      || CAST(event_id AS STRING)
      || '</eventid><filehash>' || MD5(CAST(event_id % 1000 AS STRING))
      || '</filehash></updateevent></mcafeecommonupdater></epo>' AS text,
    'trellix.epo' AS tool, ts, event_id
  FROM events WHERE (event_id % 7) = 3
)"""

  /** cisco.switch additive corpus (ref: syslog_audit_cisco.switch.conf) —
    * five message shapes: LINK-3-UPDOWN (interface grok), BGP-5-ADJCHANGE
    * (dissect + related-ip cleanup), SYS-4-CONFIG_I (mnemonic dict hit),
    * AAA-3-ACCT_FAIL (mnemonic fallback), and a free-form line with no
    * %FAC-SEV-MNEM structure. */
  val ciscoCte: String = s"""
cisco_base AS (
  SELECT event_id, ts, user_id,
    (event_id % 5) AS msel,
    32 + (event_id % 8) AS pri3,
    CAST(event_id AS STRING) AS eid_s,
    'sw' || CAST(user_id % 30 AS STRING) AS swname,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || '.123' AS devts,
    'GigabitEthernet0/' || CAST(event_id % 48 AS STRING) AS ifname,
    CASE WHEN (event_id % 2) = 0 THEN 'up' ELSE 'down' END AS state,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING) || '.7' AS bgpip,
    'u' || CAST(user_id % 50 AS STRING) AS uname
  FROM events WHERE (event_id % 11) = 5
),
cisco_turns AS (
  SELECT 'cs_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri3 AS STRING) || '>seq' || eid_s || ': ' ||
    CASE msel
      WHEN 0 THEN swname || ': ' || devts || ': %LINK-3-UPDOWN: Interface ' || ifname || ', changed state to ' || state
      WHEN 1 THEN swname || ': ' || devts || ': %BGP-5-ADJCHANGE: neighbor ' || bgpip || '* ' || (CASE state WHEN 'up' THEN 'Up' ELSE 'Down' END) || ' Interface flap'
      WHEN 2 THEN swname || ': ' || devts || ': %SYS-4-CONFIG_I: Configured from console by ' || uname
      WHEN 3 THEN 'Interface flap detected on device'
      ELSE swname || ': ' || devts || ': %AAA-3-ACCT_FAIL: accounting record failed for ' || uname
    END AS text,
    'cisco.switch' AS tool, ts, event_id
  FROM cisco_base
)"""

  /** okta.audit additive corpus (ref: api_audit_okta.conf) — the message is
    * a JSON ARRAY of events (1 or 2 records → the second
    * cardinality-increasing split path after azure records[]). */
  val oktaCte: String = s"""
okta_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id AS STRING) AS uid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    'u' || CAST((user_id + 1) % 50 AS STRING) AS uname2,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS clientip,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS chainip,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || 'Z' AS pub,
    CASE (event_id % 3) WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36' WHEN 1 THEN 'Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1)' ELSE 'curl/8.5' END AS ua
  FROM events WHERE (event_id % 9) = 1
),
okta_turns AS (
  SELECT 'ok_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '[{"eventType":"user.session.start","displayMessage":"User login to Okta","severity":"INFO"'
    || ',"published":"' || pub || '"'
    || ',"outcome":{"result":"' || CASE WHEN (event_id % 4) = 0 THEN 'FAILURE","reason":"INVALID_CREDENTIALS' ELSE 'SUCCESS' END || '"}'
    || ',"actor":{"id":"00u' || uid_s || '","alternateId":"' || uname || '@example.com","displayName":"User ' || uid_s || '"}'
    || ',"client":{"ipAddress":"' || clientip || '","userAgent":{"os":"Windows 10","rawUserAgent":"' || ua || '","browser":"CHROME"},"geographicalContext":{"city":"city' || CAST(event_id % 5 AS STRING) || '","country":"US"}}'
    || ',"request":{"ipChain":[{"ip":"' || chainip || '"}]}'
    || ',"securityContext":{"domain":"example.com"}'
    || ',"transaction":{"type":"WEB"}'
    || ',"authenticationContext":{"externalSessionId":"sess' || CAST(event_id % 1000 AS STRING) || '"}'
    || ',"debugContext":{"debugData":{"url":"/api/v1/authn?q=' || CAST(event_id % 7 AS STRING) || '"}}'
    || ',"target":[{"id":"t' || CAST(event_id % 100 AS STRING) || '","alternateId":"' || uname2 || '@example.com","displayName":"Target ' || CAST(event_id % 100 AS STRING) || '"}]}'
    || CASE WHEN (event_id % 2) = 0 THEN
         ',{"eventType":"user.session.end","displayMessage":"User logout from Okta","severity":"WARN"'
         || ',"published":"' || pub || '"'
         || ',"outcome":{"result":"SUCCESS"}'
         || ',"actor":{"id":"00u' || uid_s || 'b","alternateId":"' || uname || 'b@example.com","displayName":"User ' || uid_s || 'b"}'
         || ',"client":{"ipAddress":"' || clientip || '","userAgent":{"os":"Windows 10","rawUserAgent":"' || ua || '","browser":"CHROME"},"geographicalContext":{"city":"city' || CAST(event_id % 5 AS STRING) || '","country":"US"}}'
         || ',"transaction":{"type":"WEB"}'
         || ',"target":[{"id":"t' || CAST(event_id % 100 AS STRING) || 'x","alternateId":"' || uname2 || 'x@example.com","displayName":"Target ' || CAST(event_id % 100 AS STRING) || 'x"}]}'
       ELSE '' END
    || ']' AS text,
    'okta.audit' AS tool, ts, event_id
  FROM okta_base
)"""

  /** aws.cloudtrail additive corpus (ref: api_audit_aws.cloudtrail.conf) —
    * single JSON object per turn; exercises arn/principalId groks, the
    * non-ip source rename, the insight translate, and sprintf-before-rename
    * on recipientAccountId. */
  val ctCte: String = s"""
ct_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id AS STRING) AS uid_s,
    LPAD(CAST(user_id AS STRING), 12, '0') AS acct,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS srcip,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || 'Z' AS et
  FROM events WHERE (event_id % 10) = 6
),
ct_turns AS (
  SELECT 'ct_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"eventVersion":"1.08","eventTime":"' || et || '"'
    || ',"eventSource":"s3.amazonaws.com"'
    || ',"eventName":"' || CASE WHEN (event_id % 2) = 0 THEN 'GetObject' ELSE 'PutObject' END || '"'
    || ',"awsRegion":"us-east-1","recipientAccountId":"' || acct || '"'
    || ',"sourceIPAddress":"' || CASE WHEN (event_id % 6) = 0 THEN 'AWS Internal' ELSE srcip END || '"'
    || ',"userAgent":"aws-cli/2.0","requestID":"r' || eid_s || '","eventID":"ev' || eid_s || '"'
    || ',"eventType":"AwsApiCall"'
    || ',"userIdentity":{"type":"IAMUser","arn":"arn:aws:iam::' || uid_s || ':user/role' || CAST(event_id % 5 AS STRING) || '/' || uname || '","principalId":"AIDA' || eid_s || ':' || uname || '"}'
    || ',"requestParameters":{"bucketName":"bkt' || CAST(event_id % 20 AS STRING) || '","key":"data/obj' || CAST(event_id % 100 AS STRING) || '.parquet","userName":"' || uname || '"}'
    || CASE WHEN (event_id % 3) = 0 THEN ',"insightDetails":{"eventCategory":"' || (CASE WHEN (event_id % 2) = 0 THEN 'Data' ELSE 'management' END) || '","insightType":"ApiCallRateInsight"}' ELSE '' END
    || CASE WHEN (event_id % 5) = 0 THEN ',"errorCode":"AccessDenied"' ELSE '' END
    || '}' AS text,
    'aws.cloudtrail' AS tool, ts, event_id
  FROM ct_base
)"""

  /** windows.events additive corpus (ref: wef_audit_windows.events.conf) —
    * beats JSON-lines envelopes: a 4624 logon (ffff-mapped ip, @-split
    * users, workstation FQDN), a 4769 Kerberos ticket (failure-code
    * translate, ticket-option bit flags), a 7036 service-state change. */
  val winCte: String = s"""
win_base AS (
  SELECT event_id, ts, user_id,
    (event_id % 3) AS wsel,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS ip,
    CASE (event_id % 4) WHEN 0 THEN '0x0' WHEN 1 THEN '0x12' WHEN 2 THEN '0x25' ELSE '0x99' END AS fcode,
    CASE (event_id % 3) WHEN 0 THEN '0x12' WHEN 1 THEN '0x17' ELSE '0x99' END AS tenc
  FROM events WHERE (event_id % 8) = 3
),
win_turns AS (
  SELECT 'wn_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE wsel
      WHEN 0 THEN '{"message":"An account was successfully logged on.","winlog":{"channel":"Security","event_id":4624,"keywords":"Audit Success","computer_name":"dc1.corp.example"'
        || ',"user":{"name":"' || uname || '@corp.example","domain":"CORP"}'
        || ',"event_data":{"IpAddress":"::ffff:' || ip || '","IpPort":"3389"'
        || ',"SubjectUserName":"adm' || CAST(user_id % 9 AS STRING) || '@corp.example"'
        || ',"TargetUserName":"svc' || CAST(event_id % 10 AS STRING) || '"'
        || ',"LogonType":"10","WorkstationName":"ws' || CAST(user_id % 20 AS STRING) || '.corp.example"}}}'
      WHEN 1 THEN '{"message":"A Kerberos service ticket was requested. Failure Code:' || fcode || 'Transited Services: -","winlog":{"channel":"Security","event_id":4769,"keywords":"Audit Failure","computer_name":"dc1.corp.example"'
        || ',"event_data":{"TicketOptions":"0x40810000","TicketEncryptionType":"' || tenc || '"'
        || ',"IpAddress":"::ffff:' || ip || '","IpPort":"50321"}}}'
      ELSE '{"message":"The Print Spooler service entered the running state.","winlog":{"channel":"System","event_id":7036,"keywords":"Classic","computer_name":"app' || CAST(user_id % 20 AS STRING) || '.corp.example"'
        || ',"event_data":{"param1":"Print Spooler","param2":"running"}}}'
    END AS text,
    'windows.events' AS tool, ts, event_id
  FROM win_base
)"""

  /** proofpoint SIEM clicks additive corpus
    * (ref: api_security_proofpoint.siem_api_clicks.conf). */
  val ppCte: String = s"""
pp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS clickip,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS senderip,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || 'Z' AS clickt
  FROM events WHERE (event_id % 12) = 7
),
pp_turns AS (
  SELECT 'pp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"url":"https://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk/p/' || eid_s || '"'
    || ',"classification":"' || CASE WHEN (event_id % 2) = 0 THEN 'phish' ELSE 'malware' END || '"'
    || ',"clickTime":"' || clickt || '","threatTime":"' || clickt || '"'
    || ',"userAgent":"curl/8.5","campaignId":"camp' || CAST(event_id % 15 AS STRING) || '"'
    || ',"clickIP":"' || clickip || '","sender":"' || uname || '@ext.example"'
    || ',"recipient":"' || uname || '@example.com","senderIP":"' || senderip || '"'
    || ',"GUID":"g' || eid_s || '","threatID":"t' || CAST(event_id % 500 AS STRING) || '"'
    || ',"threatURL":"https://tap.example/threat/t' || CAST(event_id % 500 AS STRING) || '"'
    || ',"threatStatus":"' || CASE WHEN (event_id % 3) = 0 THEN 'cleared' ELSE 'active' END || '"'
    || ',"messageID":"m' || eid_s || '","event.dataset":"'
    || CASE WHEN (event_id % 4) = 0 THEN 'clicksBlocked' ELSE 'clicksPermitted' END || '"}' AS text,
    'proofpoint.siem_clicks' AS tool, ts, event_id
  FROM pp_base
)"""

  /** Portable second-resolution ISO fragment `yyyy-MM-ddTHH:mm:ss` of ts. */
  private val isoSec: String =
    """LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')"""

  /** azure.atp additive corpus (ref: api_security_azure.atp.conf) — single
    * JSON alert objects; exercises the mitreTechniques[0] conditional
    * (present / empty array / absent) and the four ISO8601 dates. */
  val atpCte: String = s"""
atp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    'tnt' || CAST(user_id % 9 AS STRING) AS tenant,
    $isoSec || 'Z' AS iso,
    (event_id % 3) AS mitsel
  FROM events WHERE (event_id % 13) = 2
),
atp_turns AS (
  SELECT 'at_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"aadTenantId":"' || tenant || '"'
    || ',"category":"' || CASE (event_id % 4) WHEN 0 THEN 'Malware' WHEN 1 THEN 'SuspiciousActivity' WHEN 2 THEN 'CredentialAccess' ELSE 'Exfiltration' END || '"'
    || ',"id":"da' || eid_s || '"'
    || ',"investigationId":"inv' || CAST(event_id % 500 AS STRING) || '"'
    || ',"severity":"' || CASE (event_id % 3) WHEN 0 THEN 'High' WHEN 1 THEN 'Medium' ELSE 'Informational' END || '"'
    || ',"status":"' || CASE (event_id % 3) WHEN 0 THEN 'Resolved' WHEN 1 THEN 'InProgress' ELSE 'New' END || '"'
    || ',"determination":"' || CASE WHEN (event_id % 5) = 0 THEN 'Apt' ELSE 'NotAvailable' END || '"'
    || ',"detectionSource":"WindowsDefenderAtp"'
    || ',"title":"Suspicious process ' || CAST(event_id % 20 AS STRING) || '"'
    || ',"description":"desc ' || eid_s || '"'
    || ',"alertCreationTime":"' || iso || '","firstEventTime":"' || iso
    || '","lastEventTime":"' || iso || '","lastUpdateTime":"' || iso || '"'
    || ',"machineId":"m' || CAST(event_id % 400 AS STRING) || '"'
    || ',"computerDnsName":"host' || CAST(user_id % 20 AS STRING) || '.corp.example"'
    || ',"relatedUser":"' || uname || '"'
    || CASE mitsel WHEN 0 THEN ',"mitreTechniques":["T1566.00' || CAST(1 + (event_id % 3) AS STRING) || '","T1078"]'
                   WHEN 1 THEN ',"mitreTechniques":[]' ELSE '' END
    || '}' AS text,
    'azure.atp' AS tool, ts, event_id
  FROM atp_base
)"""

  /** proofpoint SIEM messages additive corpus
    * (ref: api_security_proofpoint.siem_api_message.conf) — scalar threat
    * fields, array file_hashes/file_names/modulesRun, the quarantineFolder
    * rule.category overwrite, and the completelyRewritten truthiness branch
    * (true / false / absent). */
  val ppmCte: String = s"""
ppm_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS senderip,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || 'Z' AS mtime
  FROM events WHERE (event_id % 14) = 9
),
ppm_turns AS (
  SELECT 'pm_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"url":"https://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk/m/' || eid_s || '"'
    || ',"classifications":"' || CASE WHEN (event_id % 2) = 0 THEN 'phish' ELSE 'spam' END || '"'
    || ',"file_hashes":["' || MD5(eid_s) || '","' || MD5(eid_s || 'b') || '"]'
    || ',"threat_urls":"https://tap.example/threat/t' || CAST(event_id % 500 AS STRING) || '"'
    || ',"threat_ids":"t' || CAST(event_id % 500 AS STRING) || '"'
    || ',"threat_statuses":"' || CASE WHEN (event_id % 3) = 0 THEN 'cleared' ELSE 'active' END || '"'
    || ',"file_names":["inv' || CAST(event_id % 100 AS STRING) || '.pdf","run' || CAST(event_id % 7 AS STRING) || '.js"]'
    || ',"event.dataset":"' || CASE WHEN (event_id % 4) = 0 THEN 'messagesBlocked' ELSE 'messagesDelivered' END || '"'
    || ',"messageTime":"' || mtime || '"'
    || ',"messageSize":' || CAST(1000 + (event_id % 90000) AS STRING)
    || ',"modulesRun":["spam","urldefense"' || CASE WHEN (event_id % 2) = 0 THEN ',"sandbox"' ELSE '' END || ']'
    || CASE WHEN (event_id % 4) = 0 THEN ',"quarantineFolder":"Phish","quarantineRule":"module.sandbox.rule"' ELSE '' END
    || ',"policyRoutes":"default_inbound"'
    || ',"senderIP":"' || senderip || '"'
    || ',"QID":"q' || eid_s || '","GUID":"g' || eid_s || '"'
    || ',"messageID":"m' || eid_s || '@ext.example"'
    || ',"sender":"' || uname || '@ext.example","recipient":"' || uname || '@example.com"'
    || CASE WHEN (event_id % 5) = 0 THEN ',"xmailer":"BulkMailer 1.0"' ELSE '' END
    || ',"spamScore":' || CAST(event_id % 100 AS STRING)
    || ',"malwareScore":' || CAST(event_id % 50 AS STRING)
    || ',"phishScore":' || CAST(event_id % 90 AS STRING)
    || ',"impostorScore":' || CAST(event_id % 10 AS STRING)
    || ',"subject":"Invoice ' || eid_s || '"'
    || ',"headerFrom":"User ' || uname || ' <' || uname || '@ext.example>"'
    || ',"headerReplyTo":"reply-' || uname || '@ext.example"'
    || CASE (event_id % 3) WHEN 0 THEN ',"completelyRewritten":true'
                           WHEN 1 THEN ',"completelyRewritten":false' ELSE '' END
    || '}' AS text,
    'proofpoint.siem_messages' AS tool, ts, event_id
  FROM ppm_base
)"""

  /** aws.elb additive corpus (ref: log_application_aws.elb.conf) — the full
    * ALB access-log line WITH the optional tail; a slice of empty messages
    * exercises the drop{} branch, '-' placeholders exercise the alternation
    * captures. */
  val elbCte: String = s"""
elb_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS tip,
    1024 + (event_id % 40000) AS cport,
    CASE (event_id % 3) WHEN 0 THEN 443 WHEN 1 THEN 80 ELSE 8443 END AS tport,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '456Z' AS t1,
    (event_id % 100000) AS rbytes,
    10 * (1 + (event_id % 9000)) AS sbytes,
    CASE (event_id % 4) WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 403 ELSE 502 END AS status
  FROM events WHERE (event_id % 15) = 4
),
elb_turns AS (
  SELECT 'eb_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN (event_id % 31) = 0 THEN '' ELSE
      CASE (event_id % 2) WHEN 0 THEN 'https' ELSE 'http' END
      || ' ' || t1
      || ' app/lb' || CAST(user_id % 5 AS STRING) || '/abc' || CAST(user_id % 97 AS STRING)
      || ' ' || cip || ':' || CAST(cport AS STRING)
      || ' ' || CASE WHEN (event_id % 11) = 0 THEN '-' ELSE tip || ':' || CAST(tport AS STRING) END
      || ' 0.001 0.002 0.000'
      || ' ' || CAST(status AS STRING)
      || ' ' || CASE WHEN (event_id % 11) = 0 THEN '-' ELSE CAST(status AS STRING) END
      || ' ' || CAST(rbytes AS STRING) || ' ' || CAST(sbytes AS STRING)
      || ' "' || CASE (event_id % 3) WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'PUT' END
      || ' https://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk:443/p/' || eid_s || '?q=' || CAST(event_id % 7 AS STRING)
      || ' HTTP/1.1"'
      || ' "' || CASE WHEN (event_id % 6) = 0 THEN '-' ELSE 'curl/8.5' END || '"'
      || ' ' || CASE WHEN (event_id % 2) = 0 THEN 'ECDHE-RSA-AES128-GCM-SHA256' ELSE '-' END
      || ' ' || CASE WHEN (event_id % 2) = 0 THEN 'TLSv1.2' ELSE '-' END
      || ' arn:aws:elasticloadbalancing:us-east-1:' || LPAD(CAST(user_id AS STRING), 12, '0') || ':targetgroup/tg' || CAST(event_id % 8 AS STRING)
      || ' "Root=1-' || MD5(eid_s) || '"'
      || ' "www.app' || CAST(event_id % 30 AS STRING) || '.co.uk"'
      || ' "arn:aws:acm:us-east-1:123:certificate/c' || CAST(event_id % 5 AS STRING) || '"'
      || ' ' || CAST(event_id % 9 AS STRING)
      || ' ' || t1
      || ' "' || CASE WHEN (event_id % 4) = 3 THEN 'waf,forward' ELSE 'forward' END || '"'
      || ' "' || CASE WHEN (event_id % 4) = 1 THEN 'https://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk/p/' || eid_s ELSE '-' END || '"'
      || ' "' || CASE WHEN (event_id % 4) = 3 THEN 'LambdaInvalidResponse' ELSE '-' END || '"'
      || ' "' || CASE WHEN (event_id % 11) = 0 THEN '-' ELSE tip || ':' || CAST(tport AS STRING) END || '"'
      || ' "' || CASE WHEN (event_id % 11) = 0 THEN '-' ELSE CAST(status AS STRING) END || '"'
      || ' "' || CASE WHEN (event_id % 5) = 2 THEN 'Acceptable' ELSE '-' END || '"'
      || ' "' || CASE WHEN (event_id % 5) = 2 THEN 'NonCompliantVersion' ELSE '-' END || '"'
    END AS text,
    'aws.elb' AS tool, ts, event_id
  FROM elb_base
)"""

  /** snowflake.signin + snowflake.failed_login additive corpora (ref:
    * snowflake_acc_login_history.conf / snowflake_acc_failed_logins.conf) —
    * UPPER_SNAKE JSON columns straight from the warehouse views. */
  val sfCte: String = s"""
sf_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS isoms
  FROM events WHERE (event_id % 16) = 11
),
sf_turns AS (
  SELECT 'sf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"EVENT_TYPE":"LOGIN","CLIENT_IP":"' || cip || '"'
    || ',"EVENT_ID":"ev' || eid_s || '"'
    || ',"EVENT_TIMESTAMP":"' || isoms || '+0000"'
    || ',"USER_NAME":"' || uname || '"'
    || ',"IS_SUCCESS":"' || CASE WHEN (event_id % 4) = 0 THEN 'NO' ELSE 'YES' END || '"'
    || CASE WHEN (event_id % 4) = 0 THEN ',"ERROR_CODE":"390144","ERROR_MESSAGE":"JWT token is invalid"' ELSE '' END
    || '}' AS text,
    'snowflake.signin' AS tool, ts, event_id
  FROM sf_base
),
sff_base AS (
  SELECT event_id, ts, user_id,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '+00:00' AS isomso
  FROM events WHERE (event_id % 17) = 8
),
sff_turns AS (
  SELECT 'sg_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"EVENT_TIMESTAMP":"' || isomso || '"'
    || ',"ROLE_NAME":"' || CASE WHEN (event_id % 3) = 0 THEN 'SYSADMIN' ELSE 'PUBLIC' END || '"'
    || ',"USER_NAME":"' || UPPER(uname) || '"'
    || ',"FIRST_AUTHENTICATION_FACTOR":"' || CASE WHEN (event_id % 2) = 0 THEN 'PASSWORD' ELSE 'ID_TOKEN' END || '"'
    || '}' AS text,
    'snowflake.failed_login' AS tool, ts, event_id
  FROM sff_base
)"""

  /** azure.officeactivity additive corpus (ref: event_hub_audit_azure.
    * event_hub_officeactivity.conf) — mixed records[]-envelope (1-2 records,
    * split path) and bare-object forms. Keys are synthesized in O365's
    * natural casing; the processor's message-level lowercase normalizes
    * them (and, faithfully to the reference, breaks the T-anchored date
    * gsub). */
  val offCte: String = s"""
off_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    'tnt' || CAST(user_id % 9 AS STRING) AS tenant,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '4567Z' AS iso7
  FROM events WHERE (event_id % 19) = 10
),
off_rec AS (
  SELECT *,
    '{"TimeGenerated":"' || iso7 || '"'
    || ',"Site_":"site' || CAST(event_id % 40 AS STRING) || '"'
    || ',"OrganizationId":"org' || CAST(user_id % 30 AS STRING) || '"'
    || ',"Site_Url":"https://sp.example/sites/team' || CAST(event_id % 12 AS STRING) || '/"'
    || ',"Type":"' || CASE WHEN (event_id % 2) = 0 THEN 'SharePointFileOperation' ELSE 'ExchangeAdmin' END || '"'
    || ',"UserId":"' || uname || '@example.com"'
    || ',"ClientIP":"' || cip || '"'
    || ',"SourceFileExtension":"' || CASE (event_id % 3) WHEN 0 THEN 'docx' WHEN 1 THEN 'xlsx' ELSE 'pdf' END || '"'
    || ',"TenantId":"' || tenant || '"'
    || ',"EventSource":"SharePoint"'
    || ',"SourceFileName":"doc' || CAST(event_id % 200 AS STRING) || '.bin"'
    || ',"Start_Time":"' || iso7 || '"'
    || ',"UserAgent":"curl/8.5"'
    || ',"ItemType":"File"'
    || ',"OfficeObjectId":"https://sp.example/sites/team' || CAST(event_id % 12 AS STRING) || '/doc' || eid_s || '"'
    || ',"SourceRelativeUrl":"sites/team' || CAST(event_id % 12 AS STRING) || '"'
    || ',"DisplayName":"Team ' || CAST(event_id % 12 AS STRING) || ' Site"'
    || '}' AS rec,
    '{"TimeGenerated":"' || iso7 || '"'
    || ',"OrganizationId":"org' || CAST(user_id % 30 AS STRING) || 'b"'
    || ',"Type":"AzureActiveDirectory"'
    || ',"UserId":"' || uname || 'b@example.com"'
    || ',"TenantId":"' || tenant || '"'
    || ',"EventSource":"AzureAD"'
    || '}' AS rec2
  FROM off_base
),
off_turns AS (
  SELECT 'of_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN (event_id % 2) = 0 THEN
      '{"Records": [' || rec || CASE WHEN (event_id % 4) = 0 THEN ',' || rec2 ELSE '' END || ']}'
    ELSE rec END AS text,
    'azure.officeactivity' AS tool, ts, event_id
  FROM off_rec
)"""

  /** cisco.ise additive corpus (ref: syslog_security_cisco.ise.conf) —
    * segment-0 lines with the full dissectable body + KV tail, segment-1
    * continuation lines carrying KVs only; category names exercise all five
    * translate ladders and their fallbacks; optional KVs exercise the
    * FailureReason grok, the CmdSet gsub chain, the Response outcome
    * overwrite and the AdminIPAddress gsub. */
  val iseCte: String = s"""
ise_base AS (
  SELECT event_id, ts, user_id,
    (event_id % 3) AS segsel,
    (event_id % 5) AS catsel,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    'den-sw' || CAST(1 + (event_id % 4) AS STRING) AS ndn,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS dip,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    32 + (event_id % 8) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS sylts,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || ' +00:00' AS isets,
    1600000000 + (event_id % 10000000) AS stime
  FROM events WHERE (event_id % 18) = 13
),
ise_cat AS (
  SELECT *,
    CASE catsel WHEN 0 THEN 'CISE_Passed_Authentications'
      WHEN 1 THEN 'CISE_Failed_Authentications' WHEN 2 THEN 'CISE_TACACS_Accounting'
      WHEN 3 THEN 'CISE_System_Diagnostics' ELSE 'CISE_Guest' END AS cat,
    CASE catsel WHEN 0 THEN 'Passed-Authentication' WHEN 1 THEN 'Failed-Attempt'
      WHEN 2 THEN 'Tacacs-Accounting' WHEN 3 THEN 'System-Stats' ELSE 'Guest-Access' END AS cls,
    CASE catsel WHEN 0 THEN 'Authentication succeeded' WHEN 1 THEN 'Authentication failed'
      WHEN 2 THEN 'Accounting request' WHEN 3 THEN 'System statistics' ELSE 'Guest session' END AS mtxt,
    'ConfigVersionId=' || CAST(event_id % 90 AS STRING)
      || ', DeviceIPAddress=' || dip || ', DevicePort=49'
      || ', NetworkDeviceName=' || ndn
      || ', UserName=' || uname
      || ', Protocol=Tacacs'
      || ', Remote-Address=' || sip
      || ', start_time=' || CAST(stime AS STRING)
      || ', timezone=UTC'
      || CASE WHEN catsel = 2 THEN ', Response={Type=Authentication}, CmdSet=CmdAV=show running-config <cr>' ELSE '' END
      || CASE WHEN (event_id % 4) = 1 THEN ', FailureReason=24408 User authentication failed' ELSE '' END
      || CASE WHEN (event_id % 6) = 2 THEN ', AdminIPAddress=10.9 9.9' ELSE '' END AS kvtail
  FROM ise_base
),
ise_turns AS (
  SELECT 'is_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || sylts || ' ise-psn' || CAST(user_id % 6 AS STRING)
    || ' ' || cat || ' 0000' || eid_s
    || CASE WHEN segsel = 0 THEN ' 2 1 ' || kvtail
       ELSE ' 1 0 ' || isets || ' 00' || eid_s || ' 5200 NOTICE ' || cls || ': ' || mtxt || ', ' || kvtail
       END AS text,
    'cisco.ise' AS tool, ts, event_id
  FROM ise_cat
)"""

  /** iis.w3c additive corpus (ref: flat_file_audit_microsoft.iis.w3c.conf) —
    * '#Fields:' directive lines (dropped), httperr idle lines (RULE 2),
    * URL-reservation lines (RULE 3), W3SVC service-log lines (RULE 4),
    * standard access lines (RULE 5) and an unclassified shape (RULE 6). */
  val iisCte: String = s"""
iis_base AS (
  SELECT event_id, ts, user_id,
    CAST(FLOOR(event_id / 21.0) AS BIGINT) % 6 AS rsel, -- quotient: coprime with the %21 filter
    CAST(event_id AS STRING) AS eid_s,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS dip,
    1024 + (event_id % 40000) AS spt,
    CASE WHEN (event_id % 4) = 0 THEN 503 ELSE 200 END AS status,
    (event_id % 100000) AS sbytes,
    10 * (1 + (event_id % 9000)) AS dbytes,
    'web' || CAST(user_id % 20 AS STRING) || '.corp.example' AS waddr,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS d1,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS t1
  FROM events WHERE (event_id % 21) = 12
),
iis_turns AS (
  SELECT 'ii_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE rsel
      WHEN 0 THEN '#Fields: date time s-ip cs-method cs-uri-stem'
      ELSE 'iis01 {g' || eid_s || '} ' || d1 || ' ' || t1 || ' ' ||
        CASE rsel
          WHEN 1 THEN sip || ' ' || CAST(spt AS STRING) || ' ' || dip || ' 443 HTTP/1.1 GET - - Timer_ConnectionIdle - conn_idle_' || CAST(event_id % 9 AS STRING)
          WHEN 2 THEN sip || ' ' || CAST(spt AS STRING) || ' ' || dip || ' 443 HTTP/1.1 Reject ' || waddr || ' - ' || CAST(status AS STRING) || ' - URL -'
          WHEN 3 THEN 'W3SVC' || CAST(event_id % 30 AS STRING) || ' SRV' || CAST(user_id % 9 AS STRING) || ' ' || waddr || ' GET /p/' || eid_s || ' - ' || CAST(spt AS STRING) || ' - ' || dip || ' - http://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk/p/' || eid_s || ' - ' || CAST(status AS STRING) || ' 0 ' || CAST(sbytes AS STRING) || ' ' || CAST(dbytes AS STRING)
          WHEN 4 THEN sip || ' GET /p/' || eid_s || ' - 443 - ' || dip || ' Mozilla/4.0 http://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk/r/' || eid_s || ' ' || CAST(status AS STRING) || ' 0 0 ' || CAST(sbytes AS STRING) || ' ' || CAST(dbytes AS STRING) || ' 15'
          ELSE sip || ' PATCH /odd/' || eid_s || ' x1 y2 z3'
        END
    END AS text,
    'iis.w3c' AS tool, ts, event_id
  FROM iis_base
)"""

  /** hadoop.hdfs_audit additive corpus (ref: hadoop_hdfs_audit.conf) —
    * NameNode audit lines with tab-separated KVs. */
  val hdfsCte: String = s"""
hdfs_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || ',' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS hts
  FROM events WHERE (event_id % 24) = 19
),
hdfs_turns AS (
  SELECT 'hd_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    hts || ' INFO FSNamesystem.audit: allowed='
    || CASE WHEN (event_id % 5) = 0 THEN 'false' ELSE 'true' END
    || chr(9) || 'ugi=' || uname || ' (auth:SIMPLE)'
    || chr(9) || 'ip=/' || cip
    || chr(9) || 'cmd=' || CASE (CAST(FLOOR(event_id / 24.0) AS BIGINT) % 4) WHEN 0 THEN 'getfileinfo' WHEN 1 THEN 'open' WHEN 2 THEN 'mkdirs' ELSE 'delete' END
    || chr(9) || 'src=/data/f' || CAST(event_id % 500 AS STRING)
    || chr(9) || 'dst=' || CASE WHEN (CAST(FLOOR(event_id / 24.0) AS BIGINT) % 3) = 0 THEN '/data/moved' || CAST(event_id % 500 AS STRING) ELSE 'null' END
    || chr(9) || 'perm=' || uname || ':supergroup:rw-r--r--'
    || chr(9) || 'proto=rpc' AS text,
    'hadoop.hdfs_audit' AS tool, ts, event_id
  FROM hdfs_base
)"""

  /** f5.loadbalancer additive corpus (ref: syslog_audit_f5.big.ip.ltm.conf)
    * — seven ladder arms: emdeviced (R3), logger: (R4), [client ...] (R4a),
    * Connection error: (R5), auditd (R7, destination address), sshd-from
    * (R10a), fallback (R13). */
  val f5Cte: String = s"""
f5_base AS (
  SELECT event_id, ts, user_id,
    CAST(FLOOR(event_id / 25.0) AS BIGINT) % 7 AS rsel,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    'lb' || CAST(user_id % 9 AS STRING) || '.corp.example' AS lbaddr,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    1000 + (event_id % 9000) AS pid,
    32 + (event_id % 8) AS pri4,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS sylts
  FROM events WHERE (event_id % 25) = 21
),
f5_turns AS (
  SELECT 'f5_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri4 AS STRING) || '>' || sylts || ' ' || lbaddr || ' ' ||
    CASE rsel
      WHEN 0 THEN 'err emdeviced[' || CAST(pid AS STRING) || ']: E123 device heartbeat lost ' || eid_s
      WHEN 1 THEN 'notice logger: config saved by admin' || CAST(event_id % 9 AS STRING)
      WHEN 2 THEN 'err httpd-ssl[' || CAST(pid AS STRING) || ']: [client ' || sip || '] invalid uri /p/' || eid_s
      WHEN 3 THEN 'warning tmm1[' || CAST(pid AS STRING) || ']: Connection error: timeout after ' || CAST(event_id % 60 AS STRING) || 's'
      WHEN 4 THEN 'info auditd[' || CAST(pid AS STRING) || ']: AUDIT configuration changed by ' || uname
      WHEN 5 THEN 'info sshd[' || CAST(pid AS STRING) || ']: Accepted publickey for ' || uname || ' from ' || sip
      ELSE 'notice icrd_child[' || CAST(pid AS STRING) || ']: generic status report ' || eid_s
    END AS text,
    'f5.loadbalancer' AS tool, ts, event_id
  FROM f5_base
)"""

  /** aws.cloudfront additive corpus (ref: s3_log_aws.cloudfront.conf) —
    * 33 tab-separated fields with '-' placeholders; '#Version/#Fields'
    * directive rows exercise the drop branch. */
  val cfCte: String = s"""
cf_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    1024 + (event_id % 40000) AS cport,
    CAST(FLOOR(event_id / 26.0) AS BIGINT) AS q26,
    CASE WHEN (CAST(FLOOR(event_id / 26.0) AS BIGINT) % 4) = 0 THEN 403 ELSE 200 END AS status,
    (event_id % 100000) AS sbytes,
    100 + (event_id % 3000) AS cbytes,
    CASE (event_id % 3) WHEN 0 THEN 'Hit' WHEN 1 THEN 'Miss' ELSE 'Error' END AS rtype,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS cfdate,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS cftime
  FROM events WHERE (event_id % 26) = 23
),
cf_turns AS (
  SELECT 'cf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN (event_id % 29) = 0 THEN '#Fields: date time x-edge-location' ELSE
      cfdate || chr(9) || cftime
      || chr(9) || 'IAD89-C' || CAST(event_id % 4 AS STRING)
      || chr(9) || CAST(sbytes AS STRING)
      || chr(9) || cip
      || chr(9) || CASE WHEN (q26 % 2) = 0 THEN 'GET' ELSE 'POST' END
      || chr(9) || 'd' || CAST(event_id % 900 AS STRING) || '.cloudfront.net'
      || chr(9) || '/p/' || eid_s
      || chr(9) || CAST(status AS STRING)
      || chr(9) || CASE WHEN (event_id % 3) = 1 THEN 'https://ref.example/r' || CAST(event_id % 40 AS STRING) ELSE '-' END
      || chr(9) || 'Mozilla/5.0%20(Windows%20NT%2010.0)'
      || chr(9) || CASE WHEN (event_id % 7) = 0 THEN 'q=' || CAST(event_id % 9 AS STRING) ELSE '-' END
      || chr(9) || CASE WHEN (q26 % 2) = 0 THEN 'session=s' || CAST(event_id % 500 AS STRING) ELSE '-' END
      || chr(9) || rtype
      || chr(9) || MD5(eid_s)
      || chr(9) || 'www.app' || CAST(event_id % 30 AS STRING) || '.co.uk'
      || chr(9) || CASE WHEN (q26 % 2) = 0 THEN 'https' ELSE 'http' END
      || chr(9) || CAST(cbytes AS STRING)
      || chr(9) || '0.0' || CAST(event_id % 90 AS STRING)
      || chr(9) || CASE WHEN (event_id % 7) = 0 THEN '10.9.' || CAST(event_id % 200 AS STRING) || '.7' ELSE '-' END
      || chr(9) || CASE WHEN (q26 % 2) = 0 THEN 'TLSv1.2' ELSE '-' END
      || chr(9) || CASE WHEN (q26 % 2) = 0 THEN 'ECDHE-RSA-AES128-GCM-SHA256' ELSE '-' END
      || chr(9) || rtype
      || chr(9) || 'HTTP/2.0'
      || chr(9) || '-'
      || chr(9) || '-'
      || chr(9) || CAST(cport AS STRING)
      || chr(9) || '0.0' || CAST(event_id % 80 AS STRING)
      || chr(9) || rtype
      || chr(9) || CASE (event_id % 3) WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/json' ELSE 'image/png' END
      || chr(9) || '-'
      || chr(9) || '-'
      || chr(9) || '-'
    END AS text,
    'aws.cloudfront' AS tool, ts, event_id
  FROM cf_base
)"""

  /** cisco.netflow additive corpus (ref: flow_audit_cisco_netflow.conf) —
    * codec-decoded netflow records as JSON datagrams; alternating
    * ipv4/ipv6 destinations exercise the ref's dead flat-key ipv4 rename. */
  val nfCte: String = s"""
nf_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS dip4,
    '2001:db8::' || CAST(1 + (event_id % 9000) AS STRING) AS dip6,
    1024 + (event_id % 40000) AS spt,
    (event_id % 100000) AS nbytes,
    1 + (event_id % 1000) AS npkts,
    $isoSec || 'Z' AS lastsw,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':00Z' AS firstsw
  FROM events WHERE (event_id % 27) = 16
),
nf_turns AS (
  SELECT 'nf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"netflow":{"first_switched":"' || firstsw || '","last_switched":"' || lastsw || '"'
    || ',"flow_seq_num":' || eid_s
    || ',"flowset_id":' || CAST(256 + (event_id % 4) AS STRING)
    || ',"protocol":' || CASE WHEN (event_id % 3) = 0 THEN '17' ELSE '6' END
    || ',"in_bytes":' || CAST(nbytes AS STRING)
    || ',"in_pkts":' || CAST(npkts AS STRING)
    || ',"version":9'
    || ',"dst_as":' || CAST(64496 + (event_id % 100) AS STRING)
    || CASE WHEN (event_id % 2) = 0 THEN ',"ipv4_dst_addr":"' || dip4 || '"'
            ELSE ',"ipv6_dst_addr":"' || dip6 || '"' END
    || ',"l4_dst_port":' || CASE WHEN (event_id % 4) = 0 THEN '53' ELSE '443' END
    || ',"output_snmp":' || CAST(1 + (event_id % 8) AS STRING)
    || ',"ipv4_src_addr":"' || sip || '"'
    || ',"l4_src_port":' || CAST(spt AS STRING)
    || ',"src_as":' || CAST(64500 + (user_id % 50) AS STRING)
    || ',"input_snmp":' || CAST(1 + (event_id % 4) AS STRING)
    || '}}' AS text,
    'cisco.netflow' AS tool, ts, event_id
  FROM nf_base
)"""

  /** aws.guardduty additive corpus (ref: api_security_aws.guardduty.conf) —
    * camelCase finding JSON (the ruby normalizer downcases keys), two
    * finding shapes (network connection / api call), 1-2 security groups. */
  val gdCte: String = s"""
gd_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    LPAD(CAST(user_id AS STRING), 12, '0') AS acct,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS rip,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS lip,
    (event_id % 2) AS fsel,
    $isoSec || 'Z' AS iso
  FROM events WHERE (event_id % 29) = 3
),
gd_turns AS (
  SELECT 'gd_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"schemaVersion":"2.0","accountId":"' || acct || '","region":"us-east-1","partition":"aws"'
    || ',"id":"gd' || eid_s || '"'
    || ',"type":"' || CASE fsel WHEN 0 THEN 'UnauthorizedAccess:EC2/SSHBruteForce' ELSE 'Recon:IAMUser/UserPermissions' END || '"'
    || ',"severity":' || CAST(1 + (event_id % 8) AS STRING)
    || ',"createdAt":"' || iso || '","updatedAt":"' || iso || '"'
    || ',"title":"Finding ' || CAST(event_id % 40 AS STRING) || '"'
    || ',"description":"desc ' || eid_s || '"'
    || ',"resource":{"instanceDetails":{"availabilityZone":"us-east-1' || CASE (event_id % 3) WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END || '"'
    || ',"imageDescription":"Amazon Linux 2","instanceId":"i-' || CAST(event_id % 4000 AS STRING) || '"'
    || ',"instanceState":"running","instanceType":"t3.' || CASE (event_id % 3) WHEN 0 THEN 'micro' WHEN 1 THEN 'small' ELSE 'large' END || '"'
    || ',"networkInterfaces":[{"subnetId":"subnet-' || CAST(event_id % 12 AS STRING) || '"'
    || ',"securityGroups":[{"groupName":"sg-web' || CAST(event_id % 20 AS STRING) || '","groupId":"sg-0' || CAST(event_id % 20 AS STRING) || '"}'
    || CASE WHEN (event_id % 3) = 0 THEN ',{"groupName":"sg-db' || CAST(event_id % 20 AS STRING) || '","groupId":"sg-1' || CAST(event_id % 20 AS STRING) || '"}' ELSE '' END
    || '],"privateIpAddresses":[{"privateIpAddress":"' || lip || '"}]}]'
    || ',"tags":[{"key":"env","value":"prod"}]}'
    || CASE WHEN fsel = 1 THEN ',"accessKeyDetails":{"userName":"' || uname || '"}' ELSE '' END
    || '}'
    || ',"service":{"detectorId":"det' || CAST(user_id % 40 AS STRING) || '"'
    || ',"eventFirstSeen":"' || iso || '","eventLastSeen":"' || iso || '"'
    || CASE WHEN (event_id % 5) = 0 THEN ',"additionalInfo":{"sample":true}' ELSE '' END
    || ',"action":{"actionType":"' || CASE fsel WHEN 0 THEN 'NETWORK_CONNECTION' ELSE 'AWS_API_CALL' END || '"'
    || CASE fsel
         WHEN 0 THEN ',"networkConnectionAction":{"remoteIpDetails":{"ipAddressV4":"' || rip || '"},"localIpDetails":{"ipAddressV4":"' || lip || '"}}'
         ELSE ',"awsApiCallAction":{"serviceName":"iam.amazonaws.com","remoteIpDetails":{"organization":{"asn":' || CAST(64496 + (event_id % 90) AS STRING) || ',"asnOrg":"ExampleNet ' || CAST(event_id % 7 AS STRING) || '"}}}'
       END
    || '}}'
    || '}' AS text,
    'aws.guardduty' AS tool, ts, event_id
  FROM gd_base
)"""

  /** azure.securityalert additive corpus (ref: event_hub_audit_azure.
    * event_hub_securityalert.conf) — same envelope machinery as
    * officeactivity over Sentinel SecurityAlert rows. */
  val saCte: String = s"""
sa_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    'tnt' || CAST(user_id % 9 AS STRING) AS tenant,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '4567Z' AS iso7
  FROM events WHERE (event_id % 31) = 26
),
sa_rec AS (
  SELECT *,
    '{"AlertName":"Suspicious sign-in ' || CAST(event_id % 25 AS STRING) || '"'
    || ',"AlertSeverity":"' || CASE (event_id % 3) WHEN 0 THEN 'High' WHEN 1 THEN 'Medium' ELSE 'Low' END || '"'
    || ',"AlertType":"UnfamiliarLocation"'
    || ',"Description":"alert desc ' || eid_s || '"'
    || ',"DisplayName":"User ' || uname || '"'
    || ',"EndTime":"' || iso7 || '","StartTime":"' || iso7 || '","TimeGenerated":"' || iso7 || '"'
    || ',"ProviderName":"IPC"'
    || ',"Status":"' || CASE WHEN (event_id % 4) = 0 THEN 'Resolved' ELSE 'New' END || '"'
    || ',"SystemAlertId":"sa' || eid_s || '"'
    || ',"Tactics":"InitialAccess"'
    || ',"Techniques":"T10' || CAST(70 + (event_id % 9) AS STRING) || '"'
    || ',"TenantId":"' || tenant || '"'
    || ',"VendorName":"Microsoft"'
    || ',"Type":"SecurityAlert"'
    || '}' AS rec
  FROM sa_base
),
sa_turns AS (
  SELECT 'sa_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN (event_id % 2) = 0 THEN '{"Records": [' || rec || ']}' ELSE rec END AS text,
    'azure.securityalert' AS tool, ts, event_id
  FROM sa_rec
)"""

  /** linux.host additive corpus (ref: syslog_audit_linux.host.conf) —
    * eight shapes across the pri-keyed ladder (82/85/31/27/30), incl. the
    * stacked RULE 1+2/1+3 and RULE 7+8/7+9 array parse_rules and the
    * leading-space user.name of the Slice arm. */
  val lhCte: String = s"""
lh_base AS (
  SELECT event_id, ts, user_id,
    CAST(FLOOR(event_id / 33.0) AS BIGINT) % 8 AS rsel,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    'lnx' || CAST(user_id % 20 AS STRING) AS hname,
    1000 + (event_id % 9000) AS pid,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS sylts
  FROM events WHERE (event_id % 33) = 29
),
lh_turns AS (
  SELECT 'lh_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CASE rsel WHEN 0 THEN '82' WHEN 1 THEN '85' WHEN 2 THEN '31' WHEN 3 THEN '27'
                     WHEN 7 THEN '82' ELSE '30' END || '>'
    || sylts || ' ' || hname || ' ' ||
    CASE rsel
      WHEN 0 THEN 'sshd[' || CAST(pid AS STRING) || ']: password: token has expired (ERROR)'
      WHEN 1 THEN 'passwd[' || CAST(pid AS STRING) || ']: failed to change password for ' || uname
      WHEN 2 THEN 'rhnsd[' || CAST(pid AS STRING) || ']: running rhn_check ' || eid_s
      WHEN 3 THEN 'gdm[' || CAST(pid AS STRING) || ']: TID:12 : ERROR: gdm check failed ' || eid_s
      WHEN 4 THEN 'dhclient[' || CAST(pid AS STRING) || ']: DHCPREQUEST on eth0 to 10.1.1.1 port 67'
      WHEN 5 THEN 'systemd: Started Session ' || CAST(event_id % 900 AS STRING) || ' of user ' || uname
      WHEN 6 THEN 'systemd: Created Slice of user ' || uname
      ELSE 'sshd[' || CAST(pid AS STRING) || ']: fatal: Access denied for user root from 8.9.' || CAST(event_id % 200 AS STRING) || '.7'
    END AS text,
    'linux.host' AS tool, ts, event_id
  FROM lh_base
)"""

  /** checkpoint.fw additive corpus (ref: syslog_audit_checkpoint.fw.conf) —
    * bracket-enveloped k=v Type-1 lines (incl. composite sic/policy values
    * re-kv'd downstream), Type-2 plain messages, 'Other' rows, and Debug
    * lines for the drop branch. */
  val ckCte: String = s"""
ck_base AS (
  SELECT event_id, ts, user_id,
    CAST(FLOOR(event_id / 34.0) AS BIGINT) % 6 AS rsel,
    CAST(event_id AS STRING) AS eid_s,
    'cp-gw' || CAST(user_id % 8 AS STRING) AS gw,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    1024 + (event_id % 40000) AS spt,
    1600000000 + (event_id % 10000000) AS stime,
    $isoSec || 'Z' AS iso
  FROM events WHERE (event_id % 34) = 31
),
ck_turns AS (
  SELECT 'ck_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<134>' ||
    CASE rsel
      WHEN 0 THEN '1 ' || iso || ' ' || gw || ' CheckPoint 999 - [action=drop; syslog_severity=Debug; src=' || sip || ']'
      WHEN 4 THEN 'cpd: unable to reach peer ' || CAST(event_id % 50 AS STRING)
      WHEN 5 THEN 'status;ok;ping ' || CAST(event_id % 50 AS STRING)
      ELSE '1 ' || iso || ' ' || gw || ' CheckPoint ' || CAST(event_id % 999 AS STRING) || ' - ['
        || 'action=' || CASE WHEN (event_id % 5) < 3 THEN 'accept' ELSE 'drop' END
        || '; origin=10.9.' || CAST(event_id % 200 AS STRING) || '.1'
        || '; date=' || CAST(stime AS STRING)
        || '; dst=' || dip
        || '; message_info=Implied rule'
        || '; product=VPN-1 & FireWall-1'
        || '; proto=6'
        || '; rule=' || CAST(event_id % 40 AS STRING)
        || '; s_port=' || CAST(spt AS STRING)
        || '; service=443'
        || '; severity=' || CAST(1 + (event_id % 5) AS STRING)
        || '; src=' || sip
        || '; ifdir=' || CASE WHEN (event_id % 2) = 0 THEN 'inbound' ELSE 'outbound' END
        || '; origin_sic_name=cn=' || gw
        || '; __policy_id_tag=policy_name=Standard_' || CAST(event_id % 12 AS STRING)
        || ']'
    END AS text,
    'checkpoint.fw' AS tool, ts, event_id
  FROM ck_base
)"""

  /** github.audit (GHE) additive corpus (ref: api_audit_aws.ghe.conf). */
  val ghCte: String = s"""
gh_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS sylts
  FROM events WHERE (event_id % 35) = 12
),
gh_turns AS (
  SELECT 'gh_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"server_name":"ghe.corp.example"'
    || ',"client_port":' || CAST(50000 + (event_id % 9000) AS STRING)
    || ',"bytes_read":' || CAST(event_id % 60000 AS STRING)
    || ',"http_request":"/api/v3/repos?page=' || CAST(event_id % 30 AS STRING) || '"'
    || ',"http_version":"HTTP/1.1"'
    || ',"client_ip":"' || cip || '"'
    || ',"http_status_code":' || CASE WHEN (event_id % 6) = 0 THEN '404' ELSE '200' END
    || ',"http_verb":"' || CASE WHEN (event_id % 2) = 0 THEN 'GET' ELSE 'POST' END || '"'
    || ',"ident":"github-unicorn"'
    || ',"timestamp":"' || sylts || '"'
    || ',"host":"ghe-node' || CAST(user_id % 4 AS STRING) || '"'
    || ',"pid":' || CAST(1000 + (event_id % 9000) AS STRING)
    || ',"message":"request completed ' || eid_s || '"}' AS text,
    'github.audit' AS tool, ts, event_id
  FROM gh_base
)"""

  /** citrix.session additive corpus (ref: db_audit_citrix.session.conf) —
    * jdbc rows as JSON maps; the program re-renders message to its string
    * form after the copies. */
  val cxCte: String = s"""
cx_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    $isoSec || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || 'Z' AS isoz
  FROM events WHERE (event_id % 37) = 5
),
cx_turns AS (
  SELECT 'cx_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"clientname":"wks' || CAST(user_id % 30 AS STRING) || '"'
    || ',"clientaddress":"' || cip || '"'
    || ',"username":"' || uname || '"'
    || ',"usr_full_name":"User ' || uname || '"'
    || ',"usr_domain":"corp"'
    || ',"connectedviaipaddress":"10.20.' || CAST(event_id % 200 AS STRING) || '.9"'
    || ',"launchedviahostname":"xen' || CAST(event_id % 9 AS STRING) || '"'
    || ',"launchedviaipaddress":"10.30.' || CAST(event_id % 200 AS STRING) || '.9"'
    || ',"publishedname":"Desktop' || CAST(event_id % 5 AS STRING) || '"'
    || ',"enabled":"1"'
    || ',"protocol":"HDX"'
    || ',"clientplatform":"Windows"'
    || ',"id":"s' || eid_s || '"'
    || ',"applicationtype":"HostedOnDesktop"'
    || ',"browsername":"Receiver"'
    || ',"connectedviahostname":"gw' || CAST(event_id % 4 AS STRING) || '"'
    || ',"clientversion":"19.12.0.' || CAST(event_id % 300 AS STRING) || '"'
    || ',"name":"session' || eid_s || '"'
    || ',"logonstartdate":"' || isoz || '"'
    || ',"establishmentdate":"' || isoz || '"'
    || ',"createddate":"' || isoz || '"}' AS text,
    'citrix.session' AS tool, ts, event_id
  FROM cx_base
)"""

  /** cisco.meraki.fw additive corpus (ref: syslog_security_cisco.meraki.fw
    * .conf) — flows (RULE 2 + ip:port dissects), urls (RULE 3 + 5/6),
    * ids pattern (RULE 4), content block (RULE 1). */
  val mkCte: String = s"""
mk_base AS (
  SELECT event_id, ts, user_id,
    CAST(FLOOR(event_id / 38.0) AS BIGINT) % 4 AS rsel,
    CAST(event_id AS STRING) AS eid_s,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    1024 + (event_id % 40000) AS spt,
    128 + (event_id % 8) AS pri5,
    1600000000 + (event_id % 10000000) AS stime,
    'mx' || CAST(user_id % 12 AS STRING) AS mx
  FROM events WHERE (event_id % 38) = 33
),
mk_turns AS (
  SELECT 'mk_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri5 AS STRING) || '>1 ' || CAST(stime AS STRING) || ' ' ||
    CASE rsel
      WHEN 0 THEN mx || '_mfw flows src=' || sip || ':' || CAST(spt AS STRING)
        || ' dst=' || dip || ':443 mac=aa:bb:cc:dd:ee:' || LPAD(CAST(event_id % 100 AS STRING), 2, '0')
        || ' protocol=tcp translated_src_ip=10.99.' || CAST(event_id % 200 AS STRING) || '.9'
        || ' translated_port=' || CAST(5000 + (event_id % 900) AS STRING)
      WHEN 1 THEN mx || ' urls src=' || sip || ':' || CAST(spt AS STRING)
        || ' dst=' || dip || ':80 mac=aa:bb:cc:dd:ee:' || LPAD(CAST(event_id % 100 AS STRING), 2, '0')
        || ' url=https://www.app' || CAST(event_id % 30 AS STRING) || '.co.uk/p/' || eid_s
      WHEN 2 THEN mx || ' security_event ids_alerted pattern: 1:' || CAST(20000 + (event_id % 9000) AS STRING) || '/blocked'
      ELSE mx || ' content_ing_block filteringBlocked url=https://bad' || CAST(event_id % 40 AS STRING) || '.example/x'
    END AS text,
    'cisco.meraki.fw' AS tool, ts, event_id
  FROM mk_base
)"""

  /** proofpoint.trap additive corpus (ref: log_security_proofpoint.trap
    * .conf) — incident JSON with array-valued fields and the
    * users/quarantine/incident_field_values ruby surfaces. */
  val ptCte: String = s"""
pt_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    'u' || CAST(user_id % 50 AS STRING) AS uname,
    '203.0.113.' || CAST(1 + (event_id % 250) AS STRING) AS cnc1,
    '198.51.100.' || CAST(1 + (user_id % 250) AS STRING) AS cnc2,
    $isoSec || 'Z' AS isoz
  FROM events WHERE (event_id % 39) = 7
),
pt_turns AS (
  SELECT 'pt_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"summary":"Phish campaign ' || CAST(event_id % 25 AS STRING) || '"'
    || ',"event_sources":["email"]'
    || ',"created_at":"' || isoz || '"'
    || ',"event_ids":[' || eid_s || ',' || CAST(event_id + 1 AS STRING) || ']'
    || ',"hosts":{"cnc":["' || cnc1 || '","' || cnc2 || '"],"attacker":["203.0.113.9"],"forensics":["f' || CAST(event_id % 40 AS STRING) || '"]}'
    || ',"description":"incident desc ' || eid_s || '"'
    || ',"id":' || eid_s
    || ',"score":' || CAST(event_id % 100 AS STRING)
    || ',"state":"' || CASE WHEN (event_id % 2) = 0 THEN 'closed' ELSE 'open' END || '"'
    || ',"closed_at":"' || isoz || '","updated_at":"' || isoz || '"'
    || ',"team":"soc","assignee":"' || uname || '"'
    || ',"event_count":' || CAST(1 + (event_id % 9) AS STRING)
    || ',"close_detail":"resolved by analyst ' || CAST(event_id % 8 AS STRING) || '"'
    || ',"failed_quarantines":' || CAST(event_id % 5 AS STRING)
    || ',"users":["' || uname || '",""]'
    || ',"quarantine_results":[{"recipient":"' || uname || '@example.com"},{"recipient":""}]'
    || ',"incident_field_values":[{"name":"Classification","value":"phish"},{"name":"Attack Vector","value":"email"},{"name":"Severity","value":"' || CASE (event_id % 3) WHEN 0 THEN 'Critical' WHEN 1 THEN 'High' ELSE 'Medium' END || '"}]'
    || '}' AS text,
    'proofpoint.trap' AS tool, ts, event_id
  FROM pt_base
)"""

  /** aws.securityhub additive corpus (ref: api_aws_securityhub.conf) —
    * 1-2 findings per event (the ruby loop keeps only the LAST), resources
    * with an empty second entry for the non-empty filters. */
  val shCte: String = s"""
sh_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    LPAD(CAST(user_id AS STRING), 12, '0') AS acct,
    $isoSec || 'Z' AS isoz,
    (event_id % 2) AS two
  FROM events WHERE (event_id % 41) = 19
),
sh_rec AS (
  SELECT *,
    '{"awsaccountid":"' || acct || '","createdat":"' || isoz || '"'
    || ',"description":"finding desc ' || eid_s || '"'
    || ',"generatorid":"aws-guard-' || CAST(event_id % 9 AS STRING) || '"'
    || ',"id":"arn:finding/' || eid_s || '"'
    || ',"productarn":"arn:product/securityhub","schemaversion":"2018-10-08"'
    || ',"severity":{"label":"' || CASE (event_id % 3) WHEN 0 THEN 'HIGH' WHEN 1 THEN 'MEDIUM' ELSE 'LOW' END || '"}'
    || ',"title":"finding title ' || CAST(event_id % 25 AS STRING) || '"'
    || ',"types":["software and configuration checks"]'
    || ',"resources":[{"id":"arn:ec2:i-' || eid_s || '","region":"us-east-1"},{"id":"","region":""}]'
    || ',"updatedat":"' || isoz || '"}' AS rec1,
    '{"awsaccountid":"' || acct || 'b","createdat":"' || isoz || '"'
    || ',"description":"finding desc ' || eid_s || 'b"'
    || ',"generatorid":"aws-guard-' || CAST(event_id % 9 AS STRING) || 'b"'
    || ',"id":"arn:finding/' || eid_s || 'b"'
    || ',"productarn":"arn:product/securityhub","schemaversion":"2018-10-08"'
    || ',"severity":{"label":"' || CASE (event_id % 3) WHEN 0 THEN 'HIGH' WHEN 1 THEN 'MEDIUM' ELSE 'LOW' END || '"}'
    || ',"title":"finding title ' || CAST(event_id % 25 AS STRING) || 'b"'
    || ',"types":["software and configuration checks"]'
    || ',"resources":[{"id":"arn:ec2:i-' || eid_s || 'b","region":"us-west-2"},{"id":"","region":""}]'
    || ',"updatedat":"' || isoz || '"}' AS rec2
  FROM sh_base
),
sh_turns AS (
  SELECT 'sh_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"detail-type":"Security Hub Findings - Imported","detail":{"findings":['
    || rec1 || CASE WHEN two = 0 THEN ',' || rec2 ELSE '' END || ']}}' AS text,
    'aws.securityhub' AS tool, ts, event_id
  FROM sh_rec
)"""

  /** a10.proxy — the inner syslog line wrapped in the kafka `codec => json`
    * shipper envelope {"message", "host"}: the ONE reference tech with a
    * json input codec (build_scripts/settings.json), carrying the generic
    * host→agent.name input normalization end-to-end. asel 0 = the a10/A10
    * `drop {}` line, 1 = RULE 1 persist-xff, 2 = RULE 3 proxy flow,
    * 3 = the "does not match rule" else branch. */
  val a10Cte: String = s"""
a10_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    (event_id % 4) AS asel,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS t1,
    'a10-' || CAST(user_id % 20 AS STRING) AS hostv,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    CASE (user_id % 4) WHEN 0 THEN 443 WHEN 1 THEN 80 WHEN 2 THEN 53 ELSE 22 END AS dpt,
    CASE (event_id % 3) WHEN 0 THEN 'https' WHEN 1 THEN 'http' ELSE 'dns' END AS proto,
    CASE WHEN (event_id % 5) < 3 THEN 'reset' ELSE 'forwarded' END AS act,
    CASE WHEN (event_id % 2) = 0 THEN 'Mozilla/5.0' ELSE 'curl/8.5' END AS ua
  FROM events WHERE (event_id % 43) = 17
),
a10_line AS (
  SELECT *,
    CASE asel
      WHEN 0 THEN CASE WHEN (event_id % 8) = 0 THEN 'a10' ELSE 'A10' END
      WHEN 1 THEN mon || ' ' || dday || ' ' || t1 || ' ' || hostv
        || '-hn a10d: [tmm]<6>persist-xff:' || ua || ', /app/' || eid_s || '] ' || sip
      WHEN 2 THEN '[ssl] ' || proto || ' ' || sip || ' > ' || dip || ':'
        || CAST(dpt AS STRING) || ' ' || act || ' (client)'
      ELSE 'session cleanup ' || eid_s
    END AS line
  FROM a10_base
),
a10_turns AS (
  SELECT 'a10_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"message":"<' || CAST(pri AS STRING) || '>' || line || '","host":"' || hostv || '"}' AS text,
    'a10.proxy' AS tool, ts, event_id
  FROM a10_line
)"""

  /** A side corpus: `events.parquet` as the `events` view, then the turn
    * columns of each of `views` defined in `cte`, unioned. */
  private def sideInput(spark: SparkSession, sfDir: String, cte: String, views: String*): DataFrame = {
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("events")
    spark.sql(s"WITH $cte " +
      views.map(v => s"SELECT conv_id, turn_idx, role, text, tool, ts FROM $v").mkString(" UNION ALL "))
  }

  def a10Input(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, a10Cte, "a10_turns")
  def shInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, shCte, "sh_turns")
  def ptInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ptCte, "pt_turns")
  def mkInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mkCte, "mk_turns")
  def ghInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ghCte, "gh_turns")
  def cxInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, cxCte, "cx_turns")
  def ckInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ckCte, "ck_turns")
  def lhInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, lhCte, "lh_turns")
  def gdInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, gdCte, "gd_turns")
  def saInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, saCte, "sa_turns")
  def cfInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, cfCte, "cf_turns")
  def nfInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, nfCte, "nf_turns")
  def hdfsInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, hdfsCte, "hdfs_turns")
  def f5Input(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, f5Cte, "f5_turns")
  def iisInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, iisCte, "iis_turns")
  def iseInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, iseCte, "ise_turns")
  def atpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, atpCte, "atp_turns")
  def ppmInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ppmCte, "ppm_turns")
  def elbInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, elbCte, "elb_turns")
  def sfInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, sfCte, "sf_turns", "sff_turns")
  def offInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, offCte, "off_turns")
  def ppInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ppCte, "pp_turns")
  def winInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, winCte, "win_turns")
  def ciscoInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ciscoCte, "cisco_turns")
  def oktaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, oktaCte, "okta_turns")
  def ctInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ctCte, "ct_turns")

  /** Spark-side csv/xml corpora (input_hint shape). */
  def csvInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, csvCte, "csv_turns")
  def xmlInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, xmlCte, "xml_turns")

  // ===================================================================
  // event_hub_audit_azure.* family corpora (ref: config/processors/
  // event_hub_audit_azure.event_hub_*.conf). Shared conventions:
  //   esel = event_id % 3: 0 → records[] envelope with TWO records
  //   (cardinality-up split), 1 → envelope with one record, 2 → bare
  //   object. Record field suffix 'b' marks the second record.
  // ===================================================================

  /** Portable second-resolution ISO of an arbitrary timestamp column. */
  private def isoSecOf(c: String): String =
    s"""LPAD(CAST(EXTRACT(YEAR FROM $c) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM $c) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM $c) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $c)) AS INT) AS STRING), 2, '0')"""

  private def isoMsOf(c: String): String =
    s"${isoSecOf(c)} || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || 'Z'"

  private val ehIp: String =
    """'8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING)"""

  // ------------------------- azure.eventhub.insights_audit (style A)
  private def ehaRec(sfx: String): String =
    s"""'{"tenantId":"' || tnt || '","operationName":"' || op
      || '","operationVersion":"1.0","category":"AuditLogs","resultType":"' || rt
      || '","resultSignature":"Sig' || eid_s || '$sfx","resultDescription":"Desc ' || eid_s
      || '$sfx","correlationId":"corr' || eid_s || '$sfx","level":4,"callerIpAddress":"' || cip
      || '","identity":"Ident' || eid_s
      || '$sfx","properties":{"initiatedBy":{"app":{"displayName":"App' || eid_s
      || '$sfx","appId":"aid' || eid_s || '$sfx","servicePrincipalId":"spn' || eid_s
      || '$sfx"},"user":{"userPrincipalName":"IU' || eid_s
      || '$sfx@corp.example","id":"uid' || eid_s
      || '$sfx"}},"targetResources":[{"type":"User","userPrincipalName":"TU' || eid_s
      || '$sfx@corp.example","id":"tid' || eid_s
      || '$sfx","modifiedProperties":[{"newValue":"nv' || eid_s
      || '$sfx"}]}],"category":"UserManagement","resultReason":"Reason ' || eid_s
      || '$sfx","additionalDetails":[{"key":"additionalinfo","value":"Op for user du' || eid_s
      || '$sfx."}]}}'"""

  val ehaCte: String = s"""
eha_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel, (event_id % 5) AS usel,
    CASE WHEN (event_id % 5) = 0 THEN 'unregister device' ELSE 'Update user' END AS op,
    CASE WHEN (event_id % 4) = 0 THEN 'Failure' ELSE 'Success' END AS rt,
    $ehIp AS cip
  FROM events WHERE (event_id % 47) = 11
),
eha_turns AS (
  SELECT 'eha_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN '{"tenantId":"' || tnt || '","operationName":"bare","category":"AuditLogs"}'
      WHEN 1 THEN '{"records": [' || ${ehaRec("")} || ']}'
      ELSE '{"records": [' || ${ehaRec("")} || ',' || ${ehaRec("b")} || ']}'
    END AS text,
    'azure.eventhub.insights_audit' AS tool, ts, event_id
  FROM eha_base
)"""

  // ------------------ azure.eventhub.insights_operational (style A)
  private def ehoRec(sfx: String): String =
    s"""'{"tenantId":"' || tnt || '","operationName":"TopOp' || eid_s
      || '$sfx","category":"TopCat' || eid_s
      || '$sfx","properties":{"operationName":"Op' || eid_s
      || '$sfx","Version":"2","category":"OpCat' || eid_s
      || '$sfx","Status":"Succeeded","resultType":"OK' || eid_s || '$sfx","ErrorCode":"e' || eid_s
      || '$sfx","FailureMessage":"fail msg ' || eid_s || '$sfx","EventId":"ev' || eid_s
      || '$sfx","UserId":"uid' || eid_s
      || '$sfx","level":"Information","OsVersion":"10.0","FailureReason":"reason ' || eid_s
      || '$sfx","Os":"Windows"}}'"""

  val ehoCte: String = s"""
eho_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel
  FROM events WHERE (event_id % 53) = 19
),
eho_turns AS (
  SELECT 'eho_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN '{"tenantId":"' || tnt || '","operationName":"bare"}'
      WHEN 1 THEN '{"records": [' || ${ehoRec("")} || ']}'
      ELSE '{"records": [' || ${ehoRec("")} || ',' || ${ehoRec("b")} || ']}'
    END AS text,
    'azure.eventhub.insights_operational' AS tool, ts, event_id
  FROM eho_base
)"""

  // ------------------------------------ azure.audit (style B)
  private def ehzRec(sfx: String): String =
    s"""'{"aadOperationType":"Add","aadTenantId":"aad-' || tnt
      || '","activityDateTime":"' || iso1 || '","activityDisplayName":"Add user ' || eid_s
      || '$sfx","category":"AuditLogs","durationMs":' || CAST(event_id % 5000 AS STRING)
      || ',"id":"id' || eid_s || '$sfx","initiatedBy":{"user":{"id":"iuid' || eid_s
      || '$sfx","displayName":"IUser ' || eid_s || '$sfx","userPrincipalName":"iu' || eid_s
      || '$sfx@corp.example","ipAddress":"' || cip
      || '"}},"level":3,"operationVersion":"2.1","result":"' || res
      || '","resultDescription":"rdesc ' || eid_s || '$sfx","tenantId":"' || tnt
      || '","timeGenerated":"' || iso0 || '","type":"AuditLogs","targetResources":[{"id":"tr' || eid_s
      || '$sfx","displayName":"TR ' || eid_s || '$sfx","userPrincipalName":"tr' || eid_s
      || '$sfx@corp.example"}]}'"""

  val ehzCte: String = s"""
ehz_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel,
    CASE WHEN (event_id % 4) = 0 THEN 'failure' ELSE 'success' END AS res,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    $ehIp AS cip
  FROM events WHERE (event_id % 59) = 23
),
ehz_turns AS (
  SELECT 'ehz_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN ${ehzRec("")}
      WHEN 1 THEN '{"records": [' || ${ehzRec("")} || ']}'
      ELSE '{"records": [' || ${ehzRec("")} || ',' || ${ehzRec("b")} || ']}'
    END AS text,
    'azure.audit' AS tool, ts, event_id
  FROM ehz_base
)"""

  // ------------------------------------ azure.riskyuser (style B)
  private def ehrRec(sfx: String): String =
    s"""'{"riskDetail":"userPassedMFADrivenByRiskBasedPolicy","riskLastUpdatedDateTime":"' || iso1
      || '","riskLevel":"' || lvl || '","riskState":"' || st
      || '","userDisplayName":"User ' || eid_s || '$sfx","userPrincipalName":"u' || eid_s
      || '$sfx@corp.example","timeGenerated":"' || iso0
      || '","operationName":"UserRiskEvent","correlationId":"c' || eid_s
      || '$sfx","type":"AADUserRiskEvents","tenantId":"' || tnt || '"}'"""

  val ehrCte: String = s"""
ehr_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel,
    CASE (event_id % 3) WHEN 0 THEN 'high' WHEN 1 THEN 'medium' ELSE 'low' END AS lvl,
    CASE WHEN (event_id % 2) = 0 THEN 'atRisk' ELSE 'remediated' END AS st,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1
  FROM events WHERE (event_id % 61) = 37
),
ehr_turns AS (
  SELECT 'ehr_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN ${ehrRec("")}
      WHEN 1 THEN '{"records": [' || ${ehrRec("")} || ']}'
      ELSE '{"records": [' || ${ehrRec("")} || ',' || ${ehrRec("b")} || ']}'
    END AS text,
    'azure.riskyuser' AS tool, ts, event_id
  FROM ehr_base
)"""

  // ------------------------------------ azure.emailevents (style B)
  private def ehmRec(sfx: String): String =
    s"""'{"reportId":"rp' || eid_s || '$sfx","timeGenerated":"' || iso0
      || '","url":"https://portal.office.com/attach/' || eid_s
      || '$sfx","urlDomain":"mail.example","type":"EmailEvents","fileName":"Invoice ' || eid_s
      || '$sfx.pdf","fileType":"pdf","senderDisplayName":"Sender ' || eid_s
      || '$sfx","senderFromAddress":"s' || eid_s || '$sfx@corp.example","senderObjectId":"so' || eid_s
      || '$sfx","fileSize":' || CAST(1000 + (event_id % 900000) AS STRING)
      || ',"recipientEmailAddress":"r' || eid_s || '$sfx@corp.example","recipientObjectId":"ro' || eid_s
      || '$sfx"}'"""

  val ehmCte: String = s"""
ehm_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS esel,
    ${isoMsOf("ts")} AS iso0
  FROM events WHERE (event_id % 67) = 41
),
ehm_turns AS (
  SELECT 'ehm_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN ${ehmRec("")}
      WHEN 1 THEN '{"records": [' || ${ehmRec("")} || ']}'
      ELSE '{"records": [' || ${ehmRec("")} || ',' || ${ehmRec("b")} || ']}'
    END AS text,
    'azure.emailevents' AS tool, ts, event_id
  FROM ehm_base
)"""

  // ------------------------------------ azure.userriskevents (style B)
  private def ehuRec(sfx: String): String =
    s"""'{"id":"id' || eid_s || '$sfx","userId":"u' || eid_s || '$sfx","ipAddress":"' || cip
      || '","location":{"city":"City' || eid_s
      || '$sfx","state":"ST","countryOrRegion":"US"},"requestId":"rq' || eid_s
      || '$sfx","riskDetail":"adminConfirmedUserCompromised","riskEventType":"unlikelyTravel","riskLevel":"' || lvl
      || '","riskState":"atRisk","source":"IdentityProtection","tokenIssuerType":"AzureAD","userPrincipalName":"u' || eid_s
      || '$sfx@corp.example","timeGenerated":"' || iso0
      || '","operationName":"UserRiskEvents","type":"AADUserRiskEvents","tenantId":"' || tnt || '"}'"""

  val ehuCte: String = s"""
ehu_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel,
    CASE (event_id % 3) WHEN 0 THEN 'high' WHEN 1 THEN 'medium' ELSE 'low' END AS lvl,
    ${isoMsOf("ts")} AS iso0,
    $ehIp AS cip
  FROM events WHERE (event_id % 71) = 13
),
ehu_turns AS (
  SELECT 'ehu_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN ${ehuRec("")}
      WHEN 1 THEN '{"records": [' || ${ehuRec("")} || ']}'
      ELSE '{"records": [' || ${ehuRec("")} || ',' || ${ehuRec("b")} || ']}'
    END AS text,
    'azure.userriskevents' AS tool, ts, event_id
  FROM ehu_base
)"""

  // ------------------------------------ azure.securityincident (style B)
  private def ehiRec(sfx: String): String =
    s"""'{"createdTime":"' || iso0 || '","description":"desc ' || eid_s
      || '$sfx","firstActivityTime":"' || iso1 || '","incidentNumber":' || inum
      || ',"incidentName":"inc-' || eid_s || '$sfx","lastModifiedTime":"' || iso2
      || '","providerName":"Azure Sentinel","severity":"' || sev
      || '","timeGenerated":"' || iso0 || '","type":"SecurityIncident","tenantId":"' || tnt
      || '","title":"Incident ' || eid_s || '$sfx"}'"""

  val ehiCte: String = s"""
ehi_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel,
    CAST(1000 + (event_id % 9000) AS STRING) AS inum,
    CASE (event_id % 3) WHEN 0 THEN 'High' WHEN 1 THEN 'Medium' ELSE 'Low' END AS sev,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    ${isoMsOf("(ts + INTERVAL 131 SECOND)")} AS iso2
  FROM events WHERE (event_id % 73) = 29
),
ehi_turns AS (
  SELECT 'ehi_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN ${ehiRec("")}
      WHEN 1 THEN '{"records": [' || ${ehiRec("")} || ']}'
      ELSE '{"records": [' || ${ehiRec("")} || ',' || ${ehiRec("b")} || ']}'
    END AS text,
    'azure.securityincident' AS tool, ts, event_id
  FROM ehi_base
)"""

  // ------------------------------------ azure.anomalies (style C)
  private def ehnRec(sfx: String): String =
    s"""'{"tenantId":"' || tnt || '","userName":"User ' || eid_s
      || '$sfx","userPrincipalName":"u' || eid_s
      || '$sfx@corp.example","userInsights":{"accountDisplayName":"Acct ' || eid_s
      || '$sfx","accountObjectId":"ao' || eid_s || '$sfx"},"timeGenerated":"' || iso0
      || '","startTime":"' || iso1 || '","endTime":"' || iso2
      || '","ruleName":"Anomalous Sign-in","ruleId":"ar' || eid_s || '$sfx",'
      || CASE WHEN xobj = 0 THEN '"extendedLinks":{"label":"View anomaly"},'
              ELSE '"extendedLinks":[{"label":"View anomaly"}],' END
      || '"deviceInsights":{"userAgentFamily":"Chrome"},'
      || CASE WHEN nobj = 0 THEN '"entities":{"address":"' || cip || '"},'
              ELSE '"entities":[{"address":"' || cip || '"}],' END
      || '"anomalyDetails":{"score":' || CAST(event_id % 100 AS STRING)
      || '},"activityInsights":{"actionUncommonlyPerformedByUser":' || b1
      || ',"unusualNumberOfAadConditionalAccessFailures":' || b2
      || '},"tactics":["InitialAccess"],"techniques":["T1078","T1110"]}'"""

  val ehnCte: String = s"""
ehn_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel,
    (event_id % 2) AS xobj, (user_id % 2) AS nobj,
    CASE WHEN (event_id % 4) = 0 THEN 'true' ELSE 'false' END AS b1,
    CASE WHEN (event_id % 5) = 0 THEN 'true' ELSE 'false' END AS b2,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    ${isoMsOf("(ts + INTERVAL 131 SECOND)")} AS iso2,
    $ehIp AS cip
  FROM events WHERE (event_id % 79) = 3
),
ehn_turns AS (
  SELECT 'ehn_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN '{"userName":"bare"}'
      WHEN 1 THEN '{"records": [' || ${ehnRec("")} || ']}'
      ELSE '{"records": [' || ${ehnRec("")} || ',' || ${ehnRec("b")} || ']}'
    END AS text,
    'azure.anomalies' AS tool, ts, event_id
  FROM ehn_base
)"""

  // ------------------------------------ azure.interactivesignin (style D)
  private def ehsRec(sfx: String): String =
    s"""'{"tenantId":"' || tnt || '","timeGenerated":"' || tg
      || '","operationName":"Sign-in activity","category":"SignInLogs","durationMs":' || CAST(event_id % 5000 AS STRING)
      || ',"resultType":"0","correlationId":"c' || eid_s || '$sfx","identity":"Ident ' || eid_s
      || '$sfx","createdDateTime":"' || cd || '","ipAddress":"' || cip
      || '","userAgent":"Mozilla/5.0","userPrincipalName":"u' || eid_s
      || '$sfx@corp.example","appDisplayName":"Office 365","userId":"uid' || eid_s
      || '$sfx","operationVersion":"1.0","appId":"app' || eid_s
      || '$sfx","status":{"failureReason":"Other.","additionalDetails":"MFA requirement satisfied","errorCode":50140}'
      || ',"resultDescription":"rd ' || eid_s || '$sfx","autonomousSystemNumber":' || CAST(64512 + (event_id % 1000) AS STRING)
      || ',"userDisplayName":"User ' || eid_s
      || '$sfx","conditionalAccessStatus":"success","resourceServicePrincipalId":"rsp' || eid_s
      || '$sfx","authenticationRequirement":"multiFactorAuthentication","clientAppUsed":"Browser","resourceDisplayName":"Windows Azure Active Directory","type":"SignInLogs"'
      || ',"deviceDetail":{"deviceId":"dev' || eid_s || '$sfx","operatingSystem":"Windows10","displayName":"HOST-' || eid_s
      || '$sfx","browser":"Edge 18.0","trustType":"Azure AD joined"}'
      || ',"authenticationDetails":[{"authenticationMethod":"Password","authenticationStepResultDetail":"Correct password","authenticationStepRequirement":"Primary authentication"}]'
      || ',"conditionalAccessPolicies":[{"displayName":"policy a","result":"notApplied"}]'
      || ',"authenticationProcessingDetails":[{"key":"Login Hint Present","value":"True"}]'
      || ',"networkLocationDetails":[{"networkType":"namedNetwork","networkNames":["corp"]}]}'"""

  val ehsCte: String = s"""
ehs_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    'tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    (event_id % 3) AS esel, (event_id % 2) AS msel,
    CASE WHEN (event_id % 2) = 0 THEN ${isoMsOf("ts")}
         ELSE ${isoSecOf("ts")} || 'Z' END AS tg,
    CASE WHEN (event_id % 2) = 0 THEN ${isoMsOf("(ts + INTERVAL 67 SECOND)")}
         ELSE ${isoSecOf("(ts + INTERVAL 67 SECOND)")} || 'Z' END AS cd,
    $ehIp AS cip
  FROM events WHERE (event_id % 83) = 47
),
ehs_turns AS (
  SELECT 'ehs_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN ${ehsRec("")}
      WHEN 1 THEN '{"records": [' || ${ehsRec("")} || ']}'
      ELSE '{"records": [' || ${ehsRec("")} || ',' || ${ehsRec("b")} || ']}'
    END AS text,
    'azure.interactivesignin' AS tool, ts, event_id
  FROM ehs_base
)"""

  private def monCaseOf(c: String): String =
    s"CASE CAST(EXTRACT(MONTH FROM $c) AS INT) WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar' WHEN 4 THEN 'Apr' WHEN 5 THEN 'May' WHEN 6 THEN 'Jun' WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug' WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov' ELSE 'Dec' END"

  private def hmsOf(c: String): String =
    s"""LPAD(CAST(EXTRACT(HOUR FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $c)) AS INT) AS STRING), 2, '0')"""

  /** infoblox.ipam_audit corpus — 12 of the conf's 18 rules (ref:
    * config/processors/syslog_audit_infoblox.conf). */
  val ibCte: String = s"""
ib_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 12) AS bsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    ${hmsOf("ts")} AS t1,
    '10.20.' || CAST(user_id % 200 AS STRING) || '.' || CAST(1 + (event_id % 254) AS STRING) AS hip,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip,
    LPAD(CAST(EXTRACT(DAY FROM (ts + INTERVAL 67 SECOND)) AS STRING), 2, '0') || '-'
      || ${monCaseOf("(ts + INTERVAL 67 SECOND)")} || '-'
      || LPAD(CAST(EXTRACT(YEAR FROM (ts + INTERVAL 67 SECOND)) AS STRING), 4, '0') || ' '
      || ${hmsOf("(ts + INTERVAL 67 SECOND)")} || '.'
      || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS dmy
  FROM events WHERE (event_id % 101) = 43
),
ib_turns AS (
  SELECT 'ib_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || mon || ' ' || dday || ' ' || t1 || ' ' || hip || ' ' ||
    CASE bsel
      WHEN 0 THEN 'named[123]: zone zone' || eid_s || '.example/IN: loaded serial 42'
      WHEN 1 THEN 'named[123]: client cl' || eid_s || '.corp.example ' || cip || '#5353: query: example.com IN A'
      WHEN 2 THEN 'named[123]: checkhints: hint ' || eid_s
      WHEN 3 THEN 'named[123]: transfer of ''zn' || eid_s || '.example/IN'' from 172.16.9.9#53: Transfer status: success'
      WHEN 4 THEN 'named[123]: ' || dmy || ' client ' || cip || '#5353: UDP: query: www.example.com IN A'
      WHEN 5 THEN 'db_jnld: Deleted of CNAME ''rec' || eid_s || ''' in zone corp.example'
      WHEN 6 THEN 'dhcpd[3123]: DHCPACK on 10.4.5.6 to aa:bb:cc:dd:ee:0f (h' || eid_s || ') via eth1'
      WHEN 7 THEN 'dhcpd[3123]: DHCPDISCOVER from aa:bb:cc:dd:ee:0f via 10.4.5.6: network x: no free leases'
      WHEN 8 THEN 'dhcpd[3123]: DHCPREQUEST for 10.4.5.6 from aa:bb:cc:dd:ee:0f via 10.4.5.1 TransID tid' || eid_s
      WHEN 9 THEN 'dhcpd[3123]: r-l-e:10.4.5.9,Assigned,h' || eid_s || ',aa:bb:cc:dd:ee:0f,extra'
      WHEN 10 THEN 'sshd: infoblox admin note ' || eid_s
      ELSE 'dhcpd[3123]: DHCPUNKNOWN event ' || eid_s
    END AS text,
    'infoblox.ipam_audit' AS tool, ts, event_id
  FROM ib_base
)"""

  def ibInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ibCte, "ib_turns")

  /** juniper.fw_traffic corpus — 14 branches over the conf's 24 rules (ref:
    * config/processors/syslog_security_juniper.fw.conf). */
  val jnCte: String = s"""
jn_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 14) AS bsel, (event_id % 3) AS rsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    ${isoSecOf("(ts + INTERVAL 67 SECOND)")} || '.'
      || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '+0000' AS isoz,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip
  FROM events WHERE (event_id % 97) = 13
),
jn_line AS (
  SELECT *,
    'source-address=''' || sip || ''' source-port=''5353'' destination-address=''' || dip
      || ''' destination-port=''443'' service-name=''junos-https''' AS f1,
    ' nat-source-address=''' || sip || ''' nat-source-port=''11111'' nat-destination-address=''' || dip
      || ''' nat-destination-port=''443'' src-nat-rule-name=''snr'' dst-nat-rule-name=''dnr'''
      || ' protocol-id=''6'' policy-name=''POL-' || eid_s
      || ''' source-zone-name=''TRUST'' destination-zone-name=''UNTRUST'' session-id-32=''777''' AS f2
  FROM jn_base
),
jn_turns AS (
  SELECT 'jn_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' ||
    CASE bsel
      WHEN 0 THEN '1 ' || isoz || ' hostJ RT_FLOW_SESSION_DENY [junos@2636 ' || f1
        || ' protocol-id=''6'' icmp-type=''0'' policy-name=''POL-' || eid_s
        || ''' source-zone-name=''TRUST'' destination-zone-name=''UNTRUST'' application=''UNKNOWN'' nested-application=''web'' username=''u'
        || eid_s || ''' roles=''r1'' packet-incoming-interface=''ge-0/0/0.0'' encrypted=''No'' reason=''policy deny''] session denied'
      WHEN 1 THEN '1 ' || isoz || ' hostJ APPTRACK_SESSION_CLOSE [junos@2636 ' || f1 || f2
        || ' username=''u' || eid_s || ''' encrypted=''No''] AppQoS processing'
      WHEN 2 THEN '1 ' || isoz || ' hostJ APPTRACK_SESSION_CREATE [junos@2636 ' || f1 || f2
        || ' username=''u' || eid_s || ''' encrypted=''No''] AppTrack start'
      WHEN 3 THEN '1 ' || isoz || ' hostJ WEBFILTER_URL_PERMITTED [junos@2636 source-address=''' || sip
        || ''' source-port=''5353'' destination-address=''' || dip
        || ''' destination-port=''443'' name=''www.example.com'' error-message=''permitted'' profile-name=''pf'' object-name=''obj'' pathname=''/p/'
        || eid_s || ''' username=''u' || eid_s || ''' roles=''r1''] url permitted'
      WHEN 4 THEN '1 ' || isoz || ' hostJ SNMPD_AUTH_FAILURE [junos@2636 function-name=''fn'' message=''auth failure '
        || eid_s || ''' source-address=''' || sip || ''' destination-address=''' || dip
        || ''' index1=''1''] snmp auth fail'
      WHEN 5 THEN '1 ' || isoz || ' hostJ SNMP_TRAP_LINK_UP [junos@2636 snmp-interface-index=''541'' admin-status=''up'' operational-status=''down'' interface-name=''ge-1/0/1''] ifOperStatus'
      WHEN 6 THEN '1 ' || isoz || ' hostJ KMD_VPN_UP_ALARM_USER [junos@2636 vpn-name=''VPN-' || eid_s
        || ''' remote-address=''' || dip || ''' local-address=''' || sip
        || ''' gateway-name=''gw1'' group-name=''grp1'' tunnel-id=''5'' interface-name=''st0.0'' internal-ip=''10.8.8.8'' name=''vpnhost'
        || eid_s || ''' peer-name=''pn'' client-name=''cl' || eid_s
        || ''' vrrp-group-id=''7'' traffic-selector-name=''ts'' traffic-selector-cfg-local-id=''l'' traffic-selector-cfg-remote-id=''r''] vpn up'
      WHEN 7 THEN '1 ' || isoz || ' hostJ RT_FLOW_SESSION_CLOSE [junos@2636 reason=''tcp fin'' ' || f1 || f2
        || ' packets-from-client=''10'' bytes-from-client=''1000'' packets-from-server=''20'' bytes-from-server=''2000'' elapsed-time=''33'' application=''x'' nested-application=''web'' username=''u'
        || eid_s || ''' roles=''r1'' packet-incoming-interface=''ge'' encrypted=''No''] session closed'
      WHEN 8 THEN '1 ' || isoz || ' hostJ RT_FLOW_SESSION_CREATE [junos@2636 ' || f1 || f2
        || ' username=''u' || eid_s
        || ''' roles=''r1'' packet-incoming-interface=''ge'' application=''x'' nested-application=''web'' encrypted=''No''] session created'
      WHEN 9 THEN '1 ' || isoz || ' hostJ APPTRACK_SESSION_VOL_UPDATE [junos@2636 ' || f1
        || ' application=''x'' nested-application=''web''' || f2
        || ' packets-from-client=''10'' bytes-from-client=''1000'' packets-from-server=''20'' bytes-from-server=''2000'' elapsed-time=''33'' username=''u'
        || eid_s || ''' roles=''r1'' encrypted=''No''] vol update'
      WHEN 10 THEN '1 ' || isoz || ' hostJ - - - - IKE negotiation failed with error: No proposal chosen: SA 1 IKE Version: 2, VPN: VPNX Gateway: gw1, Local: '
        || sip || '/500, Remote: ' || dip || '/500, Local IKE-ID: lid, Remote IKE-ID: rid, VR-ID: 0'
      WHEN 11 THEN '1 ' || isoz || ' hostJ - - - - IKEFailGeneric: SA 1 IKE Version: 2, VPN: VPNX Gateway: gw1, Local: '
        || sip || '/500, Remote: ' || dip || '/500, Local IKE-ID: lid, Remote IKE-ID: rid, VR-ID: 0 IKE negotiation failed with error'
      WHEN 12 THEN 'x %JNPR-5-EVENT: hostK juniper event ' || eid_s
      ELSE 'x notatime hostL ' || CASE rsel WHEN 0 THEN 'login (root) ok'
        WHEN 1 THEN 'last message repeated 2 times' ELSE 'plain juniper ' || eid_s END
    END AS text,
    'juniper.fw_traffic' AS tool, ts, event_id
  FROM jn_line
)"""

  def jnInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, jnCte, "jn_turns")

  /** Portable 'yyyy-MM-dd HH:mm:ss' (space-separated) of a ts column. */
  private def spSecOf(c: String): String =
    s"""LPAD(CAST(EXTRACT(YEAR FROM $c) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM $c) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM $c) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $c)) AS INT) AS STRING), 2, '0')"""

  /** symantec.endpoint_protection corpus — one branch per bsel over the
    * conf's 12 live message families (ref:
    * config/processors/syslog_security_symantec.endpoint.conf). */
  val symCte: String = s"""
sym_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 12) AS bsel, (event_id % 2) AS hsel, (event_id % 3) AS rsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS t1,
    'sepm-' || CAST(user_id % 7 AS STRING) AS obs,
    ${spSecOf("(ts + INTERVAL 67 SECOND)")} AS d1,
    ${spSecOf("(ts + INTERVAL 131 SECOND)")} AS d2
  FROM events WHERE (event_id % 89) = 31
),
sym_line AS (
  SELECT *,
    mon || ' ' || dday || ' ' || t1 || ' ' || obs || ' ' AS pfx
  FROM sym_base
),
sym_turns AS (
  SELECT 'sy_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' ||
    CASE bsel
      WHEN 0 THEN '2026-01-01T00:00:00 {S1} <14>' || pfx
        || 'Application type:chrome,Web domain:web.example.com,Hash type:SHA2,Application hash:ha' || eid_s
        || ',Application version:1.2.3,Company name:VendorX,Application name:AppY' || eid_s
        || ',Actual action:Blocked,Risk name:RiskZ' || eid_s || ',User Name:u' || eid_s
        || ',Location:LocA,Category type:CatT,SymantecServer:SrvDesc' || eid_s
        || ',File size (bytes):123,Computer name:HOSTA' || eid_s
        || ',Group Name:GrpA,Domain Name:DomA,End Time:' || d2
        || ',Download site:http://dl.example.com/x,File path:/tmp/y' || eid_s || '.exe,IP Address:10.1.2.3'
      WHEN 1 THEN pfx || 'Site: Prod_DMZ_HB' || eid_s || ',J1: j2,Event Description:TcpD' || eid_s
        || ',Server Name:srv' || eid_s || ',Domain Name:DomT'
      WHEN 2 THEN pfx || 'Site: Sys: RSet' || eid_s || ',Server: HOSTC' || eid_s
        || ',Action: Started [u' || eid_s || '@corp.example]'
      WHEN 3 THEN pfx || 'Site: S1,Domain: DomA,junk j' || eid_s
      WHEN 4 THEN 'RT1 {c} <15>' || pfx || 'Site: SN: RSetA' || eid_s || ',Server: HOSTD' || eid_s
        || ',Domain: DomD' || eid_s || ',Admin: adm' || eid_s || ',AdmDesc' || eid_s
      WHEN 5 THEN 'RT1 {c} <15>' || pfx || 'Site: SN: RSetA' || eid_s || ',Server: HOSTD' || eid_s
        || ',Domain: DomD' || eid_s || ',Admin: adm' || eid_s
        || ',event description: Administrator log on failed'
      WHEN 6 THEN pfx || 'Device ID: HOSTE' || eid_s || ',10.0.0.5,Blocked,'
        || CASE hsel WHEN 0 THEN 'MD5=def' || eid_s
             ELSE 'SHA256=abc' || eid_s || ' - target arguments=''-x''' END
        || ',EvName' || eid_s || ',Begin: ' || d1 || ',End: ' || d2
        || ',Rule: RuleB' || eid_s || ',123,proc.exe,7,tname,/tmp/f' || eid_s
        || '.bin,User: u' || eid_s || ',Domain: DomB,Action Type: AT1,File size (bytes): 456,devX'
      WHEN 7 THEN pfx || 'SomeTag: Scan ID: 987' || eid_s || ',Begin: ' || d1 || ',End: ' || d2
        || ',Completed,Duration (seconds): 42,User1: su' || eid_s || ',User2: du' || eid_s
        || ',EvScan' || eid_s || ',EC2,Command: ScanFull,Threats: 0,Infected: 0,Total files: 100,Omitted: 1,Computer: HOSTF'
        || eid_s || ',IP Address: 10.2.3.4,Domain: DomS,Grp: RSetS' || eid_s || ',Srv: srvS'
      WHEN 8 THEN pfx || 'STag: HOSTS' || eid_s || ',Desc: '
        || CASE WHEN rsel = 0 THEN 'EvSec' || eid_s || ' Requirement: ''ReqRule' || eid_s || ''' Audited x'
                ELSE 'PlainSec' || eid_s END
        || ',Event Type: NetworkIDPS,CIDS Signature ID:71' || eid_s
        || ',CIDS Signature string:SigStr' || eid_s
        || ',CIDS Signature SubID:33,Intrusion URL:http://bad.example/x' || eid_s
        || ',Local Host IP:172.16.1.2,Local Port:443,Remote Port:5555,Application:procx,Begin:' || d1
        || ',End Time:' || d2
        || ',Domain Name:DomC,Remote Host IP:8.8.4.4,Remote Host MAC:aa:bb:cc:dd:ee:0f,Inbound,TCP,Blocked,tail'
      WHEN 9 THEN pfx || 'Tag: ActD' || eid_s
        || ',Risk Level:High,Detection type:Heuristic,Detection Submissions No,1,Occurrences: 2,/tmp/s'
        || eid_s || '.exe,,Application hash:ab' || eid_s
        || ',Hash type:SHA256,Certificate issuer:CIss,Application name:AppS,Certificate thumbprint:th1'
      WHEN 10 THEN pfx || 'STag: AHOST' || eid_s || ',Category: 2,SylinkMonitor,DescG' || eid_s
        || ',Event time: ' || d1 || ',Group Name: GrpG'
      ELSE pfx || 'konspol: KHOST' || eid_s || ',x,RuleK' || eid_s
        || ',event description: blocked file ''c:/apps/k' || eid_s
        || '.exe'' found,event time: ' || d1 || ',group name: GrpK'
    END AS text,
    'symantec.endpoint_protection' AS tool, ts, event_id
  FROM sym_line
)"""

  /** securityonion.suricata corpus — EVE JSON, alert vs non-alert shapes. */
  val soCte: String = s"""
so_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS susel,
    ${isoMsOf("ts")} AS iso0,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    CAST(1024 + (event_id % 40000) AS STRING) AS sp,
    CASE (event_id % 4) WHEN 0 THEN '443' WHEN 1 THEN '80' WHEN 2 THEN '53' ELSE '22' END AS dp,
    CAST(2000000 + (event_id % 10000) AS STRING) AS sid
  FROM events WHERE (event_id % 107) = 71
),
so_turns AS (
  SELECT 'so_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"timestamp":"' || iso0 || '","event_type":"'
    || CASE WHEN susel = 1 THEN 'dns' ELSE 'alert' END
    || '","src_ip":"' || sip || '","dest_ip":"' || dip
    || '","src_port":' || sp || ',"dest_port":' || dp
    || ',"proto":"' || CASE WHEN (event_id % 2) = 0 THEN 'TCP' ELSE 'UDP' END
    || '","flow_id":' || eid_s || ',"in_iface":"eth0","community_id":"1:cid' || eid_s
    || '","app_proto":"' || CASE WHEN susel = 1 THEN 'dns' ELSE 'http' END || '"'
    || CASE WHEN susel = 1 THEN ''
       ELSE ',"alert":{"action":"allowed","category":"Attempted Information Leak","severity":2,"rule":"alert tcp any any","signature_id":'
         || sid || ',"signature":"ET SCAN Probe ' || eid_s || '","rev":3}' END
    || '}' AS text,
    'securityonion.suricata' AS tool, ts, event_id
  FROM so_base
)"""

  def soInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, soCte, "so_turns")

  /** apache.access corpus — RULE 1 (header form) vs RULE 2, status ladder. */
  val apCte: String = s"""
ap_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS absel,
    CASE (event_id % 4) WHEN 0 THEN '200' WHEN 1 THEN '302' WHEN 2 THEN '404' ELSE '500' END AS status,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    LPAD(CAST(EXTRACT(DAY FROM (ts + INTERVAL 67 SECOND)) AS STRING), 2, '0') || '/'
      || ${monCaseOf("(ts + INTERVAL 67 SECOND)")} || '/'
      || LPAD(CAST(EXTRACT(YEAR FROM (ts + INTERVAL 67 SECOND)) AS STRING), 4, '0') || ':'
      || ${hmsOf("(ts + INTERVAL 67 SECOND)")} || ' +0000' AS dmon
  FROM events WHERE (event_id % 109) = 5
),
ap_turns AS (
  SELECT 'ap_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE absel
      WHEN 0 THEN '2026-01-01T00:00:00 {name=app' || CAST(user_id % 9 AS STRING) || '} ' || sip
        || ' - - [' || dmon || '] GET /p' || eid_s || ' HTTP/1.1 ' || status || ' 123 -'
      ELSE sip || ' - - [' || dmon || '] POST /q' || eid_s || ' HTTP/1.0 ' || status || ' 456 -'
    END AS text,
    'apache.access' AS tool, ts, event_id
  FROM ap_base
)"""

  def apInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, apCte, "ap_turns")

  /** azure.eventhub.o365_dlp corpus — single alert-object shape. */
  val dlpCte: String = s"""
dlp_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    ${isoMsOf("(ts + INTERVAL 131 SECOND)")} AS iso2
  FROM events WHERE (event_id % 113) = 7
),
dlp_turns AS (
  SELECT 'dl_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"category":"ThreatManagement","id":"al' || eid_s
    || '","investigationId":"inv' || CAST(event_id % 500 AS STRING)
    || '","severity":"High","status":"New","determination":"Apt","detectionSource":"OfficeDlp","title":"DLP alert '
    || eid_s || '","description":"desc ' || eid_s
    || '","alertCreationTime":"' || iso0 || '","firstEventTime":"' || iso1
    || '","lastEventTime":"' || iso2 || '","lastUpdateTime":"' || iso0
    || '","machineId":"m' || eid_s || '","computerDnsName":"wks' || eid_s
    || '","relatedUser":"u' || eid_s || '"}' AS text,
    'azure.eventhub.o365_dlp' AS tool, ts, event_id
  FROM dlp_base
)"""

  def dlpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, dlpCte, "dlp_turns")

  /** azure.eventhub.o365.msg_tracking corpus. */
  val mtCte: String = s"""
mt_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    ${isoSecOf("ts")} AS it0,
    ${isoSecOf("(ts + INTERVAL 67 SECOND)")} AS it1,
    ${isoSecOf("(ts + INTERVAL 131 SECOND)")} AS it2,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip
  FROM events WHERE (event_id % 127) = 19
),
mt_turns AS (
  SELECT 'mt_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"PSComputerName":"ps1.example.com","MessageId":"mid' || eid_s
    || '","SenderAddress":"s' || eid_s || '@corp.example","RecipientAddress":"r' || eid_s
    || '@corp.example","Subject":"subj ' || eid_s || '","Status":"Delivered","ToIP":"' || dip
    || '","FromIP":"' || sip || '","Size":' || CAST(1000 + (event_id % 5000) AS STRING)
    || ',"Organization":"corp.example","StartDate":"' || it1
    || '","EndDate":"' || it2 || '","Received":"' || it0 || '"}' AS text,
    'azure.eventhub.o365.msg_tracking' AS tool, ts, event_id
  FROM mt_base
)"""

  def mtInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mtCte, "mt_turns")

  /** azure.fwflow corpus — one row per kind family (ksel). */
  val fwCte: String = s"""
fw_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 5) AS ksel,
    ${isoSecOf("ts")} || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '4510Z' AS iso7,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    CAST(1024 + (event_id % 40000) AS STRING) AS sp,
    CAST(3000000 + (event_id % 10000) AS STRING) AS sid
  FROM events WHERE (event_id % 131) = 101
),
fw_turns AS (
  SELECT 'fw_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"resourceId":"/SUBSCRIPTIONS/X/AZFW' || CAST(user_id % 9 AS STRING)
    || '","time":"' || iso7 || '","category":"'
    || CASE ksel WHEN 0 THEN 'AZFWDnsQuery' WHEN 1 THEN 'AZFWIdpsSignature'
         WHEN 2 THEN 'AZFWApplicationRule' WHEN 3 THEN 'AzureFirewallNetworkRule'
         ELSE 'SomethingNew' END
    || '","properties":{'
    || CASE ksel
      WHEN 0 THEN '"QueryClass":"IN","Protocol":"UDP","QueryId":' || eid_s
        || ',"QueryName":"q' || eid_s || '.example.com","QueryType":"A","ResponseCode":"NOERROR","ResponseFlags":"AA,QR","SourceIp":"'
        || sip || '","SourcePort":' || sp
      WHEN 1 THEN '"Description":"sig desc ' || eid_s
        || '","Action":"Alert","DestinationIp":"' || dip
        || '","DestinationPort":443,"Category":"POLICY","Severity":2,"SignatureId":' || sid
        || ',"SourceIp":"' || sip || '","SourcePort":' || sp
      WHEN 2 THEN '"RuleCollectionGroup":"rcg' || eid_s
        || '","Policy":"pol1","IsTlsInspected":true,"TargetUrl":"site' || eid_s
        || '.example.com","RuleCollection":"rc1","Rule":"apprule' || eid_s
        || '","IsExplicitProxyRequest":false,"WebCategory":"SearchEngines","ActionReason":"allowed by rule","Fqdn":"site'
        || eid_s || '.example.com","DestinationPort":443,"Action":"Allow","SourceIp":"'
        || sip || '","SourcePort":' || sp
      WHEN 3 THEN '"msg":"TCP request from ' || sip || ':5353 to ' || dip
        || ':443. Action: Deny. Policy: pol1 Rule Collection Group: rcg1 Rule Collection: rc1 Rule: netrule'
        || eid_s || '"'
      ELSE '"Flag":"x"' END
    || '}}' AS text,
    'azure.fwflow' AS tool, ts, event_id
  FROM fw_base
)"""

  def fwInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, fwCte, "fw_turns")

  /** proofpoint.pod corpus — scalar-vs-array recipient forms, bracketed
    * connection hosts, msgParts lists. */
  val podCte: String = s"""
pod_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS psel,
    ${isoMsOf("ts")} AS iso0,
    ${isoSecOf("(ts + INTERVAL 67 SECOND)")} || '.'
      || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') || '421+0000' AS st6,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    CAST(2000 + (event_id % 90000) AS STRING) AS sz
  FROM events WHERE (event_id % 137) = 23
),
pod_turns AS (
  SELECT 'po_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"ts":"' || iso0 || '","guid":"g' || eid_s
    || '","pps":{"cid":"pod0001","agent":"agent' || CAST(user_id % 9 AS STRING)
    || '.example.com","version":"8.21"},"filter":{"disposition":"accept","quarantine":{"folder":"Quarantine","rule":"spam'
    || eid_s || '"},"routeDirection":"inbound","startTime":"' || st6
    || '","msgSizeBytes":' || sz
    || ',"actions":["quarantine"],"ismsgencrypted":"' || CASE WHEN (event_id % 3) = 0 THEN 'true' ELSE 'false' END
    || '"},"connection":{"ip":"' || sip || '","host":"'
    || CASE WHEN psel = 0 THEN '[10.2.3.4]' ELSE 'mail' || CAST(user_id % 9 AS STRING) || '.pod.example' END
    || '","protocol":"tcp:smtp"},"envelope":{"rcpts":'
    || CASE WHEN psel = 0 THEN '"r' || eid_s || '@corp.example"'
       ELSE '["r1' || eid_s || '@corp.example","r2' || eid_s || '@corp.example"]' END
    || '},"msg":{"normalizedHeader":{"subject":"subj ' || eid_s
    || '"},"parsedAddresses":{"from":"s' || eid_s || '@x.example"'
    || CASE WHEN psel = 0 THEN ',"to":["Undisclosed recipients"]'
       ELSE ',"cc":["c' || eid_s || '@corp.example"],"to":["t' || eid_s || '@corp.example"]' END
    || '}},"msgParts":[{"detectedName":"file' || eid_s
    || '.docx","detectedSizeBytes":1234,"md5":"' || md5(eid_s)
    || '","sha256":"","urls":[{"url":"http://u' || eid_s || '.example/x"}]}]}' AS text,
    'proofpoint.pod' AS tool, ts, event_id
  FROM pod_base
)"""

  def podInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, podCte, "pod_turns")

  /** entrust mpki + cisco.mso corpus. */
  val mpCte: String = s"""
mp_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS bsel, (event_id % 3) AS csel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd2,
    ${hmsOf("ts")} AS t1,
    ${spSecOf("ts")} AS d1
  FROM events WHERE (event_id % 199) = 77
),
mp_turns AS (
  SELECT 'mp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' ||
    CASE bsel
      WHEN 0 THEN d1 || ',srv1 mpki INFO tenant=acme' || eid_s
        || ' cn=ca-root user=mu' || eid_s
      ELSE mon || ' ' || dd2 || ' ' || t1 || ' msc-logging-service fluentd: message:' ||
        CASE csel
          WHEN 0 THEN '2026-05-01 10:00:01 [auth] svc - User : admin' || eid_s
            || ' failed attempt from console:rep'
          WHEN 1 THEN '2026-05-01 10:00:01 [audit] svc - Audit: log: cleanup' || eid_s
            || 'event:rep'
          ELSE '2026-05-01 10:00:01 [sys] svc - hostname: node' || eid_s
        END
    END AS text,
    CASE bsel WHEN 0 THEN 'entrust.mpki.cmpv2' ELSE 'cisco.mso' END AS tool, ts, event_id
  FROM mp_base
)"""

  def mpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mpCte, "mp_turns")

  /** sap tcodes + riverbed stdout corpus. */
  val spCte: String = s"""
sp_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS bsel, (event_id % 3) AS csel,
    $monCase AS mon,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd2,
    ${hmsOf("ts")} AS t1,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') AS yr,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0')
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0')
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0')
      || replace(${hmsOf("ts")}, ':', '') || '.'
      || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS compact,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 197) = 13
),
sp_turns AS (
  SELECT 'sp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '{"timestamp":"' || compact
        || '","reason_id":"LOGON","tags":"sap","agent":{"type":"sapgui","name":"sapagent'
        || CAST(user_id % 9 AS STRING) || '"},"client_pc":"PC-' || eid_s
        || '","username":"sapu' || eid_s
        || '","log_client":"100","edm_data":{"log_sapgui":{"value_header":[{"pprogram":"SAPMSYST","gui_title":"Login Screen","tcode":"SU01"}]}},"trx_name":"user admin","tid":"AUD","sysid":"PRD","technology":"abap","host_name":"saphost'
        || eid_s || '","log":{"source":{"ip":"' || sip || '","hostname":"saplog'
        || CAST(user_id % 9 AS STRING) || '"}}}'
      ELSE CASE csel
        WHEN 0 THEN 'INFO [Start time: Mon ' || mon || ' ' || dd2 || ' ' || t1
          || ' UTC ' || yr || ']'
        WHEN 1 THEN 'WARN [config file:/etc/rvbd' || eid_s || '.conf]'
        ELSE 'INFO [maintenance task run *** cleanup ' || eid_s || ' done ***]'
      END
    END AS text,
    CASE bsel WHEN 0 THEN 'sap.t-codes' ELSE 'cisco.riverbed.stdout' END AS tool, ts, event_id
  FROM sp_base
)"""

  def spInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, spCte, "sp_turns")

  /** oci.vcn + aix.rsyslog corpus. */
  val vxCte: String = s"""
vx_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS bsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd2,
    ${hmsOf("ts")} AS t1,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') AS yr,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip
  FROM events WHERE (event_id % 193) = 111
),
vx_turns AS (
  SELECT 'vx_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '{"data":{"action":"ACCEPT","bytesOut":' || CAST(event_id % 100000 AS STRING)
        || ',"destinationAddress":"' || dip || '","destinationPort":443,"protocolName":"tcp","protocol":6,"packets":'
        || CAST(1 + (event_id % 1000) AS STRING) || ',"sourceAddress":"' || sip
        || '","sourcePort":' || CAST(1024 + (event_id % 40000) AS STRING)
        || ',"status":"OK"},"oracle":{"tenantid":"ocid1.tenancy.t' || CAST(user_id % 9 AS STRING)
        || '","ingestedtime":"' || iso0 || '","loggroupid":"lg1"},"specversion":"1.0","time":"'
        || iso1 || '","type":"com.oraclecloud.vcn.flowlogs","id":"fl' || eid_s || '"}'
      ELSE '<' || CAST(pri AS STRING) || '>aixhdr} {"severity":5,"type":"audit","message":"audit: '
        || mon || ' ' || dd2 || ' ' || t1 || ' ' || yr
        || ' f5 f6 root f8 f9 f10 f11 /usr/bin/ls -l ' || eid_s || '"}'
    END AS text,
    CASE bsel WHEN 0 THEN 'oci.vcn' ELSE 'aix.rsyslog' END AS tool, ts, event_id
  FROM vx_base
)"""

  def vxInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, vxCte, "vx_turns")

  /** as400.audit + dell.drac corpus. */
  val a4Cte: String = s"""
a4_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS bsel, (event_id % 3) AS csel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    ${hmsOf("ts")} AS t1,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dpart,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || '.'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || '.'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS tdot,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 191) = 55
),
a4_turns AS (
  SELECT 'a4_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '{name=as400} <' || CAST(pri AS STRING) || '>{"a_date":"' || dpart
        || '","b_time":"' || tdot
        || '","c_system":"AS400PROD","d_event":"ZC","e_command":"wrkactjob","f_remote_ip_add":"'
        || sip || '","g_job_name":"QPADEV' || eid_s || '","h_job_number":"'
        || CAST(100000 + (event_id % 900000) AS STRING) || '","i_job_user":"qsecofr' || eid_s || '"}'
      ELSE '<' || CAST(pri AS STRING) || '>' || mon || ' ' || dday || ' ' || t1
        || ' drac' || CAST(user_id % 9 AS STRING) || ' ' ||
        CASE csel
          WHEN 0 THEN 'sshd[123]: pam_unix(sshd:auth): authentication failure for root'
          WHEN 1 THEN 'sshd[123]: connection closed host=' || sip
          ELSE 'login[9]: login succeeded (ip:9.9.2.' || CAST(1 + (event_id % 250) AS STRING)
            || ', service:web)'
        END
    END AS text,
    CASE bsel WHEN 0 THEN 'as400.audit' ELSE 'dell.drac' END AS tool, ts, event_id
  FROM a4_base
)"""

  def a4Input(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, a4Cte, "a4_turns")

  /** checkpoint.fw_audit + hadoop.hms_audit + ansible.audit corpus. */
  val chCte: String = s"""
ch_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS bsel, (event_id % 5) AS csel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    LPAD(CAST(EXTRACT(YEAR FROM ts) AS STRING), 4, '0') AS yr,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    ${hmsOf("ts")} AS t1,
    ${spSecOf("ts")} || ',' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS dms,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 181) = 7
),
ch_turns AS (
  SELECT 'ch_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '<' || CAST(pri AS STRING) || '>' ||
        CASE WHEN csel <= 1 THEN yr || ' ' || mon || ' ' || dday || ' ' || t1
            || ' cpmgr' || CAST(user_id % 9 AS STRING)
            || ' sshd(pam_unix): authentication failure; logname= uid=0 euid=0 tty=ssh ruser= rhost='
            || sip || ' user=root'
          WHEN csel <= 3 THEN yr || ' ' || mon || '  ' || dday || ' ' || t1
            || ' cpgw-mgmt sshd: [ssh2] illegal pam password attempt for ''admin'' from 9.1.2.'
            || CAST(1 + (event_id % 250) AS STRING) || ':51515'
          ELSE 'checkpoint admin note ' || eid_s END
      WHEN 1 THEN '{"message":"ugi=hive' || chr(92) || 'tip=' || sip || chr(92)
        || 'tcmd=source:get_table ' || eid_s || '","event":{"original":"' || dms
        || ' INFO audit"},"fields":{"environment":"prod"},"severity":"INFO","role":"Hive","class":"HiveMetaStore.audit","thread":"pool-6"}'
      ELSE '{"message":"ansible log","log":{"file":{"path":"/var/log/ansible/APP-CNetOps-repo'
        || eid_s || '-123-node1-srv1-out.txt"}}}'
    END AS text,
    CASE bsel WHEN 0 THEN 'checkpoint.fw_audit' WHEN 1 THEN 'hadoop.hms_audit'
      ELSE 'ansible.audit' END AS tool, ts, event_id
  FROM ch_base
)"""

  def chInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, chCte, "ch_turns")

  /** mcas + redhat + trendmicro forwarder corpus. */
  val mcCte: String = s"""
mc_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS bsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    ${hmsOf("ts")} AS t1,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip
  FROM events WHERE (event_id % 179) = 100
),
mc_turns AS (
  SELECT 'mc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '{"contextId":"ctx' || eid_s
        || '","description":"alert desc","severityValue":2,"threatScore":'
        || CAST(event_id % 100 AS STRING) || ',"timestamp":'
        || CAST(1700000000 + event_id AS STRING)
        || '000,"title":"Impossible travel","URL":"https://portal/x' || eid_s
        || '","user.name":"mu' || eid_s || '","user.email":"mu' || eid_s
        || '@corp.example","event.reason":"Risky","event.action":"block","server.ip":"'
        || dip || '","client.geo.country_iso_code":"US"}'
      WHEN 1 THEN '<' || CAST(pri AS STRING) || '>' || mon || ' ' || dday || ' ' || t1
        || ' rh' || CAST(user_id % 9 AS STRING) || ' sudo: ruser' || eid_s
        || '@CORP : PWD=/home/r' || eid_s || ' ; USER=root ; COMMAND=/bin/ls'
      ELSE '{"message":"<134>' || mon || ' ' || dday || ' ' || t1 || ' tmhost' || eid_s
        || ' CEF:0|Trend Micro|Deep Security Agent|12.0|1009|Probe Event|6|src=' || sip
        || ' dst=' || dip
        || ' spt=1234 dpt=443 smac=aa:bb:cc:dd:ee:01 dmac=aa:bb:cc:dd:ee:02 proto=TCP cn1=h'
        || CAST(event_id % 400 AS STRING)
        || ' in=512 act=Deny dvchost=dsm1 TrendMicroDsFrameType=IP"}'
    END AS text,
    CASE bsel WHEN 0 THEN 'azure.mcas' WHEN 1 THEN 'redhat.syslog'
      ELSE 'virtustream.trendmicro' END AS tool, ts, event_id
  FROM mc_base
)"""

  def mcInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mcCte, "mc_turns")

  /** rsa.auth + gitguardian corpus. */
  val rgCte: String = s"""
rg_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 2) AS bsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    ${spSecOf("ts")} AS d1,
    ${isoMsOf("ts")} AS iso0,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip1,
    '9.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip2,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip
  FROM events WHERE (event_id % 173) = 58
),
rg_turns AS (
  SELECT 'rg_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '<' || CAST(pri AS STRING) || '>' || d1
        || ',f2,f3,f4,f5,f6,f7,' || sip1 || ',' || dip
        || ',AuthRule,f11,f12,Auth Desc ' || eid_s
        || ',f14,f15,f16,f17,uid' || eid_s || ',f19,f20,f21,' || sip2
        || ',agent' || eid_s || '.rsa.example,f24'
      ELSE '{"date":"' || iso0 || '","gitguardian_url":"https://gg/x","id":'
        || CAST(10000 + (event_id % 90000) AS STRING)
        || ',"tags":["t1"],"regression":false,"resolved_at":"' || iso1
        || '","secret_hash":"' || md5('g' || eid_s)
        || '","status":"triggered","validity":"valid","severity":"high","detect_group_name":"Generic API Key","repository_url":"org/repo","matched_on":"apikey","commit_author":"dev'
        || eid_s || '@corp.example","file_path":"/src/config' || eid_s
        || '.py","full_name":"org/repo' || eid_s
        || '","visibility":"private","assignee_email":"a@b","ignore_reason":"","ignored_at":"","occurrences_count":2,"secret_revoked":false,"share_url":"x"}'
    END AS text,
    CASE bsel WHEN 0 THEN 'rsa.auth' ELSE 'vuln.gitguardian_api' END AS tool, ts, event_id
  FROM rg_base
)"""

  def rgInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, rgCte, "rg_turns")

  /** github-ghe + oci.audit + aws.cloudflare corpus. */
  val goCte: String = s"""
go_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS bsel,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    ${hmsOf("ts")} AS t1,
    ${isoMsOf("(ts + INTERVAL 67 SECOND)")} AS iso1,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip
  FROM events WHERE (event_id % 167) = 90
),
go_turns AS (
  SELECT 'go_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '{"client_port":443,"bytes_read":512,"http_request":"q=1","http_version":"1.1","client_ip":"'
        || cip || '","http_status_code":200,"http_verb":"GET","ident":"ghe-auth","timestamp":"'
        || mon || ' ' || dday || ' ' || t1 || '","host":"ghe' || CAST(user_id % 9 AS STRING)
        || '","pid":77,"message":"ghe msg ' || eid_s || '"}'
      WHEN 1 THEN '{"data":{"resourceId":"ocid1.res.' || eid_s
        || '","eventName":"CreateBucket","type":"com.oraclecloud.objectstorage","id":"oid' || eid_s
        || '","time":"' || iso1 || '","identity":{"ipAddress":"' || cip
        || '","principalName":"ouser' || eid_s
        || '","userAgent":"oci-sdk/2.0"},"request":{"action":"POST","id":"req' || eid_s
        || '","path":"/b/bucket' || eid_s
        || '"},"response":{"message":"ok","status":"200"}}}'
      ELSE '{"Action":"allow","ClientRequestPath":"/p' || eid_s
        || '","ClientRequestHost":"site.example.com","EdgeResponseBytes":2048,"ClientRequestMethod":"GET","EdgeResponseStatus":403,"ClientRequestQuery":"x=1","ClientIP":"'
        || cip || '","ClientRequestURI":"/p' || eid_s || '","RayID":"ray' || eid_s
        || '","DateTime":' || CAST(1700000000 + event_id AS STRING) || '000}'
    END AS text,
    CASE bsel WHEN 0 THEN 'github.ghe' WHEN 1 THEN 'oci.audit'
      ELSE 'aws.cloudflare' END AS tool, ts, event_id
  FROM go_base
)"""

  def goInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, goCte, "go_turns")

  /** nist known-good hashes + sysdig scan + kafka.error corpus. */
  val nkCte: String = s"""
nk_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS bsel,
    ${spSecOf("(ts + INTERVAL 67 SECOND)")} AS d1,
    ${isoMsOf("ts")} AS iso0
  FROM events WHERE (event_id % 163) = 29
),
nk_turns AS (
  SELECT 'nk_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '{"sha256":"' || md5(eid_s) || md5('s' || eid_s)
        || '","sha1":"' || md5('a' || eid_s) || substr(md5('b' || eid_s), 1, 8)
        || '","md5":"' || md5('m' || eid_s) || '","crc32":"cc' || eid_s
        || '","file_name":"good' || eid_s || '.dll","file_size":'
        || CAST(1000 + (event_id % 900000) AS STRING)
        || ',"package_id":"pkg' || CAST(event_id % 500 AS STRING) || '"}'
      WHEN 1 THEN '{"application_name":"app' || eid_s
        || '","team":"teamx","environment":"prod","cloud_platform_external":"no","image":"repo/img'
        || eid_s || ':1.0","github_repository":"org/repo' || eid_s
        || '","build_author":"dev' || eid_s || '@corp.example","build_date":"' || d1
        || ' +0000 UTC","team_distribution_list":"dl@corp.example","team_escalation_contact":"esc@corp.example","vuln_id":"CVE-2024-'
        || CAST(event_id % 9000 AS STRING)
        || '","vuln_severity":"High","vuln_exception":"none","dns_records":"img' || eid_s
        || '.corp.example","build_link":"http://ci/x"}'
      ELSE '{"message":"kafka broker error ' || eid_s || '","@timestamp":"' || iso0
        || '","beat":{"hostname":"kb' || CAST(user_id % 9 AS STRING)
        || '","name":"kbn' || eid_s
        || '","version":"7.1"},"input":{"type":"log"},"program":"kafka","source":"/var/log/server.log","severity":"ERROR","service":"broker","thread":9,"role":"Ops","fields":{"environment":"prod"}}'
    END AS text,
    CASE bsel WHEN 0 THEN 'known_good_file_hash.nist' WHEN 1 THEN 'sysdig.scan.api'
      ELSE 'kafka.error' END AS tool, ts, event_id
  FROM nk_base
)"""

  def nkInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, nkCte, "nk_turns")

  /** syncplicity (admin/user csv) + security scorecard corpus. */
  val syCte: String = s"""
sy_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS bsel,
    ${spSecOf("(ts + INTERVAL 67 SECOND)")} AS d1,
    ${spSecOf("(ts + INTERVAL 131 SECOND)")} AS d2,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 157) = 11
),
sy_turns AS (
  SELECT 'sy2_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN 'admincol1,admincol2 ' || eid_s || ',admincol3'
      WHEN 1 THEN '/dir' || eid_s || ',ev' || eid_s || ',su' || eid_s || ',su' || eid_s
        || '@x.example,grp1,/files/f' || eid_s || '.docx,docx,f' || eid_s
        || '.docx,Added,Files,UserAction,x,' || d1 || ',Full Name' || eid_s
        || ',u' || eid_s || '@x.example,syhost' || eid_s || ',' || sip
        || ',x,cu' || eid_s || '@x.example,x,x,x,x,SyncRule,fg,du' || eid_s
        || ',du' || eid_s || '@x.example,x,x,x,77,' || d2
      ELSE '{"domain":"corp' || eid_s || '.example","name":"Corp ' || eid_s
        || '","score":' || CAST(50 + (event_id % 50) AS STRING)
        || ',"grade":"B","last30days_score_change":-2,"industry":"Technology","size":"large","event.dataset":"scorecard"}'
    END AS text,
    CASE bsel WHEN 0 THEN 'syncplicity.admin_logs' WHEN 1 THEN 'syncplicity.user_logs'
      ELSE 'security_scorecard.company_scores' END AS tool, ts, event_id
  FROM sy_base
)"""

  def syInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, syCte, "sy_turns")

  /** Shared beats-envelope corpus for the four agent technologies. */
  val baCte: String = s"""
ba_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 4) AS bsel,
    ${isoMsOf("ts")} AS iso0
  FROM events WHERE (event_id % 151) = 42
),
ba_turns AS (
  SELECT 'ba_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"message":"raw line ' || eid_s || '","@timestamp":"' || iso0
    || '","beat":{"hostname":"bh' || CAST(user_id % 9 AS STRING)
    || '","name":"bn' || eid_s || '","version":"7.1"},"input":{"type":"log"},"program":"prog'
    || eid_s || '","source":"/var/log/x' || eid_s
    || '.log","severity":"INFO","service":"svc1","thread":5,"role":"Admin","fields":{"environment":"prod"}'
    || CASE WHEN bsel = 2 THEN ',"user":"hu' || eid_s || '"' ELSE '' END
    || '}' AS text,
    CASE bsel WHEN 0 THEN 'tanium.agent' WHEN 1 THEN 'rundeck.agent'
      WHEN 2 THEN 'hadoop.agent' ELSE 'elasticsearch.audit' END AS tool, ts, event_id
  FROM ba_base
)"""

  def baInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, baCte, "ba_turns")

  /** Shared corpus for the seven small header/labeler technologies —
    * mixed tools in ONE input frame (the kernel dispatches per row). */
  val hxCte: String = s"""
hx_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 7) AS tsel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dday,
    ${hmsOf("ts")} AS t1,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS cip
  FROM events WHERE (event_id % 149) = 87
),
hx_turns AS (
  SELECT 'hx_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE tsel
      WHEN 0 THEN 'unknown payload ' || eid_s
      WHEN 1 THEN '<' || CAST(pri AS STRING) || '>' || mon || ' ' || dday || ' ' || t1
        || ' AP7 association event ' || eid_s
      WHEN 2 THEN '  <' || CAST(pri AS STRING) || '>' || mon || ' ' || dday || ' ' || t1
        || ' MX64 flow event ' || eid_s
      WHEN 3 THEN '<' || CAST(pri AS STRING) || '>satellite line ' || eid_s
      WHEN 4 THEN '<' || CAST(pri AS STRING) || '>bridge line ' || eid_s
      WHEN 5 THEN '<' || CAST(pri AS STRING) || '>Category:AUDIT, Type:CONFIG, User Name:u'
        || eid_s || ', Client IP Address:' || cip || ', Change Audit Details:Success'
      ELSE '2026-01-05 10:00:01 Access Granted amu' || eid_s || ' tail'
    END AS text,
    CASE tsel WHEN 0 THEN 'unidentified' WHEN 1 THEN 'cisco.meraki.wap'
      WHEN 2 THEN 'cisco.meraki.router' WHEN 3 THEN 'cisco.satellite'
      WHEN 4 THEN 'cisco.wireless.bridge' WHEN 5 THEN 'cisco.prime'
      ELSE 'cisco.riverbed.amauth' END AS tool, ts, event_id
  FROM hx_base
)"""

  def hxInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, hxCte, "hx_turns")

  /** securityonion.zeek corpus — beats envelope ({"message": <inner zeek
    * JSON string>, dataset, category, host.name}) with the inner JSON's
    * quotes escaped via replace(…, chr(34), chr(92)||chr(34)) — portable
    * across Spark/DuckDB (no backslash literals in either dialect). */
  val zkCte: String = s"""
zk_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 7) AS zsel,
    CAST(1700000000 + event_id AS STRING) AS tsec,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '172.16.' || CAST(event_id % 100 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip,
    CAST(1024 + (event_id % 40000) AS STRING) AS sp,
    CAST(event_id % 65536 AS STRING) AS tid
  FROM events WHERE (event_id % 139) = 3
),
zk_inner AS (
  SELECT *,
    CASE zsel WHEN 0 THEN 'conn' WHEN 1 THEN 'dns' WHEN 2 THEN 'http'
      WHEN 3 THEN 'smtp' WHEN 4 THEN 'x509' WHEN 5 THEN 'kerberos'
      ELSE 'syslog' END AS kindname,
    CASE WHEN zsel = 6 THEN '{"ts":1}'
    ELSE '{"ts":' || tsec || ',"uid":"C' || eid_s || '","id.orig_h":"' || sip
      || '","id.orig_p":' || sp || ',"id.resp_h":"' || dip
      || '","id.resp_p":443,"proto":"tcp"'
      || CASE zsel
        WHEN 0 THEN ',"duration":1.5,"orig_bytes":1000,"resp_bytes":2000,"orig_pkts":10,"resp_pkts":20,"conn_state":"SF","history":"ShADad","community_id":"1:zc'
          || eid_s || '","service":"ssl","local_orig":true,"missed_bytes":0'
        WHEN 1 THEN ',"query":"www.example.com","qclass_name":"C_INTERNET","qtype_name":"A","rcode_name":"NOERROR","trans_id":'
          || tid || ',"rtt":0.002,"AA":true,"RD":true,"answers":["93.184.216.34"]'
        WHEN 2 THEN ',"method":"GET","host":"www.example.com","uri":"/idx' || eid_s
          || '","referrer":"-","user_agent":"curl/8.5","status_code":200,"status_msg":"OK","request_body_len":0,"response_body_len":512,"resp_mime_type":"text/html"'
        WHEN 3 THEN ',"mailfrom":"s' || eid_s || '@x.example","rcptto":["r1' || eid_s
          || '@x.example"],"cc":["c' || eid_s || '@x.example"],"subject":"zeek mail '
          || eid_s || '","path":["10.0.0.1"],"is_webmail":true'
        WHEN 4 THEN ',"certificate.version":3,"certificate.serial":"0a' || eid_s
          || '","certificate.subject":"CN=example.com,O=ExampleOrg,C=US,givenname=Jo' || eid_s
          || ',surname=Doe","certificate.issuer":"CN=Example CA,O=CAOrg,C=US","certificate.key_alg":"rsa","certificate.key_length":2048,"certificate.not_valid_before":1700000000,"certificate.not_valid_after":1731536000,"san.dns":["example.com"],"fingerprint":"ff'
          || eid_s || '"'
        ELSE ',"service":"krbtgt/CORP.EXAMPLE","client":"u' || eid_s
          || '/CORP","request_type":"AS","success":true,"till":1700003600,"forwardable":true,"renewable":true'
      END || '}' END AS inner_json
  FROM zk_base
),
zk_turns AS (
  SELECT 'zk_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"message":"' || replace(inner_json, chr(34), chr(92) || chr(34))
    || '","dataset":"' || kindname
    || '","category":"network","host":{"name":"sensor' || CAST(user_id % 9 AS STRING) || '"}}' AS text,
    'securityonion.zeek' AS tool, ts, event_id
  FROM zk_inner
)"""

  def zkInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, zkCte, "zk_turns")

  /** misp.metrics feeder corpus (ref: api_security_misp.metrics.conf) —
    * exercises the type fan-out, the 1D/2D mac normalization (incl. the
    * comma re-join that breaks the later filename|md5 dissect), the mitre
    * tag ruby, the translate trio, both dates, the drop branch, and the
    * delete action. */
  val mfCte: String = s"""
mf_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    (event_id % 10) AS bsel,
    CAST(1 + (event_id % 4) AS STRING) AS tl,
    CAST(event_id % 3 AS STRING) AS an,
    CAST(event_id % 5 AS STRING) AS di,
    LPAD(CAST(1 + (event_id % 28) AS STRING), 2, '0') AS dd,
    CAST(1598861433 + event_id AS STRING) AS tsec,
    CAST(1000 + (event_id % 9000) AS STRING) AS evid
  FROM events WHERE (event_id % 103) = 59
),
mf_turns AS (
  SELECT 'mf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '{"Attribute":{"type":"' ||
    CASE bsel WHEN 0 THEN 'ip-src' WHEN 1 THEN 'filename|md5' WHEN 2 THEN 'mac-address'
      WHEN 3 THEN 'filename|md5' WHEN 4 THEN 'domain' WHEN 5 THEN 'hostname'
      WHEN 6 THEN 'text' WHEN 7 THEN 'url' WHEN 8 THEN 'target-user' ELSE 'port' END
    || '","value":"' ||
    CASE bsel WHEN 0 THEN '8.0.' || CAST(event_id % 250 AS STRING) || '.99'
      WHEN 1 THEN 'Inv' || eid_s || '.exe|' || md5(eid_s)
      WHEN 2 THEN 'AA:BB:CC:DD:EE:' || LPAD(CAST(event_id % 100 AS STRING), 2, '0')
      WHEN 3 THEN 'Tool' || eid_s || '.exe|AA:BB:CC:DD:EE:0F'
      WHEN 4 THEN 'Evil' || eid_s || '.example.org'
      WHEN 5 THEN 'EvilHost' || eid_s || '.bad.example'
      WHEN 6 THEN 'whatever'
      WHEN 7 THEN 'http://bad' || eid_s || '.example/p'
      WHEN 8 THEN 'Baduser' || eid_s
      ELSE CAST(40000 + (event_id % 2000) AS STRING) END
    || '","uuid":"au-' || eid_s || '","event_id":' || evid
    || ',"timestamp":' || tsec || ',"category":"Network activity","comment":"cmt ' || eid_s || '"'
    || CASE WHEN bsel = 1 THEN ',"object_relation":"attachment"' ELSE '' END
    || CASE WHEN bsel = 0 THEN ',"Tag":[{"name":"misp-galaxy:mitre-attack-pattern=Phishing - T1566.002"},{"name":"misp-galaxy:mitre-attack-pattern=Initial Access - TA0001"},{"name":"tlp:white"}]' ELSE '' END
    || '},"Event":{"threat_level_id":' || tl || ',"analysis":' || an
    || ',"distribution":' || di || ',"date":"2020-08-' || dd
    || '","info":"Camp ' || eid_s || '","Orgc":{"name":"OrgX' || eid_s || '"}}'
    || CASE WHEN bsel = 8 THEN ',"action":"delete"' ELSE '' END
    || '}' AS text,
    'misp.metrics' AS tool, ts, event_id
  FROM mf_base
)"""

  def mfInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mfCte, "mf_turns")
  def symInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, symCte, "sym_turns")
  def ehaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehaCte, "eha_turns")
  def ehoInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehoCte, "eho_turns")
  def ehzInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehzCte, "ehz_turns")
  def ehrInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehrCte, "ehr_turns")
  def ehmInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehmCte, "ehm_turns")
  def ehuInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehuCte, "ehu_turns")
  def ehiInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehiCte, "ehi_turns")
  def ehnInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehnCte, "ehn_turns")
  def ehsInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehsCte, "ehs_turns")

  /** Portable "MM/dd/yyyy:HH:mm:ss" netscaler wall-clock render of a
    * timestamp expression (Spark + DuckDB EXTRACT only). */
  private def mdyClock(tsExpr: String): String =
    s"LPAD(CAST(EXTRACT(MONTH FROM $tsExpr) AS STRING), 2, '0') || '/'" +
      s" || LPAD(CAST(EXTRACT(DAY FROM $tsExpr) AS STRING), 2, '0') || '/'" +
      s" || CAST(EXTRACT(YEAR FROM $tsExpr) AS STRING) || ':'" +
      s" || LPAD(CAST(EXTRACT(HOUR FROM $tsExpr) AS STRING), 2, '0') || ':'" +
      s" || LPAD(CAST(EXTRACT(MINUTE FROM $tsExpr) AS STRING), 2, '0') || ':'" +
      s" || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $tsExpr)) AS INT) AS STRING), 2, '0')"

  /** citrix.netscaler — the largest reference conf (681 lines, 18-rule
    * ladder; syslog_audit_citrix.netscaler.conf). One corpus member per
    * exercised branch: ksel (quotient selector, coprime with the %23 event
    * filter) picks the feature kind + classification; timestamps appear as
    * the netscaler "MM/dd/yyyy:HH:mm:ss GMT" wall-clock derived from ts.
    * ksel 0 is the RULE 1 empty-body drop. */
  val ntCte: String = s"""
nt_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 50 AS STRING) AS uid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 23) AS INT) % 27 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    'ns-' || CAST(user_id % 20 AS STRING) AS hostv,
    ${mdyClock("ts")} AS t1,
    ${mdyClock("ts + INTERVAL 60 SECOND")} AS t2,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 23) = 7
),
nt_body AS (
  SELECT *,
    CASE ksel
      WHEN 1 THEN 'TCP CONN_TERMINATE'
      WHEN 2 THEN 'TCP CONN_DELINK'
      WHEN 3 THEN 'TCP NAT_CONN_DELINK'
      WHEN 4 THEN 'ICA Message' WHEN 5 THEN 'ICA Message'
      WHEN 6 THEN 'ICA SESSION_UPDATE'
      WHEN 7 THEN 'AAA EXTRACTED_GROUPS' WHEN 8 THEN 'AAA LOGIN_FAILED'
      WHEN 9 THEN 'DNS QUERY_RESP'
      WHEN 10 THEN 'SSLVPN LOGIN' WHEN 11 THEN 'SSLVPN LOGOUT'
      WHEN 12 THEN 'SSLVPN HTTPREQUEST' WHEN 13 THEN 'SSLVPN ICAEND_CONNSTAT'
      WHEN 14 THEN 'AAATM TCPSTAT' WHEN 15 THEN 'AAATM NATSTAT'
      WHEN 16 THEN 'ACL DENY' WHEN 17 THEN 'ALG SIP_EVENT'
      WHEN 18 THEN 'SUBSCRIBER SESSION_EVENT' WHEN 19 THEN 'URLFILT URL_FILTERED'
      WHEN 20 THEN 'CI ICAP_LOG' WHEN 21 THEN 'CLI CMD_EXECUTED'
      WHEN 22 THEN 'BOT BOT_SIG' WHEN 23 THEN 'CVPN REWRITE'
      WHEN 24 THEN 'SSLLOG SSL_HANDSHAKE_SUCCESS'
      WHEN 25 THEN 'SSLLOG SSL_OCSPURL_RESOLVE_SUCCESS'
      ELSE 'APPFW APPFW_VIOLATION'
    END AS kindcls,
    CASE ksel
      WHEN 1 THEN ' Source ' || sip || ':50123 - Destination 10.9.8.7:443 - Start Time ' || t1 || ' GMT - End Time ' || t2 || ' GMT - Total_bytes_send 1500 - Total_bytes_recv 98000'
      WHEN 2 THEN ' Source ' || sip || ':50123 - Vserver 10.7.7.7:8443 - NatIP 10.5.5.5:4040 - Destination 10.9.8.7:443 - Delink Time ' || t2 || ' GMT - Total_bytes_send 1500 - Total_bytes_recv 98000'
      WHEN 3 THEN ' Source ' || sip || ':50123 - Destination 10.9.8.7:443 - NatIP 10.5.5.5:4040 - Destination 10.9.8.7:443 - Start Time ' || t1 || ' GMT -End Time ' || t2 || ' GMT - Total_bytes_send 1500 - total_bytes_recv 98000 - ClosureReason timeout'
      WHEN 4 THEN ' nsepa' || eid_s || ':x Session GUID [guid' || eid_s || '], Client IP/Port [' || sip || '/50123], Server IP/Port [10.9.8.7/443], User [usr' || uid_s || '], Server [srv' || uid_s || '], Client [cli' || uid_s || '], Session setup time [' || t1 || ' GMT], Skip Code [0]'
      WHEN 5 THEN 'session cleanup for user usr' || uid_s
      WHEN 6 THEN ' session_guid g' || eid_s || ' - device_serial_number sn' || eid_s || ' - client_cookie ck' || eid_s || ' - flags f - nsica_session_status up'
      WHEN 7 THEN ' Extracted_groups grp' || uid_s
      WHEN 8 THEN 'User usr' || uid_s || ' - Client_ip ' || sip || ' - Failure_reason bad_pass - Browser chrome'
      WHEN 9 THEN 'query resp data ' || eid_s
      WHEN 10 THEN 'SessionId: sid' || eid_s || ' - User usr' || uid_s || ' - Client_ip ' || sip || ' - Nat_ip 10.5.5.5 - Vserver 10.9.8.7:443 - Browser_type mozilla - SSLVPN_client_type agent - Group(s) staff' || u5
      WHEN 11 THEN 'User usr' || uid_s || ' - Client_ip ' || sip || ' - Nat_ip 10.5.5.5 - Vserver 10.9.8.7:443 - Start_time ' || t1 || ' GMT - End_time ' || t2 || ' GMT - Duration 180  - Http_resources_accessed 4 - Total_TCP_connections 2 - Total_policies_allowed 3 - Total_policies_denied 1 - Total_bytes_send 1500 - Total_bytes_recv 98000 - Total_compressedbytes_send 700 - Total_compressedbytes_recv 4000 - Compression_ratio_send 2.1 - Compression_ratio_recv 24.5 - LogoutMethod Explicit - Group(s) staff' || u5
      WHEN 12 THEN 'Context usr' || uid_s || '@' || sip || ' - SessionId: sid' || eid_s || '- http://portal' || uid_s || '/home User usr' || uid_s || ' : Group(s) staff' || u5 || ' : Vserver 10.9.8.7:443 - ' || t1 || ' GMT : SSO is ON : GET http://ref' || uid_s || ' -NA'
      WHEN 13 THEN ' Source ' || sip || ':50123 - Destination 10.9.8.7:443 - customername  - username:domainname usr' || uid_s || ':dom' || CAST(user_id % 9 AS STRING) || ' - startTime ' || t1 || ' GMT - endTime ' || t2 || ' GMT - Duration 180  - Total_bytes_send 1500 - Total_bytes_recv 98000 - Total_compressedbytes_send 700 - Total_compressedbytes_recv 4000 - Compression_ratio_send 2.1 - Compression_ratio_recv 24.5 - connectionId conn' || eid_s || ' - Total_bytes_wire_send 1600 - Total_bytes_wire_recv 99000'
      WHEN 14 THEN 'User usr' || uid_s || ' - Client_ip ' || sip || ' - Vserver 10.7.7.7:8443 - Source ' || sip || ':50123 - Destination 10.9.8.7:443 - Start_time ' || t1 || ' GMT - End_time ' || t2 || ' GMT - Duration 180 - Total_bytes_send 1500 - Total_bytes_recv 98000 - LogoutMethod Explicit - Group(s) staff' || u5
      WHEN 15 THEN 'username:domainname usr' || uid_s || ':dom3 - Vserver 10.7.7.7:8443 - Nat_ip 10.5.5.5 - Duration 240'
      WHEN 16 THEN ' Source ' || sip || ':50123 -> Destination 10.9.8.7:443 Protocol tcp - Code 16 Timestamp 1670000000 - Hit count 5 - Hit Rule acl' || CAST(event_id % 40 AS STRING) || ' - Action deny - Data'
      WHEN 17 THEN 'Source_IP:' || sip || '-Errmsg:bad_call'
      WHEN 18 THEN ' Session sess' || eid_s
      WHEN 19 THEN ' Source cli' || uid_s || ' - Destination dst' || uid_s || ' URL http://ex' || uid_s || '/p - Category 12 - Categorygroup streaming - Reputation 85 - Policyaction block'
      WHEN 20 THEN ' Source ' || sip || ':50123 - Destination 10.9.8.7:443 - Domain intra' || uid_s || ' - Content - Type application ICAPServer 10.5.5.5:1344 - Mode reqmod Service av_scan Response200 - Action allow'
      WHEN 21 THEN 'User admin' || uid_s || ' - Remote_ip 10.2.3.4 - Command show run all - Status success'
      WHEN 22 THEN 'bot_sig_matched. URL:http://bx LogMsg:captcha_served'
      WHEN 23 THEN 'HTML_URL /portal/x' || uid_s || ':PCRE_ERROR 42'
      WHEN 24 THEN 'ServerIP:10.9.8.7-ServerPort:443-SubjectName:cn=web' || uid_s || '-IssuerName:ca' || uid_s
      WHEN 25 THEN 'Domainname d' || uid_s || ' Ipaddress 10.1.1.1'
      ELSE 'profile violation starturl for req' || eid_s
    END AS rest
  FROM nt_base
),
nt_line AS (
  SELECT *,
    CASE WHEN ksel = 0 THEN ''
      ELSE t1 || ' GMT ' || hostv || ' 0-ppe-' || CAST(event_id % 4 AS STRING)
        || ' : default ' || kindcls || ' ' || eid_s || ' 0 : ' || rest
    END AS line
  FROM nt_body
),
nt_turns AS (
  SELECT 'nt_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || line AS text,
    'citrix.netscaler' AS tool, ts, event_id
  FROM nt_line
)"""

  def ntInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ntCte, "nt_turns")

  /** Portable ISO-8601 "+00:00" render of a timestamp expression. */
  private def isoClock(tsExpr: String): String =
    s"CAST(EXTRACT(YEAR FROM $tsExpr) AS STRING) || '-'" +
      s" || LPAD(CAST(EXTRACT(MONTH FROM $tsExpr) AS STRING), 2, '0') || '-'" +
      s" || LPAD(CAST(EXTRACT(DAY FROM $tsExpr) AS STRING), 2, '0') || 'T'" +
      s" || LPAD(CAST(EXTRACT(HOUR FROM $tsExpr) AS STRING), 2, '0') || ':'" +
      s" || LPAD(CAST(EXTRACT(MINUTE FROM $tsExpr) AS STRING), 2, '0') || ':'" +
      s" || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $tsExpr)) AS INT) AS STRING), 2, '0') || '+00:00'"

  /** juniper pulse_secure.vpn — one corpus member per rule of the 20-rule
    * description ladder (syslog_security_juniper_pulse.ssl.vpn.conf);
    * ksel = quotient selector over the %20 event filter. The preamble
    * carries (iso created, host, source ip, user, realm, roles) for every
    * member; descriptions are crafted per rule, including the case-sensitive
    * classification trap (ksel 20/21: "Login succeeded" → RULE 27). */
  val jpCte: String = s"""
jp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 50 AS STRING) AS uid_s,
    CAST(FLOOR(event_id / 20) AS INT) % 28 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    'vpn-' || CAST(user_id % 20 AS STRING) AS hostv,
    ${isoClock("ts")} AS iso1,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 20) = 11
),
jp_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'Sending logMessageTrap [ logID=' || chr(39) || 'lid' || eid_s || chr(39) || ' logType=' || chr(39) || 'major' || chr(39) || ' logDescription=' || chr(39) || 'System()[] trap ' || eid_s || chr(39) || ' ]'
      WHEN 1 THEN 'System()[] agent restart ' || eid_s
      WHEN 2 THEN 'Host Checker policy ' || chr(39) || 'pola' || chr(39) || ' passed on host ' || chr(39) || 'h2' || chr(39) || ' address ' || chr(39) || '00-11-22-33-44-55' || chr(39) || '  for user ' || chr(39) || 'hu' || uid_s || chr(39) || '  session ' || chr(39) || 'sid' || eid_s || chr(39)
      WHEN 3 THEN 'Host Checker policy ' || chr(39) || 'polb' || chr(39) || ' passed on host 10.3.3.3  for user ' || chr(39) || 'hu' || uid_s || chr(39)
      WHEN 4 THEN 'Host Checker policy ' || chr(39) || 'polc' || chr(39) || ' failed on host ' || chr(39) || 'h4' || chr(39) || ' address ' || chr(39) || '00-11-22-33-44-66' || chr(39) || '  for user ' || chr(39) || 'hu' || uid_s || chr(39) || ' x reason ' || chr(39) || 'av off' || chr(39) || ' session ' || chr(39) || 'sid' || eid_s || chr(39)
      WHEN 5 THEN 'Host Checker policy ' || chr(39) || 'pold' || chr(39) || ' failed on host h5 Reason: ' || chr(39) || 'firewall off' || chr(39)
      WHEN 6 THEN 'Received OCSP response from responder ' || chr(39) || '10.6.6.6' || chr(39) || ' with url ' || chr(39) || 'http://ocsp6/chk' || chr(39) || ', user: ' || chr(39) || 'u6' || chr(39) || '; serial number: ' || chr(39) || 'sn6' || chr(39)
      WHEN 7 THEN 'Sending OCSP request to responder ' || chr(39) || '10.7.7.7' || chr(39) || ' with url ' || chr(39) || 'http://ocsp7/req' || chr(39) || '; user: ' || chr(39) || 'u7' || chr(39) || '; serial number: ' || chr(39) || 'sn7' || chr(39)
      WHEN 8 THEN 'OCSP checking successfully passed for user: ' || chr(39) || 'u8' || chr(39) || ' having x509 certificate ' || chr(39) || 'cn=client' || uid_s || chr(39) || ' with serial number: ' || chr(39) || 'sn8' || chr(39) || ' issued by ' || chr(39) || 'ca8' || chr(39)
      WHEN 9 THEN 'Primary authentication successful for usr' || uid_s || '/users from 10.1.2.3'
      WHEN 10 THEN 'Primary authentication failed for usr' || uid_s || '/users from 10.1.2.3'
      WHEN 11 THEN 'Key Exchange number 3 occurred for user with NCIP 10.11.0.3'
      WHEN 12 THEN 'VPN Tunneling: User with IP 10.5.5.5 connected with ESP'
      WHEN 13 THEN 'VPN Tunneling: Session ended for user  (session: sid' || eid_s || ') with IPv4 address 10.5.5.5'
      WHEN 14 THEN 'VPN Tunneling: Session started for user  (session: sid' || eid_s || ') with IPv4 address 10.5.5.5, hostname host' || uid_s
      WHEN 15 THEN 'User Accounts modified for username ua' || uid_s || ' via admin'
      WHEN 16 THEN 'User Accounts modified. Removed username ub' || uid_s || ' from the realm'
      WHEN 17 THEN 'Session for user uc' || uid_s || ' on host h17 expired'
      WHEN 18 THEN 'System process detected a Host Checker time out on host h18  for user ' || chr(39) || 'hu' || uid_s || chr(39) || '.'
      WHEN 19 THEN 'Agent login succeeded for ud' || uid_s || '/users (session:sid' || eid_s || ') from 10.1.2.3 with Pulse-Secure/9.0 (win 10)'
      WHEN 20 THEN 'Login succeeded for ue' || uid_s || '/users from 10.1.2.3 with Mozilla/5.0 (win nt 10.0)'
      WHEN 21 THEN 'Login succeeded for uf' || uid_s || '/users from 10.1.2.3 via web.'
      WHEN 22 THEN 'Session resumed from user agent ' || chr(39) || 'Pulse (win 10) build77' || chr(39) || ' (session:sid' || eid_s || ').'
      WHEN 23 THEN 'Closed connection to 10.5.5.5 after 3600 seconds, with 111222 bytes read and 333444 bytes written'
      WHEN 24 THEN 'Logout from 10.1.2.3 (session:sid' || eid_s || ')'
      WHEN 25 THEN 'NTP server 10.9.9.9 unreachable since boot'
      WHEN 26 THEN 'Remote address for user changed by admin'
      ELSE 'Transport keepalive tick ' || eid_s
    END AS dsc
  FROM jp_base
),
jp_turns AS (
  SELECT 'jp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>1 ' || iso1 || ' ' || hostv
      || ' PulseSecure: 2022 12 06 11 01 10 ive web [' || sip || '] usr' || uid_s
      || '(Users)[Role A] - ' || dsc AS text,
    'juniper_pulse.ssl.vpn' AS tool, ts, event_id
  FROM jp_body
)"""

  def jpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, jpCte, "jp_turns")

  /** tanium.events — JSON alert/inventory datagrams for the four Intel-Type
    * branches of syslog_security_tanium.conf, incl. a two-level process
    * ancestry chain (ksel 2) and the Custom-Tags / not-parsed fallbacks.
    * Backslashes inside JSON string values are composed via chr(92) so the
    * corpus SQL stays portable between Spark and DuckDB escaping rules. */
  val tnCte: String = s"""
tn_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 50 AS STRING) AS uid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 22) AS INT) % 8 AS ksel,
    ${isoClock("ts")} AS iso1,
    ${isoClock("ts + INTERVAL 60 SECOND")} AS iso2,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 22) = 5
),
tn_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '{"Intel Type":"tanium-signal","Alert Id":"al' || eid_s || '","Intel Id":"in' || eid_s
        || '","Timestamp":"' || iso1 || '","Computer Name":"tn-host' || uid_s || '","Computer IP":"' || sip
        || '","Intel Name":"sig rule ' || u5 || '","Intel Labels":"critical","MITRE Techniques":"[T1059.001,T1027]"'
        || ',"Match Details":{"system_info":{"bits":"64","os":"windows server 2019","platform":"windows","patch_level":"17763"}'
        || ',"match":{"properties":{"args":"cmd /c whoami","file":{"fullpath":"c:/windows/cmd.exe","md5":"ff' || eid_s
        || '","sha1":"aa' || eid_s || '","sha256":"bb' || eid_s || '"}'
        || ',"parent":{"args":"services.exe","user":"dom' || uid_s || '' || chr(92) || chr(92) || 'psvc' || uid_s
        || '","file":{"fullpath":"c:/windows/services.exe","md5":"pm' || eid_s || '","sha1":"ps' || eid_s || '","sha256":"pq' || eid_s || '"}}}}}}'
      WHEN 1 THEN '{"Intel Type":"reputation","Alert Id":"al' || eid_s || '","Intel Id":"in' || eid_s
        || '","Timestamp":"' || iso1 || '","Computer Name":"tn-host' || uid_s || '","Computer IP":"' || sip
        || '","Intel Name":"reputation watch ' || u5 || '","MITRE Techniques":"[T1204]"'
        || ',"Match Details":{"match":{"properties":{"fullpath":"d:/apps/mal.exe","md5":"m' || eid_s
        || '","sha1":"s' || eid_s || '","sha256":"q' || eid_s || '","size":"40960"}}}}'
      WHEN 2 THEN '{"Intel Type":"tanium-signal","Intel Id":"in' || eid_s || '","Timestamp":"' || iso1
        || '","Computer Name":"tn-host' || uid_s || '","Computer IP":"' || sip
        || '","Intel Name":"sig chain ' || u5 || '","MITRE Techniques":"[T1055]"'
        || ',"Match Details":{"match":{"properties":{"args":"payload.exe","file":{"fullpath":"c:/tmp/payload.exe","md5":"ff' || eid_s
        || '","sha1":"aa' || eid_s || '","sha256":"bb' || eid_s || '"}'
        || ',"parent":{"args":"cmd.exe","user":"dom' || uid_s || '' || chr(92) || chr(92) || 'pa' || uid_s
        || '","file":{"fullpath":"c:/windows/cmd.exe","md5":"pm' || eid_s || '"}'
        || ',"parent":{"args":"explorer.exe","user":"dom' || uid_s || '' || chr(92) || chr(92) || 'pb' || uid_s
        || '","file":{"fullpath":"c:/windows/explorer.exe","sha1":"xs' || eid_s || '","sha256":"xq' || eid_s || '"}'
        || ',"parent":{"file":{"md5":"deep' || eid_s || '"}}}}}}}}'
      WHEN 3 THEN '{"Intel Type":"tanium-asset-info","Computer Name":"tn-host' || uid_s
        || '","Computer IP":"10.0.0.9","Operating System":"windows 10","Operating System Install Date":"2020-01-01"'
        || ',"Computer Serial Number":"sn' || eid_s || '","Domain Name":"corp' || u5
        || '","MAC Address":"00-aa-bb-cc-dd-22","IPv4 Address":"10.4.4.4","Tanium Client IP Address":"' || sip
        || '","Tanium Client NAT IP Address":"10.5.5.5","Tanium Server Name":"tnsrv' || u5
        || '","Logged In Users":"2","Last Logged In User":"bob","Time Zone":"utc","Manufacturer":"dell","Model":"latitude 5400"}'
      WHEN 4 THEN '{"Intel Type":"openioc","Timestamp":"' || iso1 || '","Computer Name":"tn-host' || uid_s
        || '","Computer IP":"10.4.4.5","Intel Id":"io' || eid_s
        || '","Intel Name":"detect CVE-2021-44228 log4shell","Intel Labels":"cve","MITRE Techniques":"[T1190]"'
        || ',"Match Details":{"finding":{"system_info":{"bits":"64","os":"linux","platform":"debian","patch_level":"11"}}'
        || ',"match":{"type":"file","properties":{"source":"yara","message":"ioc matched ' || eid_s
        || '","write_time":"' || iso1 || '","gen_time":"' || iso2 || '"}}}}'
      WHEN 5 THEN '{"Intel Type":"openioc","Timestamp":"' || iso1 || '","Computer Name":"tn-host' || uid_s
        || '","Computer IP":"10.4.4.6","Intel Id":"io' || eid_s
        || '","Intel Name":"Reputation Malicious Files on disk","MITRE Techniques":"[T1105]"'
        || ',"Match Details":{"match":{"type":"process","properties":{"source":"reputation","fullpath":"e:/tmp/bad.exe"}}}}'
      WHEN 6 THEN '{"Computer Name":"tn-host' || uid_s || '","Custom Tags":"tag' || u5
        || '","Operating System":"win 10","Last Logged In User":"bob","Tanium Client IP Address":"' || sip
        || '","Connection Name":"conn' || u5 || '","x64/x86?":"x64","Model":"optiplex","SEP":"sep client"'
        || ',"SEP Version":"[no results]","MCP":"mcp client","MCP Version":"5.2"}'
      ELSE 'dec 6 relay' || u5 || ' {fwd} plain heartbeat ' || eid_s
    END AS line
  FROM tn_base
),
tn_turns AS (
  SELECT 'tn_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role, line AS text,
    'tanium' AS tool, ts, event_id
  FROM tn_body
)"""

  def tnInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, tnCte, "tn_turns")

  /** Portable "yyyy-MM-dd HH:mm:ss" render of a timestamp expression. */
  private def sqlClock(tsExpr: String): String =
    s"CAST(EXTRACT(YEAR FROM $tsExpr) AS STRING) || '-'" +
      s" || LPAD(CAST(EXTRACT(MONTH FROM $tsExpr) AS STRING), 2, '0') || '-'" +
      s" || LPAD(CAST(EXTRACT(DAY FROM $tsExpr) AS STRING), 2, '0') || ' '" +
      s" || LPAD(CAST(EXTRACT(HOUR FROM $tsExpr) AS STRING), 2, '0') || ':'" +
      s" || LPAD(CAST(EXTRACT(MINUTE FROM $tsExpr) AS STRING), 2, '0') || ':'" +
      s" || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $tsExpr)) AS INT) AS STRING), 2, '0')"

  /** guardium.db — syslog alarm-forwarder lines for
    * syslog_security_guardium.db.conf: the RULE 1(b) kv alarm (with and
    * without DOMAIN-backslash DB User), RULE 1(a)+2(b) STAP, RULE 3/4
    * process lines, and a GuardiumSniffer line proving the dead two-space
    * RULE 5 gate ('not parsed'). Quote-free payloads are the conf's own
    * post-gsub state. */
  val gdmCte: String = s"""
gdm_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 50 AS STRING) AS uid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 28) AS INT) % 6 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    ${sqlClock("ts + INTERVAL 60 SECOND")} AS sql_end,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 28) = 3
),
gdm_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'guard_sender[4242]: {Alert based on rule ID:failed login rule,Rule #:20587,violationID:v' || eid_s
        || ',Server Type:ORACLE,Severity:HIGH,Client IP:' || sip || ',Client:cli' || uid_s
        || ',Client PORT:50123,OSUser:osu' || uid_s || ',Server IP:10.9.8.7,Server:srv' || uid_s
        || ',Server Port:1521,Service Name:orasvc,Database Name:proddb,Net Protocol:tcp,DB User:GDOM'
        || chr(92) || 'dbu' || uid_s || ',Application User Name:appu' || uid_s
        || ',Source Program:sqlplus,Requestype:login,EPOC Event Occurred:1592064797000,error:cannot open:/var/log/gd' || u5 || '}'
      WHEN 1 THEN 'guard_sender[4242]: {Alert based on rule ID:policy breach rule,Rule #:20590,violationID:v' || eid_s
        || ',Server Type:MS SQL SERVER,Severity:LOW,Client IP:' || sip || ',Client:cli' || uid_s
        || ',Client PORT:50124,OSUser:osu' || uid_s || ',Server IP:10.9.8.7,Server:srv' || uid_s
        || ',Server Port:1433,Service Name:mssvc,Database Name:proddb,DB User:dbu' || uid_s
        || ',Source Program:ssms,Requestype:query}'
      WHEN 2 THEN 'guard_alert[777]: {Alert Name:STAP No Traffic Alert Description:stap down} #01210.8.8.8 '
        || sql_end || ' 77'
      WHEN 3 THEN 'run-parts[452] (/etc/cron.hourly)done'
      WHEN 4 THEN 'gdm-session: pam_unix(gdm:session): session opened for user root'
      ELSE 'GuardiumSniffer[999]:  subject alert ' || eid_s || ', blah Alert based on rule ID tail'
    END AS rest
  FROM gdm_base
),
gdm_turns AS (
  SELECT 'gdm_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' gdhost' || u5 || ' ' || rest AS text,
    'guardium.db' AS tool, ts, event_id
  FROM gdm_body
)"""

  def gdmInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, gdmCte, "gdm_turns")

  /** versa sdwan.app — Rule 1 syslog event/cli lines and Rule 2 analytics
    * exports ({name=}-prefixed and bare) across the alarmlog /
    * sdwanb2bslamlog / eventlog(sla) / systemloadlog datasets
    * (syslog_security_sdwan.app.conf). All-lowercase lines (the conf
    * lowercases the message first thing). */
  val sdCte: String = s"""
sd_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 30) AS INT) % 6 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    LOWER($monCase) || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    CAST(EXTRACT(YEAR FROM ts) AS STRING) || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM ts) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || 't'
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS iso_t
  FROM events WHERE (event_id % 30) = 13
),
sd_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' ve-host' || u5
        || ' [x][info][y][z] eventlog device=dev' || u5 || ',type=link-up,severity=minor,alarm-text='
        || chr(34) || 'link up wan' || u5 || chr(34) || ',seq=' || eid_s
      WHEN 1 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' ve-host' || u5
        || ' [x][warn][y][z] clilog cli ' || chr(39) || 'show interfaces br' || chr(39)
      WHEN 2 THEN '{name=ve0} ' || iso_t || ' {name=dev12-hub} 2021-04-07 alarmlog, appliancename=sj' || u5
        || '-edge, tenantname=acme' || u5 || ', alarmtype=linkdown, alarmcause=outofservice, alarmseqno=q' || eid_s
        || ', alarmtext=wan link down, serialnum=vsn' || eid_s
        || ', alarmclass=comm, alarmkind=fault, alarmeventtype=communication, alarmseverity=major, alarmkey=key' || eid_s
        || ', generatetime=1592064797'
      WHEN 3 THEN iso_t || ' sdwanb2bslamlog, appliancename=sj' || u5 || '-edge, tenantname=acme' || u5
        || ', localsitename=site-a, remotesitename=site-b, localacccktname=mpls1, remoteacccktname=inet1, fwdclass=fc-ef'
      WHEN 4 THEN iso_t || ' eventlog, appliancename=sj' || u5 || '-edge, tenantname=acme' || u5
        || ', eventtype=sdwan-datapath-sla-not-met, rule=app' || u5
        || ', localsitename=site-a, remotesitename=site-b, localacccktname=mpls1, remoteacccktname=inet1, fwdclass=fc-ef'
        || ', alarmkey=slarule|sitex|ae1|sitey|inet9|fc-af, generatetime=1592064797'
      ELSE iso_t || ' systemloadlog, appliancename=sj' || u5 || '-edge, cpuload=73.5, memload=41.2'
    END AS line
  FROM sd_base
),
sd_turns AS (
  SELECT 'sd_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role, line AS text,
    'sdwan.app' AS tool, ts, event_id
  FROM sd_body
)"""

  def sdInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, sdCte, "sd_turns")

  /** skyhigh.security.mgr — NSM forwarder lines (ACL/Fault/Audit/Alert +
    * the RULE 20 else) for syslog_security_skyhigh.security.mgr.conf. */
  val shmCte: String = s"""
shm_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 32) AS INT) % 8 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 32) = 9
),
shm_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'SyslogACLLogForwarder: fw' || u5 || ' (Inbound ACL rule/#1) ' || sip
        || ' -> 10.9.8.7:443 (result = pass)'
      WHEN 1 THEN 'SyslogACLLogForwarder: fw' || u5 || ' (management ping rule) ' || sip
        || ' -> 10.9.8.7:8080 (result = drop)'
      WHEN 2 THEN 'SyslogFaultForwarder: fwd' || u5 || ' : INFO: ok:UpdateSensorScheduler:running'
      WHEN 3 THEN 'SyslogFaultForwarder: fwd' || u5 || ' : Manager: DAT file ' || eid_s || ' downloaded by the Manager'
      WHEN 4 THEN 'SyslogAuditLogForwarder: Login succeeded for user admin' || u5
      WHEN 5 THEN 'SyslogAlertForwarder: smgr' || u5 || ' Policy Violation Detected HTTP: suspicious request (severity = 5). '
        || sip || ':50123 -> 10.9.8.7:80 (result = blocked)'
      WHEN 6 THEN 'SyslogAlertForwarder: smgr' || u5 || ' Scan Sweep Detected port sweep detected. '
        || sip || ':N/A -> 10.9.8.7:N/A (result = alerted)'
      ELSE 'manual config backup completed ' || eid_s
    END AS rest
  FROM shm_base
),
shm_turns AS (
  SELECT 'shm_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN ksel = 4 THEN '{name=obs' || u5 || '.corp} ' ELSE '' END
      || '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' ' || rest AS text,
    'skyhigh.security.mgr' AS tool, ts, event_id
  FROM shm_body
)"""

  def shmInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, shmCte, "shm_turns")

  /** skyhigh.swg — web-gateway access (double-space kv), virus, and cert-
    * error lines for syslog_security_skyhigh.swg.conf. The ts=[...] value is
    * a fixed epoch so the bracket-gsub + dd/MMM date path stays constant. */
  val swgCte: String = s"""
swg_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 50 AS STRING) AS uid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 36) AS INT) % 3 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 36) = 17
),
swg_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'ts=[12/oct/2020:17:24:01 +0000],  usr=bob' || uid_s || ',  sip=' || sip
        || ',  dip=10.9.8.7,  sprt=50123,  dprt=443,  stat=200,  rbytes=1400,  sbytes=5200'
        || ',  cat=streaming,  blockid=10,  rule=ru-' || u5 || ',  block=gateway antimalware'
        || ',  app=browser,  sev=5,  mprob=60,  agent=curl/8.5,  ver=h2,  url=10.7.7.7'
        || ',  connection type=plain, ssl=no,  method=GET http://shop' || u5 || '.example.com/cart h1'
      WHEN 1 THEN 'ts=[12/oct/2020:17:24:01 +0000],usr=bob' || uid_s || ',sip=' || sip
        || ',virus=eicar-test,stat=403,blockid=80,method=GET http://bad' || u5 || '.example.com/x h1'
      ELSE 'cert "probe" handler 1234 "bad cert" "trust failed" tail Severity: 6"'
    END AS csvpart
  FROM swg_base
),
swg_turns AS (
  SELECT 'swg_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' mwghost' || u5 || ' mwg:  ' || csvpart AS text,
    'skyhigh.swg' AS tool, ts, event_id
  FROM swg_body
)"""

  def swgInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, swgCte, "swg_turns")

  /** skyhigh.scp — 49-column API CSV rows (domain-backslash and plain
    * users) plus the pass-through "test message" row, exercising the second
    * tld-filter call site (api_security_skyhigh.scp.conf:131-149). */
  val scpCte: String = s"""
scp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 50 AS STRING) AS uid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 40) AS INT) % 3 AS ksel,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 40) = 21
),
scp_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '1001,SCPDOM' || chr(92) || 'bob' || uid_s || ',10.5.5.5,GET,5200,1400,shop'
        || u5 || '.example.com,/cart,Observed,web policy,1602523441,2020-10-12 17:24:01,https'
        || ',Streaming Media,,proxysvc,5,ru-9,200,' || sip || ',dc east,gateway av,curl,8.5,curl/8.5'
        || ',browser,10.9.8.7,443,us,http://ref.example.com/,yes,,,,,cli' || u5
        || ',,10.3.3.1,10.3.3.2,40123,72,h1,3,1.3,,svc9,12,34,56,78'
      WHEN 1 THEN '1002,alice' || uid_s || ',10.5.5.6,POST,100,900,intranet.corp' || u5
        || '.net,/up,Denied,dlp policy,,2020-10-12 17:24:02,https,Data Loss Prevention,,proxysvc,8,ru-8,403,'
        || sip || ',dc west,dlp block,curl,8.5,curl/8.5,agentapp,10.9.8.8,443,us,,yes,yes,,,,cli' || u5
        || ',secret.xlsx,10.3.3.1,10.3.3.2,40124,88,h1,3,1.3,,svc9,12,34,56,78'
      ELSE 'test message for scp connector ' || eid_s
    END AS line
  FROM scp_base
),
scp_turns AS (
  SELECT 'scp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role, line AS text,
    'skyhigh.scp' AS tool, ts, event_id
  FROM scp_body
)"""

  def scpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, scpCte, "scp_turns")

  /** forescout.counteract_nac — CounterAct threat-Log kv, application
    * status, NAC-policy MAC lines, the RULE 8 else (trailing-space
    * parse_rule) and the RULE 11 custom-action JSON
    * (syslog_security_forescout.counteract.nac.conf). */
  val fsCte: String = s"""
fs_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 44) AS INT) % 6 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 44) = 19
),
fs_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN syslog_ts || ' fs-mgr CounterAct - nacapp' || u5
        || '[514]: Log: Application status. Log: Rule: quarantine rule_x Source: ' || sip
        || ', Target: 10.9.8.7, Type: block, Vendor: dell, Severity: WARN'
      WHEN 1 THEN syslog_ts || ' 10.2.2.2 nacapp' || u5
        || '[771]: Application status: running;Connected clients: 10.1.1.1;EM connection status: connected;Assigned hosts: 250;Engine status: engine ok;Installed Plugins: dns hpi'
      WHEN 2 THEN syslog_ts || ' fs-mgr nacapp' || u5
        || '[514]: NAC Policy Log: Source: MAC Address-0011.22aa.bb' || u5
        || ', Rule: comply check , Match: yes, Category: seg, host offline Duration: 3600'
      WHEN 3 THEN syslog_ts || ' fs-mgr CounterAct - nacapp' || u5
        || '[515]: Block. Log: Rule: botnet rule_y Source: ' || sip
        || ', Target: 10.9.8.7, Type: alert, Vendor: hp, Severity: ERRR'
      WHEN 4 THEN syslog_ts || ' fs-mgr fsproc[900]: {"rule_name":"Forescout - Non Corp Device Detected","action":"Alert","ip":"10.1.2.9","user_name":"bob' || u5
        || '","mac":"00:11:22:33:44:5' || u5 || '","dns_hostname":"corp.local","os":"win 10","serial_number":"sn' || eid_s || '"}'
      ELSE syslog_ts || ' fs-mgr CounterAct - nacapp' || u5
        || '[600]: Application status changed to idle'
    END AS line
  FROM fs_base
),
fs_turns AS (
  SELECT 'fs_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || line AS text,
    'forescout.counteract.nac' AS tool, ts, event_id
  FROM fs_body
)"""

  def fsInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, fsCte, "fs_turns")

  /** cisco.dna — lowercased DNA-center webhook syslog (assurance issue,
    * audit " - - " shape, increase/decrease reason) for
    * syslog_audit_cisco.dna.conf. The fixed epoch keeps the UNIX/UNIX_MS
    * date path constant across engines. */
  val dnaCte: String = s"""
dna_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 46) AS INT) % 3 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri
  FROM events WHERE (event_id % 46) = 7
),
dna_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'dnac assurance dnac_event - {"timestamp":1602523441000,"type":"issue","eventid":"ev' || eid_s
        || '","domain":"assurance","subdomain":"wireless","severity":2,"category":"warn","note":"http://dna/x' || u5
        || '","ciscodnaeventlink":"http://dna/link","details":{"assurance issue category":"availability","device":"sw' || u5
        || '","assurance issue details":"interface down on ssid corp-wifi ","assurance issue name":"high utilization - port above threshold","assurance issue status":"active"}}'
      WHEN 1 THEN 'dna audit log - - {"timestamp":1602523441,"type":"audit","eventid":"ev' || eid_s
        || '","domain":"system","severity":3,"category":"task_failure","details":{"assurance issue name":"backup failed"}}'
      ELSE 'dnac assurance dnac_event - {"timestamp":1602523441000,"type":"issue","eventid":"ev' || eid_s
        || '","domain":"assurance","severity":1,"category":"error","details":{"device":"sw' || u5
        || '","assurance issue name":"utilization increase detected on wlan' || u5
        || ' in building7.","assurance issue status":"resolved"}}'
    END AS line
  FROM dna_base
),
dna_turns AS (
  SELECT 'dna_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || line AS text,
    'cisco.dna' AS tool, ts, event_id
  FROM dna_body
)"""

  def dnaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, dnaCte, "dna_turns")

  /** f5 gtm.dns — the 12-branch dissect ladder of
    * syslog_audit_f5.big.ip.gtm.dns.conf (DBUG drop, httpd token/AUDIT,
    * mcpd AUDIT, tmm monitor, run-parts, info logger, pam auth failure). */
  val fgCte: String = s"""
fg_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 48) AS INT) % 8 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 48) = 29
),
fg_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'DBUG debug tick ' || eid_s
      WHEN 1 THEN 'gtm-dst' || u5 || ' notice httpd[123]: auth token request [client ' || sip || '] token granted for admin' || u5
      WHEN 2 THEN 'gtm-dst' || u5 || ' notice httpd[124]: AUDIT - user admin' || u5 || ' login ok'
      WHEN 3 THEN 'gtm-dst' || u5 || ' notice tmm[125]: 01010028: monitor status down for pool member p' || u5
      WHEN 4 THEN 'gtm-dst' || u5 || ' notice run-parts(/etc/cron.hourly)[300]: starting 0anacron'
      WHEN 5 THEN 'gtm-src' || u5 || ' info logger: [ssl_req] ' || sip || ' tlsv1.2 aes128 /health.html 200'
      WHEN 6 THEN 'gtm-dst' || u5 || ' err sshd[400]: pam_unix(sshd:auth): authentication failure; logname= uid=0 ruser=root rhost=' || sip
      ELSE 'gtm-dst' || u5 || ' notice mcpd[500]: AUDIT, user admin' || u5 || ' modified cli config'
    END AS rest
  FROM fg_base
),
fg_turns AS (
  SELECT 'fg_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' ' || rest AS text,
    'f5.big.ip.gtm.dns' AS tool, ts, event_id
  FROM fg_body
)"""

  def fgInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, fgCte, "fg_turns")

  /** lieberman.pass_manager — XML-attribute erpm events in the four shape
    * variants (OpResult/other × self-closing/map-context) plus the
    * Description user extraction (syslog_audit_lieberman.random.pass.mgr
    * .conf). dtPostTime '2020-12-10T17:24:01' hits the conf's swapped
    * yyyy-dd-MM pattern and lands on the same fixed epoch as ts=[12/oct]. */
  val lbCte: String = s"""
lb_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 50) AS INT) % 4 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 50) = 31
),
lb_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '<Event CompactMode=' || chr(39) || '0' || chr(39) || ' sEventType=' || chr(39) || 'OpResult' || chr(39)
        || ' dwBasicEventType=' || chr(39) || '12' || chr(39) || ' dwAppSpecificEventID=' || chr(39) || CAST(event_id % 400 AS STRING) || chr(39)
        || ' sEventID=' || chr(39) || 'PasswordChange' || chr(39) || ' sOriginatingApplicationName=' || chr(39) || 'erpm' || chr(39)
        || ' sOriginatingApplicationComponent=' || chr(39) || 'web' || chr(39) || ' sOriginatingApplicationVersion=' || chr(39) || '5.5' || chr(39)
        || ' sOriginatingSystem=' || chr(39) || 'lieb-app' || u5 || chr(39) || ' sOriginatingAccount=' || chr(39) || 'svc' || u5 || chr(39)
        || ' dtPostTime=' || chr(39) || '2020-12-10T17:24:01' || chr(39) || ' sMessage=' || chr(39) || 'op completed ok' || chr(39)
        || '><map> key=' || chr(39) || 'JobComment' || chr(39) || ' value=' || chr(39) || 'rotate prod' || chr(39)
        || ' key=' || chr(39) || 'AccountTargetName' || chr(39) || ' value=' || chr(39) || 'administrator' || chr(39)
        || ' key=' || chr(39) || 'SharedCredentialListName' || chr(39) || ' value=' || chr(39) || 'prod-list' || chr(39) || ' </map></Event>'
      WHEN 1 THEN '<Event CompactMode=' || chr(39) || '0' || chr(39) || ' sEventType=' || chr(39) || 'OpResult' || chr(39)
        || ' dwBasicEventType=' || chr(39) || '14' || chr(39) || ' dwAppSpecificEventID=' || chr(39) || CAST(event_id % 400 AS STRING) || chr(39)
        || ' sEventID=' || chr(39) || 'PasswordVerify' || chr(39) || ' sOriginatingApplicationName=' || chr(39) || 'erpm' || chr(39)
        || ' sOriginatingApplicationComponent=' || chr(39) || 'sched' || chr(39) || ' sOriginatingApplicationVersion=' || chr(39) || '5.5' || chr(39)
        || ' sOriginatingSystem=' || chr(39) || 'lieb-app' || u5 || chr(39) || ' sOriginatingAccount=' || chr(39) || 'svc' || u5 || chr(39)
        || ' dtPostTime=' || chr(39) || '2020-12-10T17:24:01' || chr(39) || ' sMessage=' || chr(39) || 'scheduled op done' || chr(39) || '/>'
      WHEN 2 THEN '<Event CompactMode=' || chr(39) || '0' || chr(39) || ' sEventType=' || chr(39) || 'Delegation' || chr(39)
        || ' dwBasicEventType=' || chr(39) || '20' || chr(39) || ' dwAppSpecificEventID=' || chr(39) || CAST(event_id % 400 AS STRING) || chr(39)
        || ' sEventID=' || chr(39) || 'GrantAccess' || chr(39) || ' sOriginatingApplicationName=' || chr(39) || 'erpm' || chr(39)
        || ' sOriginatingApplicationComponent=' || chr(39) || 'web' || chr(39) || ' sOriginatingApplicationVersion=' || chr(39) || '5.5' || chr(39)
        || ' sOriginatingSystem=' || chr(39) || 'lieb-app' || u5 || chr(39) || ' sOriginatingAccount=' || chr(39) || 'svc' || u5 || chr(39)
        || ' dtPostTime=' || chr(39) || '2020-12-10T17:24:01' || chr(39) || ' sMessage=' || chr(39) || 'delegation granted' || chr(39)
        || ' sIpAddress=' || chr(39) || sip || chr(39) || ' sLoginName=' || chr(39) || 'bob' || u5 || chr(39)
        || ' sManagerName=' || chr(39) || 'mgr' || chr(39)
        || '><map> key=' || chr(39) || 'AccountStoreTarget' || chr(39) || ' value=' || chr(39) || 'dc' || u5 || chr(39) || ' </map></Event>'
      ELSE '<Event CompactMode=' || chr(39) || '0' || chr(39) || ' sEventType=' || chr(39) || 'Retrieval' || chr(39)
        || ' dwBasicEventType=' || chr(39) || '22' || chr(39) || ' dwAppSpecificEventID=' || chr(39) || CAST(event_id % 400 AS STRING) || chr(39)
        || ' sEventID=' || chr(39) || 'PasswordRetrieve' || chr(39) || ' sOriginatingApplicationName=' || chr(39) || 'erpm' || chr(39)
        || ' sOriginatingApplicationComponent=' || chr(39) || 'web' || chr(39) || ' sOriginatingApplicationVersion=' || chr(39) || '5.5' || chr(39)
        || ' sOriginatingSystem=' || chr(39) || 'lieb-app' || u5 || chr(39) || ' sOriginatingAccount=' || chr(39) || 'svc' || u5 || chr(39)
        || ' dtPostTime=' || chr(39) || '2020-12-10T17:24:01' || chr(39)
        || ' sMessage=' || chr(39) || 'Stored password retrieved by ' || chr(39) || 'websvc' || chr(39) || ' (Description: prod db)' || chr(39)
        || ' sIpAddress=' || chr(39) || sip || chr(39) || ' sLoginName=' || chr(39) || 'ops' || u5 || chr(39)
        || ' sManagerName=' || chr(39) || 'mgr' || chr(39) || '/>'
    END AS ev_xml
  FROM lb_base
),
lb_turns AS (
  SELECT 'lb_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' lieb' || u5 || ' ' || ev_xml AS text,
    'lieberman.random.pass.mgr' AS tool, ts, event_id
  FROM lb_body
)"""

  def lbInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, lbCte, "lb_turns")

  /** snmp_forescout + tenable nessus/security-center — one shared base,
    * three tools (snmp trap varbinds; nessus dissect/grok/kv + drop +
    * unparsed; security-center pipe grok + the os_logs grok miss). */
  val tbCte: String = s"""
tb_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 52) AS INT) % 8 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    CAST(EXTRACT(YEAR FROM ts) AS STRING) AS yr,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 52) = 23
),
tb_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'snmp packet from 10.0.0.1 MESSAGE FORESCOUT-MIB::fsTrapSeverity.0 = 6, FORESCOUT-MIB::ctDeviceIpAddress.0 = '
        || sip || ', FORESCOUT-MIB::fsTrapId.0 = ' || eid_s
        || ', FORESCOUT-MIB::ctDeviceIpAddressType.0 = ipv4, FORESCOUT-MIB::ctDeviceId.0 = em-app1'
      WHEN 1 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' nessus' || u5
        || ' t.nessuscore [p ' || syslog_ts || ' ' || yr || '][info] Nessus is ready'
      WHEN 2 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' nessus' || u5
        || ' t.nessuscore [p ' || syslog_ts || ' ' || yr || '][5.4][scan=sc' || eid_s
        || '][target=10.9.8.7][port=443][pid=900][duration=3.5s][name=rep' || u5
        || '/Chunk 12.] : Finished scan 10 hosts up'
      WHEN 3 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' nessus' || u5
        || ' t.nessuscore [p ' || syslog_ts || ' ' || yr || '][5.4][scan=sc' || eid_s
        || '] : Nessus scan starting with targets: 10.1.2.0,10.1.2.255'
      WHEN 4 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' nessus' || u5
        || ' nessusd[1]: some os message ' || eid_s
      WHEN 5 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' nessus' || u5
        || ' nessusd: call stack trace follows'
      WHEN 6 THEN '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' schost' || u5
        || ' SecurityCenter: job [SecurityCenter]: Mon, 12 Oct 2020 17:24:01 -0|NightlyCleanup|message|critical|0|cleanup done ok'
      ELSE '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' schost' || u5
        || ' kernel: os boot message ' || eid_s
    END AS line,
    CASE WHEN ksel = 0 THEN 'snmp.forescout'
      WHEN ksel <= 5 THEN 'tenable.nessus_scanner'
      ELSE 'tenable.security_center' END AS tooln
  FROM tb_base
),
tb_turns AS (
  SELECT 'tb_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role, line AS text, tooln AS tool, ts, event_id
  FROM tb_body
)"""

  def tbInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, tbCte, "tb_turns")

  /** vuln tenable sc/asm APIs — JSON findings with the CVE `split {}`
    * fan-out (2 CVEs → 2 events) and no-CVE singles. The vprContext
    * JSON-in-string is composed via chr(92)||chr(34) so the corpus SQL
    * stays escape-portable. */
  val tvCte: String = s"""
tv_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 54) AS INT) % 4 AS ksel,
    chr(92) || chr(34) AS eq
  FROM events WHERE (event_id % 54) = 25
),
tv_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '{"severity":{"id":3,"name":"High"},"ip":"10.4.4.9","uuid":"u' || eid_s
        || '","port":"443","protocol":"TCP","firstSeen":"1602523441","lastSeen":"1602523501"'
        || ',"cve":"CVE-2021-1,CVE-2021-2","macAddress":"00:aa:bb:cc:dd:33","pluginName":"ssl check"'
        || ',"version":"1.2","synopsis":"weak tls config","cvssV3BaseScore":"9.8","baseScore":"9"'
        || ',"temporalScore":"8","pluginID":"4021","solution":"upgrade tls"'
        || ',"pluginPubDate":"1602000000","pluginModDate":"1602100000","exploitFrameworks":"metasploit"'
        || ',"exploitEase":"exploits are available","hasBeenMitigated":"0","exploitAvailable":"yes"'
        || ',"netbiosName":"CORP()HOST' || u5 || '"'
        || ',"vprContext":"[{' || eq || 'id' || eq || ':' || eq || 'threat_intensity_last_28' || eq
        || ',' || eq || 'value' || eq || ':' || eq || 'very low' || eq || '},{' || eq || 'id' || eq
        || ':' || eq || 'exploit_code_maturity' || eq || ',' || eq || 'value' || eq || ':' || eq
        || 'high' || eq || '}]"}'
      WHEN 1 THEN '{"severity":{"id":1,"name":"Low"},"ip":"10.4.4.8","uuid":"u' || eid_s
        || '","dnsName":"web' || u5 || '.corp.example.com","pluginName":"banner check"}'
      WHEN 2 THEN '{"id":"a' || eid_s || '","bd.addedtoportfolio":"2020-05-01","bd.hostname":"asset'
        || u5 || '.corp.net","bd.ip_address":"10.6.6.9","bd.original_hostname":"asset' || u5
        || '","bd.record_type":"a","bd.domain":"corp.net","domaininfo.administrativecontact_email":"admin@corp.net"'
        || ',"domaininfo.administrativecontact_name":"jane doe","domaininfo.registrarname":"registrar inc"'
        || ',"domaininfo.status":"active","ipgeo.cloud":"aws","ipgeo.asn":"as-bigcloud","ipgeo.time_zone":"utc"'
        || ',"ports.ports":["443","8443"],"ports.services":["https","https-alt"],"ports.cves":["cve-2020-1","cve-2020-2"]'
        || ',"ports.cvss3_scores":["9.1","7.2"],"bd.subdomain":true,"ipgeo.cloudhosted":true}'
      ELSE '{"id":"a' || eid_s || '","bd.hostname":"asset' || u5 || '.corp.net","bd.original_hostname":"asset'
        || u5 || '","bd.domain":"corp.net","ipgeo.cloud":"gcp","domaininfo.status":"expired"}'
    END AS line,
    CASE WHEN ksel <= 1 THEN 'tenable.sc_api' ELSE 'tenable.asm_api' END AS tooln
  FROM tv_base
),
tv_turns AS (
  SELECT 'tv_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role, line AS text, tooln AS tool, ts, event_id
  FROM tv_body
)"""

  def tvInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, tvCte, "tv_turns")

  /** layer7 securespan — ssg gateway lines for the pri-substring ladder of
    * syslog_security_layer7.securespan.soa.gw.conf: the RULE 1 headers+XML
    * giant, the ", , 200" drop, RULE 3/4/6 dissects, and the rest_msg
    * branches that can only fail (RULE 7 / RULE 12+13). */
  val l7Cte: String = s"""
l7_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 56) AS INT) % 7 AS ksel,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 56) = 27
),
l7_body AS (
  SELECT *,
    CASE WHEN ksel = 6 THEN 12 ELSE 14 END AS pri,
    CASE ksel
      WHEN 0 THEN syslog_ts || ' ssg-gw' || u5 || ' ssg: INFO 7100: audit: detail: rec' || eid_s
        || ': Connection:keep-alive, Content-Length:5120, Content-Type:application/xml; charset=utf-8'
        || ', Date:Tue, 13 Oct 2020 17:24:01 GMT, Server:apache, X-Powered-By:servlet v3'
        || '  REQUEST BODY: body <applicationId>app' || u5 || '</applicationId> <status>OK</status>'
        || ' <serviceId>svc' || u5 || '</serviceId> <issuerId>iss</issuerId> <issueDate>2020-10-12</issueDate>'
        || ' <rcvDate>2020-10-13</rcvDate> tail'
      WHEN 1 THEN syslog_ts || ' ssg-gw' || u5 || ' ssg: INFO 7105: , , 200 request served'
      WHEN 2 THEN syslog_ts || ' ssg-gw' || u5 || ' ssg: INFO 7101: Message processed successfully'
      WHEN 3 THEN syslog_ts || ' ssg-gw' || u5
        || ' ssg: INFO 7102: #####Client SSL Protocol - TLSv1.2 - TLS_ECDHE_RSA_WITH_AES_256_GCM_SHA384'
      WHEN 4 THEN syslog_ts || ' ssg-gw' || u5 || ' ssg: WARNING 7103: 50123: Requestor address ' || sip || ' blocked'
      WHEN 5 THEN syslog_ts || ' ssg-gw' || u5 || ' ssg: INFO 7104: x IntegrationId: 900 req URL: /api/x'
        || ' y (Verb): GET z authorization:bearer q host:api' || u5 || ':443, extra'
      ELSE syslog_ts || ' ssg-gw' || u5 || ' ssg: WARN 7106: Error in processing request ' || eid_s
    END AS rest
  FROM l7_base
),
l7_turns AS (
  SELECT 'l7_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'layer7.securespan.soa.gw' AS tool, ts, event_id
  FROM l7_body
)"""

  def l7Input(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, l7Cte, "l7_turns")

  /** microsoft ata — CEF alert lines (suspicious service creation /
    * pass-the-hash) plus a malformed line for the no-pipes failure path
    * (syslog_security_microsoft.ata.conf). */
  val mataCte: String = s"""
mata_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 58) AS INT) % 3 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri
  FROM events WHERE (event_id % 58) = 11
),
mata_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '100 2020-10-12T17:24:01Z atactr' || u5 || ' ata-fwd 900 x CEF:0|Microsoft|ATA|1.9|alert|Suspicious service creation|5|externalId=2026 start=2020-10-12T17:24:01Z shost=dc' || u5
        || ' suser=bob' || u5 || ' outcome=Success app=Kerberos request=dc' || u5
        || '.corp.net cs1Label=url cs1=https://ata/alert' || eid_s
        || ' cnt=3 msg=Suspicious service creation detected. more'
      WHEN 1 THEN '101 2020-10-12T17:24:01Z atactr' || u5 || ' ata-fwd 901 x CEF:0|Microsoft|ATA|1.9|alert|Identity theft using Pass-the-Hash attack|9|externalId=2017 start=2020-10-12T17:24:01Z shost=ws' || u5
        || ' suser=carol' || u5 || ' outcome=Failure app=Ntlm msg=Pass-the-Hash detected on host. tail'
      ELSE 'ata heartbeat tick ' || eid_s
    END AS line
  FROM mata_base
),
mata_turns AS (
  SELECT 'mata_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || line AS text,
    'microsoft.ata' AS tool, ts, event_id
  FROM mata_body
)"""

  def mataInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mataCte, "mata_turns")

  /** spectracom.ntp — appliance sshd/useradd/oscillator lines for the
    * 12-branch ladder of syslog_audit_spectracom.ntp.conf (the XO1 line
    * carries the fixed day-of-year clock '2020 286 17:24:01 123'). */
  val ntpCte: String = s"""
ntp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 60) AS INT) % 8 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 60) = 37
),
ntp_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'useradd[900]: new user ' || chr(39) || 'svc' || u5 || chr(39)
        || ' uid: 1001 group ' || chr(39) || 'ntpgrp' || chr(39)
      WHEN 1 THEN 'userdel[905]: delete user ' || chr(39) || 'old' || u5 || chr(39)
        || ' from group ' || chr(39) || 'ntpgrp' || chr(39)
      WHEN 2 THEN 'sshd[901]: pam_unix(sshd:auth): authentication failure; logname= uid=0 euid=0 tty=ssh ruser= rhost='
        || sip || ' user=bob' || u5
      WHEN 3 THEN 'sshd[902]: error: authentication failure for carol' || u5 || ' from ' || sip
      WHEN 4 THEN 'tfs-ntp' || u5 || ': [system] 2020 286 17:24:01 123 XO1: oscillator disciplined state ' || eid_s
      WHEN 5 THEN 'sshd[903]: Did not receive identification string from ' || sip || ' port 50200'
      WHEN 6 THEN 'tfs-ntp' || u5 || ' alarm GPS 0 antenna fault ' || eid_s
      ELSE 'ntpd[904]: clock step 0.031s seq ' || eid_s
    END AS rest
  FROM ntp_base
),
ntp_turns AS (
  SELECT 'ntp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'spectracom.ntp' AS tool, ts, event_id
  FROM ntp_body
)"""

  def ntpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ntpCte, "ntp_turns")

  /** versa sdwan.os_ubuntu — tailf alarmman event, sshd connection-closed
    * (the `]}`-terminated tail) and the generic catch-all
    * (syslog_security_sdwan.os_ubuntu.conf). All-lowercase lines. */
  val vosCte: String = s"""
vos_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 64) AS INT) % 3 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 64) = 41
),
vos_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'apr 07 11:01:10 vos-host' || u5
        || ' java{1} event notification com.tailf.ncs.alarmman.common.alarm[device=vdirector, type=alarm:connection-failure, alarm-text=device unreachable ' || eid_s
        || ', severity=major'
      WHEN 1 THEN 'apr 07 11:01:10 vos-host' || u5 || ' sshd[950]: connection closed by '
        || sip || ' port 50200 [preauth]}'
      ELSE 'apr 07 11:01:10 vos-host' || u5 || ' kernel: link up eth0 seq ' || eid_s
    END AS rest
  FROM vos_base
),
vos_turns AS (
  SELECT 'vos_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'sdwan.os_ubuntu' AS tool, ts, event_id
  FROM vos_body
)"""

  def vosInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, vosCte, "vos_turns")

  /** a10.waf — CEF WAF alert, TCP resets-connection, persist-xff pair, the
    * no-rule fallback and the literal health-check drop
    * (syslog_security_a10.waf.conf). */
  val awCte: String = s"""
aw_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 66) AS INT) % 6 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 66) = 43
),
aw_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'a10'
      WHEN 1 THEN 'CEF:0|A10|cFW|4.2|WAF-block|policy|5|rt=jan 06 2021 15:14:53 src=' || sip
        || ' spt=50123 dst=10.9.8.7 dpt=443 dhost=web' || u5 || ':8080 cs1=sqli rule cs2=ev' || eid_s
        || ' act=deny cs3=waf set app=https requestMethod=GET cn1=9 request=/login msg=blocked sql injection'
      WHEN 2 THEN '[ssl] tcp ' || sip || ' > 10.9.8.7:443 rst Resets connection'
      WHEN 3 THEN 'persist-xff:uri=/; client_ip=10.4.1.' || u5 || '; user_agent=0;'
      WHEN 4 THEN 'persist-xff:oc/16.0 (skype for business), /groupexpansion/service.svc] 10.6.1.' || u5
      ELSE 'session table sync tick ' || eid_s
    END AS rest
  FROM aw_base
),
aw_turns AS (
  SELECT 'aw_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'a10.waf' AS tool, ts, event_id
  FROM aw_body
)"""

  def awInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, awCte, "aw_turns")

  /** cisco.router — {name=}-shipped IOS lines: the named-ACL hit (pattern
    * 1), the mac-flap/vlan form (pattern 8) and the catch-all (pattern 9),
    * with the 'MMM dd HH:mm:ss.SSS zzz' created clock and an ISO ingested
    * stamp (syslog_audit_cisco.router.conf). */
  val crCte: String = s"""
cr_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 70) AS INT) % 3 AS ksel,
    CAST(event_id % 1000 AS STRING) AS seq_s,
    ${isoClock("ts")} AS iso1,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0')
      || '.123 gmt' AS created_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 70) = 47
),
cr_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN '%SEC-6-IPACCESSLOGP: list acl_in' || u5 || ' permit tcp ' || sip
        || '(50123) -> 10.9.8.7(443), 5 packet'
      WHEN 1 THEN '%SW_MATM-4-MACFLAP_NOTIF: mac flap for host ' || sip
        || ' on vlan' || u5 || ', sourced by gi1/0/5'
      ELSE '%SYS-5-RELOAD: reload requested by console ' || eid_s
    END AS body
  FROM cr_base
),
cr_turns AS (
  SELECT 'cr_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    iso1 || ' {name=rtr' || u5 || '} <189>' || seq_s || ': *123: ' || created_ts || ': ' || body AS text,
    'cisco.router' AS tool, ts, event_id
  FROM cr_body
)"""

  def crInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, crCte, "cr_turns")

  /** cisco.apic — pam auth failure, incorrect packet flags, aaa ssh-failure
    * subject, and the other fallback (syslog_security_cisco.apic.conf). */
  val caCte: String = s"""
ca_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 72) AS INT) % 4 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 72) = 53
),
ca_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'sshd(pam_unix): authentication failure; logname=admin' || u5
        || ' uid=0 euid=0 rhost=' || sip
      WHEN 1 THEN sip || ':50123 - 10.9.8.7:443 - tcp packet flags are incorrect seq ' || eid_s
      WHEN 2 THEN 'aaa fault subj-[uni/userext/user-admin' || u5 || ']/sess' || eid_s
        || '] From-' || sip || '-client-type-ssh-Failure-bad-password'
      ELSE sip || ':50123 - 10.9.8.7:443 - keepalive state ok ' || eid_s
    END AS body
  FROM ca_base
),
ca_turns AS (
  SELECT 'ca_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' apic' || u5 || ' ' || body AS text,
    'cisco.apic' AS tool, ts, event_id
  FROM ca_body
)"""

  def caInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, caCte, "ca_turns")

  /** cisco.stealthwatch — CSV flow (localhost + real-ip), pipe-named rule
    * and pipe-kv alarm shapes (syslog_security_cisco.stealthwatch.conf). */
  val swtCte: String = s"""
swt_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 74) AS INT) % 4 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase || ' ' || LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') || ' '
      || LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS syslog_ts,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 74) = 59
),
swt_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'flow,50123,2020-10-12T17:24:01+00:00,bob' || u5 || ',localhost,x,permitted'
      WHEN 1 THEN 'flow,50124,2020-10-12T17:24:01+00:00,block policy' || u5 || '|9,10.9.8.7,x,denied'
      WHEN 2 THEN 'SourceHostname=probe' || u5 || '|SourceIP=' || sip
        || '|Port=443|AlarmID=al' || eid_s || '|AlarmName=High Traffic|AlarmSeverity=Major'
        || '|event.status=active flow anomaly|Duration=3600|TargetHostname=dsthost' || u5 || '|Target=10.9.8.7'
      ELSE 'flow,50125,2020-10-12T17:24:01+00:00,carol' || u5 || ',10.9.8.7,x,permitted'
    END AS rest
  FROM swt_base
),
swt_turns AS (
  SELECT 'swt_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || syslog_ts || ' sw-mgr' || u5 || ' swd[700]: ' || rest AS text,
    'cisco.stealthwatch' AS tool, ts, event_id
  FROM swt_body
)"""

  def swtInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, swtCte, "swt_turns")

  /** accellion.sft — httpd session, Download audit, sendmail to=/STARTTLS/
    * from= variants and the repeated-message drop
    * (syslog_audit_accellion.sft.conf). */
  val acCte: String = s"""
ac_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 76) AS INT) % 6 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 76) = 61
),
ac_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'last message repeated 4 times'
      WHEN 1 THEN 'httpd: [50123]: (' || sip || ') (User:bob' || u5 || '@corp.net) login success'
      WHEN 2 THEN 'Download: [50124]: (' || sip || ') file' || eid_s || '.pdf downloaded by carol' || u5
        || '@corp.net (5120 bytes, 2s) (Type: file, Location: /data'
      WHEN 3 THEN 'sendmail[900]: x' || eid_s || ': to=<dave' || u5
        || '@ext.com>, delay=00:00:01, xdelay=00:00:01, mailer=esmtp, pri=120000, relay=mx.ext.com ['
        || '10.8.8.8], dsn=2.0.0, stat=Sent (<q> [InternalId=77' || eid_s || '] message accepted)'
      WHEN 4 THEN 'sendmail[901]: x' || eid_s || ': from=<erin' || u5
        || '@corp.net>, size=2048, class=0, nrcpts=1, msgid=<m' || eid_s || '@corp.net>, relay=[10.7.7.7]'
      ELSE 'sendmail[902]: STARTTLS=client, relay=mx.ext.com, version=TLSv1.2, verify=OK, cipher=ecdhe-rsa-aes256, bits=256/256'
    END AS rest
  FROM ac_base
),
ac_turns AS (
  SELECT 'ac_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'accellion.sft' AS tool, ts, event_id
  FROM ac_body
)"""

  def acInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, acCte, "ac_turns")

  /** sap.onapsis — heartbeat conditional (commented-out drop), incident JSON
    * with alarm-profile ruby collector, ISO/millis/second erp_time date list,
    * and the else-branch mega-grok (syslog_security_sap.onapsis.conf).
    * ksel 0/1 heartbeat variants, 2-4 JSON incidents, 5 kv-style grok. */
  val onpCte: String = s"""
onp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 77) AS INT) % 6 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    ${spSecOf("ts")} AS d1,
    REPLACE(${spSecOf("ts")}, ' ', 'T') AS iso1,
    LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS ms3,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip,
    '10.9.' || CAST(event_id % 250 AS STRING) || '.' || CAST(1 + (user_id % 254) AS STRING) AS dip
  FROM events WHERE (event_id % 77) = 13
),
onp_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN d1 || ' {name=hb} {"event_id": "HeartBeat", "status": "ok"}'
      WHEN 1 THEN 'keepalive ok from onapsis sensor ' || eid_s
      WHEN 2 THEN d1 || ' {name=onapsis} {"incident_type": "Attack", "event_type": "UserLogin", "protocol": "HTTPS", "event_id": "EV' || eid_s
        || '", "username": "SAPU' || u5 || '", "erp_time": "' || d1 || '", "incident_detail": "Detail ' || eid_s
        || '", "success": "True", "sid": "PRD", "reason": "Brute Force Attempt", "source_port": 51234, "user_type": "Dialog", "system_type": "ABAP", "asset_name": "sap-prd' || u5
        || '", "incident_name": "INC' || eid_s || '", "client": "100", "sev": 5, "modified": "Admin' || u5
        || '", "src": "' || sip || '", "erp_host": "' || dip
        || '", "alarm_profile_matches": [{"alarm_name": "Alarm' || u5 || '"}, {"alarm_name": ""}]}'
      WHEN 3 THEN d1 || ' {name=onapsis} {"incident_type": "Config Change", "event_type": "SystemChangeGlobalSettingUpdate", "protocol": "RFC", "event_id": "EV' || eid_s
        || '", "username": "SAPU' || u5 || '", "erp_time": "' || d1 || '.' || ms3 || '", "incident_detail": "Detail ' || eid_s
        || '", "success": "False", "sid": "PRD", "reason": "Global Setting Changed", "source_port": 8443, "user_type": "Batch", "system_type": "ABAP", "asset_name": "sap-prd' || u5
        || '", "incident_name": "CFG' || eid_s || '", "client": "200", "sev": 3, "modified": "Admin' || u5
        || '", "src": "SAPHOST' || eid_s || '", "erp_host": "ERP' || eid_s
        || '.corp.example", "alarm_profile_matches": []}'
      WHEN 4 THEN d1 || ' {name=onapsis} {"incident_type": "Audit", "event_type": "PasswordChange", "protocol": "SAPGUI", "event_id": "EV' || eid_s
        || '", "username": "SAPU' || u5 || '", "erp_time": "' || iso1 || '", "incident_detail": "Detail ' || eid_s
        || '", "success": "True", "sid": "QAS", "reason": "Password Changed", "source_port": 50000, "user_type": "Dialog", "system_type": "JAVA", "asset_name": "sap-qas' || u5
        || '", "incident_name": "AUD' || eid_s || '", "client": "100", "sev": 7, "modified": "Admin' || u5
        || '", "src": "' || sip || '", "erp_host": "' || dip
        || '", "alarm_profile_matches": [{"alarm_name": ""}]}'
      ELSE d1 || ' {name=onapsis} dst=' || dip || ' erpHost=erp' || eid_s
        || ' eventType=UserLogin incidentDetail=detail incidentName=INC protocol=HTTPS reason=matched sourcePort=5123 success=True systemType=ABAP terminalSource=term' || eid_s
        || ' usrName=sapu' || u5 || ' userType=Dialog alarmProfileMatches=[{"alarm_name": "Alarm1", "alarm_id": 1}] eventId=EV' || eid_s
    END AS rest
  FROM onp_base
),
onp_turns AS (
  SELECT 'onp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'sap.onapsis' AS tool, ts, event_id
  FROM onp_body
)"""

  def onpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, onpCte, "onp_turns")

  /** symantec.dlp — 3-token year-less syslog date dissect, 8-pipe CEF split,
    * kv over the CR-separated incident body (syslog_security_symantec.dlp
    * .conf). The CRs mirror the real transport: TCP syslog frames split on
    * LF, each payload line keeps the CR of its CRLF, so the kv's
    * `field_split => "\r\n"` sees CRs. ksel 0 endpoint/blocked (FQDN
    * machine), 1 the `N/A`-FNAME + no-ip + `null null` scrub row, 2 cloud/
    * email shapes (URL case split: rule.reference keeps original case),
    * 3 the literal `N\/A` FNAME that suppresses BOTH rename arms. */
  val sdlCte: String = s"""
sdl_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 78) AS INT) % 4 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    $monCase AS mon,
    CASE WHEN EXTRACT(DAY FROM ts) < 10 THEN ' ' || CAST(EXTRACT(DAY FROM ts) AS STRING)
         ELSE CAST(EXTRACT(DAY FROM ts) AS STRING) END AS dd2,
    ${hmsOf("ts")} AS hms,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(1 + (event_id % 254) AS STRING) AS sip
  FROM events WHERE (event_id % 78) = 17
),
sdl_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN 'INCIDENT_ID=7' || eid_s || chr(13) || 'MONITOR_NAME=Endpoint Prevent'
        || chr(13) || 'POLICY=PCI Policy' || chr(13) || 'RULES=Credit Card Rule'
        || chr(13) || 'SEVERITY=High' || chr(13) || 'BLOCKED=Blocked'
        || chr(13) || 'PROTOCOL=HTTPS' || chr(13) || 'FNAME=Secret_' || eid_s || '.xlsx'
        || chr(13) || 'PATH=C:/Users/u' || u5 || '/Documents'
        || chr(13) || 'MACHINE_IP=' || sip
        || chr(13) || 'ENDPOINT_MACHINE=WKS' || eid_s || '.corp.example'
        || chr(13) || 'ENDPOINT_USERNAME=User' || u5
      WHEN 1 THEN 'INCIDENT_ID=8' || eid_s || chr(13) || 'MONITOR_NAME=Network Email'
        || chr(13) || 'POLICY=Confidential Policy' || chr(13) || 'RULES=Keyword Match'
        || chr(13) || 'SEVERITY=Medium' || chr(13) || 'FNAME=N/A'
        || chr(13) || 'MACHINE_IP=N/A' || chr(13) || 'DESTINATION_ADDRESS=null null'
        || chr(13) || 'SUBJECT=Quarterly Report ' || eid_s
        || chr(13) || 'SENDER=U' || u5 || '@corp.example'
        || chr(13) || 'RECIPIENT=R' || u5 || '@partner.example'
      WHEN 2 THEN 'INCIDENT_ID=9' || eid_s || chr(13) || 'MONITOR_NAME=Cloud Gateway'
        || chr(13) || 'POLICY=Source Code Policy' || chr(13) || 'RULES=Code Fingerprint'
        || chr(13) || 'SEVERITY=Low' || chr(13) || 'BLOCKED=Allowed'
        || chr(13) || 'PROTOCOL=FTP' || chr(13) || 'FILE_NAME=Report-' || eid_s || '.pdf'
        || chr(13) || 'URL=https://Files.Corp.Example/share/' || eid_s
        || chr(13) || 'DESTINATION_ADDRESS=share' || eid_s || '.corp.example'
        || chr(13) || 'MACHINE_IP=' || sip
        || chr(13) || 'ENDPOINT_DEVICE_ID=DEV-' || eid_s
        || chr(13) || 'APPLICATION_USER=Svc' || u5
        || chr(13) || 'DATAOWNER_NAME=Owner ' || u5
        || chr(13) || 'DATAOWNER_EMAIL=Owner' || u5 || '@corp.example'
      ELSE 'INCIDENT_ID=6' || eid_s || chr(13) || 'MONITOR_NAME=Endpoint Discover'
        || chr(13) || 'SEVERITY=INFO' || chr(13) || 'FNAME=N' || chr(92) || '/A'
        || chr(13) || 'FILE_NAME=Other.txt' || chr(13) || 'TARGET=/mnt/usb/out.dat'
        || chr(13) || 'ENDPOINT_MACHINE=WKS' || eid_s
        || chr(13) || 'ENDPOINT_USERNAME=User' || u5
    END AS kvdata
  FROM sdl_base
),
sdl_turns AS (
  SELECT 'sdl_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || mon || ' ' || dd2 || ' ' || hms
      || ' dlp-mgr' || CAST(user_id % 3 AS STRING)
      || ' SymantecDLP: CEF:0|Symantec|Data Loss Prevention|15.7|CEFSET' || u5
      || '|CEFRULE' || u5 || '|' || CAST(ksel AS STRING) || '|' || kvdata AS text,
    'symantec.dlp' AS tool, ts, event_id
  FROM sdl_body
)"""

  /** cisco.aci — SYSTEM_MSG body grok with the optional lifecycle bracket
    * (syslog_audit_cisco.aci.conf). ksel 0 found-code fault, 1 found-code
    * 4-bracket event, 2 not-found fault, 3 body-grok failure (unresolved
    * sprintf templates → e94 scrub), 4 not-found alert whose error_message
    * is a nexus-style inner syslog and whose dn is literally `sys` — the
    * conf's `"[sys]" in [tmp][rule]` nexus branch still cannot fire (the
    * det_severity WORD group always claims the `[sys]` bracket first). */
  val aciCte: String = s"""
aci_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 80) AS INT) % 5 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    CAST(event_id % 7 AS STRING) AS msev,
    CAST(100 + (event_id % 50) AS STRING) AS nodeid,
    $monCase || ' ' || CAST(EXTRACT(DAY FROM ts) AS STRING) || ' ' || ${hmsOf("ts")} AS syslogts
  FROM events WHERE (event_id % 80) = 21
),
aci_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN syslogts || ' aci-leaf' || nodeid || ' %LOG_LOCAL7-' || msev
        || '-SYSTEM_MSG [F0103][raised][fltFan][major][topology/pod-1/node-' || eid_s
        || '] Fan speed below threshold on node ' || eid_s
      WHEN 1 THEN syslogts || ' aci-leaf' || nodeid || ' %LOG_LOCAL7-' || msev
        || '-SYSTEM_MSG [E4204936][evtCfg][info][uni/tn-common] Config change committed by admin' || u5
      WHEN 2 THEN syslogts || ' aci-leaf' || nodeid || ' %LOG_LOCAL7-' || msev
        || '-SYSTEM_MSG [F9999][cleared][fltPsu][minor][topology/pod-2/node-' || eid_s
        || '] PSU restored ' || eid_s
      WHEN 3 THEN 'apic login session opened for user admin' || u5
      ELSE syslogts || ' aci-leaf' || nodeid || ' %LOG_LOCAL7-' || msev
        || '-SYSTEM_MSG [F110331][soakingclearing][fltEthpm][warning][sys] ' || syslogts
        || ' %LOG_AUTH-3-SYSTEM_MSG: login failed for user admin' || u5
    END AS rest
  FROM aci_base
),
aci_turns AS (
  SELECT 'aci_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'cisco.aci' AS tool, ts, event_id
  FROM aci_body
)"""

  def aciInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, aciCte, "aci_turns")

  /** cisco.wireless.control.system — `host: ts: %CODE: desc` ladder
    * (syslog_audit_cisco.wireless.control.system.conf). ksel 0 RULE 6
    * auth-success, 1 RULE 7 reboot with a leading MAC in the description,
    * 2 RULE 4 entry-changed, 3 the colon-less RULE 2 → RULE 11 arm. */
  val wlcCte: String = s"""
wlc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 82) AS INT) % 4 AS ksel,
    8 * (16 + (event_id % 8)) + (event_id % 5) AS pri,
    'wlc-ctrl' || CAST(user_id % 4 AS STRING) AS wlchost,
    $monCase || ' ' || CAST(EXTRACT(DAY FROM ts) AS STRING) || ' ' || ${hmsOf("ts")}
      || '.' || LPAD(CAST(event_id % 1000 AS STRING), 3, '0') AS wts,
    '00:1A:2B:3C:4D:' || LPAD(CAST(event_id % 100 AS STRING), 2, '0') AS mac
  FROM events WHERE (event_id % 82) = 19
),
wlc_body AS (
  SELECT *,
    CASE ksel
      WHEN 0 THEN wlchost || ': ' || wts
        || ': %APF-3-AUTH_ADMIN_USER: Authentication succeeded for admin user' || u5
      WHEN 1 THEN wlchost || ': ' || wts || ': %MM-5-REBOOT_INFO: ' || mac
        || ' reboot after crash ' || eid_s
      WHEN 2 THEN wlchost || ': ' || wts
        || ': %DOT1X-3-ENTRY_CHANGED: Entry changed for client ' || eid_s
      ELSE wlchost || ': apfMsConnTask: Station deauthenticated ' || eid_s
    END AS rest
  FROM wlc_base
),
wlc_turns AS (
  SELECT 'wlc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<' || CAST(pri AS STRING) || '>' || rest AS text,
    'cisco.wireless.controller' AS tool, ts, event_id
  FROM wlc_body
)"""

  def wlcInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, wlcCte, "wlc_turns")
  def sdlInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, sdlCte, "sdl_turns")

  /** azure.eventhub.atp — records[] envelope over AdvancedHunting-style
    * CamelCase properties (event_hub_security_azure.event_hub_atp.conf).
    * esel 0 two-record envelope (record b varies category/AdditionalFields/
    * AppGuardContainerId/FileName), 1 one-record envelope with an
    * unparseable Timestamp plus the LOWERCASE versioninfo keys (fires the
    * :70-75 renames incl. both last-wins pairs), 2 bare object (no split →
    * unresolved hostname literal, dataset stamp survives). */
  // CONCAT (variadic, binds flat) rather than a `||` chain: DuckDB's
  // binder recurses per `||` and this record alone would blow its
  // 128-frame cap when the oracle replays the CTE.
  private def eatRec(sfx: String, tsExpr: String = "iso"): String =
    s"""CONCAT('{"time":"', iso, '","tenantId":"', tnt,
      '","operationName":"Advanced Hunting","category":"AdvancedHunting-FileEvents$sfx"',
      ',"properties":{"ActionType":"FileCreated","AdditionalFields":"AF ', eid_s, '$sfx"',
      ',"AppGuardContainerId":"Cont', eid_s, '$sfx"',
      ',"DeviceId":"dev', CAST(event_id % 400 AS STRING), '"',
      ',"DeviceName":"Host', CAST(user_id % 20 AS STRING), '.corp.example"',
      ',"FileName":"Payload', eid_s, '$sfx.EXE"',
      ',"FileOriginIP":"9.', CAST(user_id % 200 AS STRING), '.', CAST(event_id % 250 AS STRING), '.25"',
      ',"FileOriginReferrerUrl":"https://Ref.example/r/', eid_s, '"',
      ',"FileOriginUrl":"https://Dl.example/f/', eid_s, '"',
      ',"FileSize":', CAST(event_id % 100000 AS STRING),
      ',"FolderPath":"/tmp/dl', u5, '"',
      ',"InitiatingProcessAccountDomain":"CORP', u5, '"',
      ',"InitiatingProcessAccountName":"User', u5, '"',
      ',"InitiatingProcessCommandLine":"powershell -enc ABC', eid_s, '"',
      ',"InitiatingProcessCreationTime":"', iso, '"',
      ',"InitiatingProcessFileName":"Powershell.exe"',
      ',"InitiatingProcessId":', CAST(event_id % 30000 AS STRING),
      ',"InitiatingProcessMD5":"', MD5(CONCAT('pm', eid_s)), '"',
      ',"InitiatingProcessParentCreationTime":"', iso, '"',
      ',"InitiatingProcessParentFileName":"Explorer.exe"',
      ',"InitiatingProcessParentId":', CAST(event_id % 20000 AS STRING),
      ',"InitiatingProcessSHA1":"', MD5(CONCAT('s1', eid_s)), '"',
      ',"InitiatingProcessSHA256":"', MD5(CONCAT('s2', eid_s)), '"',
      ',"MD5":"', UPPER(MD5(CONCAT('fm', eid_s))), '"',
      ',"ReportId":', CAST(event_id % 100000 AS STRING),
      ',"RequestAccountDomain":"ReqDom', u5, '","RequestAccountName":"ReqUser', u5, '"',
      ',"RequestAccountSid":"S-1-5-21-', eid_s, '"',
      ',"RequestProtocol":"Smb","RequestSourceIP":"', sip, '"',
      ',"RequestSourcePort":', CAST(30000 + (event_id % 20000) AS STRING),
      ',"SHA1":"', MD5(CONCAT('f1', eid_s)), '","SHA256":"', MD5(CONCAT('f2', eid_s)), '"',
      ',"Timestamp":"', $tsExpr, '"')"""

  val eatCte: String = s"""
eat_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    'Tnt' || CAST(user_id % 9 AS STRING) AS tnt,
    CAST(FLOOR(event_id / 84.0) AS BIGINT) % 3 AS esel, -- quotient: the %84 filter pins event_id%3

    $isoSec || 'Z' AS iso,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(14 + (event_id % 200) AS STRING) AS sip
  FROM events WHERE (event_id % 84) = 11
),
eat_turns AS (
  SELECT 'eat_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 2 THEN '{"tenantId":"' || tnt || '","operationName":"Bare"}'
      WHEN 1 THEN '{"records": [' || ${eatRec("", "'notatime'")}
        || ',"initiatingprocessversioninfocompanyname":"Microsoft Corp"'
        || ',"initiatingprocessversioninfoproductname":"Win OS"'
        || ',"initiatingprocessversioninfoproductversion":"10.0.' || eid_s || '"'
        || ',"initiatingprocessversioninfointernalfilename":"Internal' || eid_s || '.exe"'
        || ',"initiatingprocessversioninfooriginalfilename":"Original' || eid_s || '.EXE"'
        || ',"initiatingprocessversioninfofiledescription":"File Desc ' || eid_s || '"}}]}'
      ELSE '{"records": [' || ${eatRec("")} || '}},' || ${eatRec("b")} || '}}]}'
    END AS text,
    'azure.eventhub.atp' AS tool, ts, event_id
  FROM eat_base
)"""

  def eatInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, eatCte, "eat_turns")

  /** azure.eventhub.security — the space-stripping security-center feed
    * (event_hub_security_azure.event_hub.conf). esel 0 two-record
    * insights envelope, 1 bare Graph-security alert (tmp renames + the
    * Entities FileHashes ruby, UPPER-cased hash values prove the e07 array
    * lowercase), 2 one-record envelope with ENVELOPE-level Severity +
    * Entities (split clones retain [tmp]: the record's
    * recommendationImpact severity is overwritten by the envelope's, and
    * the envelope's SHA512 entity hashes land on the per-record clone). */
  private def ehcRec(sfx: String): String =
    s"""'{"time":"' || iso || '","operationName":"Security Assessment ' || eid_s || '$sfx"'
      || ',"category":"Recommendation","resultType":"Succeeded Action"'
      || ',"resultSignature":"Sig ' || eid_s || '$sfx","resultDescription":"Desc text ' || eid_s || '"'
      || ',"callerIpAddress":"' || sip || '","location":"East US 2","operationVersion":"3.0"'
      || ',"durationMs":' || CAST(event_id % 5000 AS STRING) || ',"level":"Informational"'
      || ',"properties":{"recommendationCategory":"Compute Secure","recommendationImpact":"High"'
      || ',"recommendationName":"Enable MFA Now","recommendationSchemaVersion":"1.0"'
      || ',"recommendationResourceLink":"https://Portal.Azure.Com/r/' || eid_s || '"'
      || ',"recommendationType":"Type A$sfx"}}'"""

  val ehcCte: String = s"""
ehc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    (event_id % 3) AS esel,
    $isoSec || 'Z' AS iso,
    '8.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING)
      || '.' || CAST(14 + (event_id % 200) AS STRING) AS sip
  FROM events WHERE (event_id % 86) = 33
),
ehc_turns AS (
  SELECT 'ehc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE esel
      WHEN 1 THEN '{"Severity":"High","SystemAlertId":"SA ' || eid_s
        || '","Intent":"Initial Access","AlertDisplayName":"Suspicious Process Launch"'
        || ',"Description":"Alert about ' || eid_s || '"'
        || ',"AlertUri":"https://Portal.Azure.com/alert/' || eid_s || '"'
        || ',"Entities":[{"Type":"file","FileHashes":[{"Algorithm":"MD5","Value":"'
        || UPPER(MD5('e1' || eid_s)) || '"},{"Algorithm":"SHA256","Value":"'
        || UPPER(MD5('e2' || eid_s)) || '"}]},{"Type":"process","FileHashes":[{"Algorithm":"SHA1","Value":"'
        || MD5('e3' || eid_s) || '"},{"Algorithm":"MD5","Value":"'
        || MD5('e4' || eid_s) || '"}]},{"Type":"host"}]}'
      WHEN 2 THEN '{"records": [' || ${ehcRec("")}
        || '],"Severity":"Low","Entities":[{"Type":"file","FileHashes":[{"Algorithm":"SHA512","Value":"'
        || MD5('e5' || eid_s) || '"}]}]}'
      ELSE '{"records": [' || ${ehcRec("")} || ',' || ${ehcRec("b")} || ']}'
    END AS text,
    'azure.eventhub.security' AS tool, ts, event_id
  FROM ehc_base
)"""

  def ehcInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ehcCte, "ehc_turns")

  /** azure.graph_data — Graph security API alerts
    * (api_security_azure.graph_api.conf). gsel 0 full alert (the invalid
    * JSON escape fixed by the :14 gsub, closeddatetime surviving only to
    * e02's unparsed-date sweep), 1 hostStates fan-out (2 rows) + fileStates
    * LIST clobbering the scalar path rename, 2 `name` clobbering
    * [event][start] + garbage createddatetime, 3 minimal alert without
    * azureTenantId (unresolved hostname literal). */
  private val graFull: String =
    """'"category":"Credential Access","closeddatetime":"' || iso || '"'
      || ',"confidence":' || CAST(event_id % 100 AS STRING)
      || ',"description":"User' || chr(92) || chr(39) || 's file ' || eid_s || ' accessed"'
      || ',"id":"AL' || eid_s || '","severity":"Medium"'
      || ',"sourceMaterials":"https://Graph.Example/alerts/' || eid_s || '"'
      || ',"title":"Malware Detected","provider":"IPC","subprovider":"Azure AD"'
      || ',"vendor":"Microsoft","destination_service_name":"Azure AD Svc"'
      || ',"domain_name":"Corp' || u5 || '.example"'
      || ',"user_principal_name":"U' || eid_s || '@Corp.example"'
      || ',"status":"newAlert","logon_location":"Redmond WA"'
      || ',"logon_date_time":"' || iso || '","path":"/tmp/Doc ' || eid_s || '.txt"'
      || ',"file_hash_md5":"' || UPPER(MD5('g1' || eid_s)) || '"'
      || ',"file_hash_sha256":"' || MD5('g2' || eid_s) || '"'
      || ',"lastModifiedDateTime":"' || iso || '"'"""

  val graCte: String = s"""
gra_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    'TenantA' || CAST(user_id % 9 AS STRING) AS tnt,
    CAST(FLOOR(event_id / 88.0) AS BIGINT) % 4 AS gsel, -- quotient: the %88 filter pins event_id%4

    $isoSec || 'Z' AS iso
  FROM events WHERE (event_id % 88) = 41
),
gra_turns AS (
  SELECT 'gra_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE gsel
      WHEN 3 THEN '{"id":"AL' || eid_s || '","severity":"Low","title":"Info Alert"}'
      WHEN 2 THEN '{"azureTenantId":"' || tnt || '",' || $graFull
        || ',"name":"Anomalous Token","createddatetime":"garbage"}'
      WHEN 1 THEN '{"azureTenantId":"' || tnt || '","createddatetime":"' || iso || '",' || $graFull
        || ',"hostStates":[{"netBiosName":"WS One ' || eid_s || '"},{"netBiosName":"WS Two ' || eid_s || '"}]'
        || ',"fileStates":[{"path":"/tmp/a' || eid_s || '.txt"},{"path":""},{"path":"/tmp/b' || eid_s || '.txt"}]}'
      ELSE '{"azureTenantId":"' || tnt || '","createddatetime":"' || iso || '",' || $graFull || '}'
    END AS text,
    'azure.graph_data' AS tool, ts, event_id
  FROM gra_base
)"""

  def graInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, graCte, "gra_turns")

  /** riverbed.netim — weekly threshold-crossing alarms
    * (syslog_audit_riverbed.netim_weekly.conf). rsel 0 flattened (comma-
    * joined single-line) full alarm: the live path — details+sample kv,
    * [labels] via json_encode/gsub/json, "major severity" remap, CST6CDT
    * crossed-at; 1 flattened alarm with an off-dictionary severity word
    * (fallback code 7 → "debug"), no display-name (partially unresolved
    * error.message) and no crossed-at; 2 MULTILINE alarm — the reference's
    * own dead path: GREEDYDATA cannot cross newlines, so the sample grok
    * matches on the "complete sample:" line with both captures empty, and
    * keep_empty_captures=false drops them (details machinery entirely
    * inert, severity remap still live); 3 sample-less periodic line
    * (severity grok fails → pri-derived severity kept, error.message fully
    * unresolved). */
  val rvbCte: String = s"""
rvb_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(1 + (event_id % 8) AS STRING) AS ifn,
    CAST(event_id % 10 AS STRING) AS thr,
    CAST(FLOOR(event_id / 90.0) AS BIGINT) % 4 AS rsel,
    -- weekday from day-of-month: EXTRACT(DOW) is 0-based in DuckDB but
    -- 1-based in Spark, so the shared CTE cannot use it. The events table
    -- is entirely January 2024 (Jan 1 = Monday), making dow = day mod 7.
    CASE CAST(EXTRACT(DAY FROM ts) AS INT) % 7 WHEN 1 THEN 'mon'
      WHEN 2 THEN 'tue' WHEN 3 THEN 'wed' WHEN 4 THEN 'thu' WHEN 5 THEN 'fri'
      WHEN 6 THEN 'sat' ELSE 'sun' END AS dow,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS hms,
    '10.' || CAST(user_id % 200 AS STRING) || '.' || CAST(event_id % 250 AS STRING) || '.9' AS hip
  FROM events WHERE (event_id % 90) = 7
),
rvb_turns AS (
  SELECT 'rvb_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE rsel
      WHEN 3 THEN '2024-01-0' || CAST(1 + (event_id % 9) AS STRING)
        || 'T00:00:00Z collector <85>NetIM' || eid_s
        || ' - NetIM STATUS Periodic Report: system OK sample window closed'
      WHEN 2 THEN CONCAT('2024-01-0', CAST(1 + (event_id % 9) AS STRING),
        'T00:00:00Z collector <134>NetIM', eid_s,
        ' - NetIM ALARM IFC Threshold Crossing MINOR SEVERITY: ',
        'alert name:link util ', eid_s, chr(10),
        'primaryaddress:', hip, chr(10),
        'sysname:SW', eid_s, '.Corp.Example', chr(10),
        'threshold:9', thr, '%', chr(10),
        'complete sample:', chr(10),
        'tags:High Util Link', chr(10),
        chr(9), 'average utilization:4', thr, '.2 %')
      WHEN 1 THEN CONCAT('2024-01-0', CAST(1 + (event_id % 9) AS STRING),
        'T00:00:00Z collector <188>NetIM', eid_s,
        ' - NetIM ALARM IFC Threshold Crossing ELEVATED SEVERITY: ',
        'alert name:link util ', eid_s,
        ',alert description:Interface Utilization Threshold',
        ',primaryaddress:', hip,
        ',sysname:SW', eid_s, '.Corp.Example',
        ',metric class:UTILIZATION,metric:util in',
        ',ifindex:', ifn, ',ifdescr:uplink port ', ifn,
        ',threshold:9', thr, '%',
        'complete sample:',
        'peak utilization:9', thr, ' %,sample count:1', eid_s)
      ELSE CONCAT('2024-01-0', CAST(1 + (event_id % 9) AS STRING),
        'T00:00:00Z collector <134>NetIM', eid_s,
        ' - NetIM ALARM IFC Threshold Crossing MAJOR SEVERITY: ',
        'alert name:link util ', eid_s,
        ',alert description:Interface Utilization Threshold',
        ',primaryaddress:', hip,
        ',sysname:SW', eid_s, '.Corp.Example',
        ',metric class:UTILIZATION,metric:util in',
        ',ifalias:Uplink To Core,ifindex:', ifn,
        ',preferredname:gi0/', ifn,
        ',display name:GigabitEthernet0/', ifn,
        ',ifdescr:uplink port ', ifn,
        ',threshold:9', thr, '%',
        ',crossed at:CDT ', dow, ' jan ', dd, ' ', hms, ' 2024',
        'complete sample:',
        'tags:High Util Link',
        ',average utilization:4', thr, '.2 %',
        ',interface speed:1 gbps')
    END AS text,
    'riverbed.netim' AS tool, ts, event_id
  FROM rvb_base
)"""

  def rvbInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, rvbCte, "rvb_turns")

  /** aws.app — journald + EKS datadog feed (api_aws_app.conf). asel 0
    * journald record (16-digit microsecond created → the bounded-UNIX /
    * UNIX_MS arm, plain-text message → error.message), 1 k8s record
    * (host+hostname both present — k8s rename wins; `service` consumed by
    * the journald block proving the dead k8s rename; nested JSON message →
    * jtmp renames incl. the dotted dd.* keys), 2 object-looking but invalid
    * nested message (skip_on_invalid_json silently drops the payload), 3
    * ISO created falling through the two malformed triple-s arms. */
  val appCte: String = s"""
app_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 92.0) AS BIGINT) % 4 AS asel,
    CAST(1704485287000000 + (event_id % 100000) AS STRING) AS micros,
    $isoSec AS iso
  FROM events WHERE (event_id % 92) = 5
),
app_turns AS (
  SELECT 'app_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE asel
      WHEN 3 THEN CONCAT('{"_source_realtime_timestamp":"', iso, '.921Z"',
        ',"_comm":"app', u5, '","_pid":"2', eid_s, '"',
        ',"host":"Node', u5, '.corp.example"',
        ',"message":"shutdown requested ', eid_s, '"}')
      WHEN 2 THEN CONCAT('{"source_type":"kubernetes"',
        ',"hostname":"Pod', u5, '.corp.example"',
        ',"message":"{invalid json ', eid_s, '}"}')
      WHEN 1 THEN CONCAT('{"cluster_name":"EKS-Prod', u5, '"',
        ',"container_id":"c', eid_s, '","ddsource":"Containerd"',
        ',"ddtags":"env:prod,ver1.', eid_s, '"',
        ',"host":"Journal', u5, '.corp.example"',
        ',"hostname":"Pod', u5, '.corp.example"',
        ',"kubernetes":{"container_image":"registry.example/app:1.', u5, '"',
        ',"container_name":"App', eid_s, '","pod_ip":"10.42.', u5, '.9"',
        ',"namespace_name":"payments","pod_name":"app-', eid_s, '-x"',
        ',"pod_owner":"Deployment/app"}',
        ',"service":"Payments API","source":"Nodejs","source_type":"kubernetes"',
        ',"stream":"stdout","timestamp":"', iso, '.921235225Z"',
        ',"message":"{', chr(92), chr(34), '@severity', chr(92), chr(34), ':',
        chr(92), chr(34), 'WARN', chr(92), chr(34), ',',
        chr(92), chr(34), 'level', chr(92), chr(34), ':', chr(92), chr(34), 'warn', chr(92), chr(34), ',',
        chr(92), chr(34), 'level_value', chr(92), chr(34), ':30000,',
        chr(92), chr(34), 'logger_name', chr(92), chr(34), ':', chr(92), chr(34), 'app.Router', chr(92), chr(34), ',',
        chr(92), chr(34), 'thread_name', chr(92), chr(34), ':', chr(92), chr(34), 'main-', eid_s, chr(92), chr(34), ',',
        chr(92), chr(34), '@timestamp', chr(92), chr(34), ':', chr(92), chr(34), iso, '.333Z', chr(92), chr(34), ',',
        chr(92), chr(34), '@message', chr(92), chr(34), ':', chr(92), chr(34), 'Request Failed ', eid_s, chr(92), chr(34), ',',
        chr(92), chr(34), 'dd.trace_id', chr(92), chr(34), ':', chr(92), chr(34), 'tr', eid_s, chr(92), chr(34), ',',
        chr(92), chr(34), 'dd.service', chr(92), chr(34), ':', chr(92), chr(34), 'Checkout Svc', chr(92), chr(34), ',',
        chr(92), chr(34), 'dd.span_id', chr(92), chr(34), ':', chr(92), chr(34), 'sp', eid_s, chr(92), chr(34), ',',
        chr(92), chr(34), 'file', chr(92), chr(34), ':{', chr(92), chr(34), 'originalname', chr(92), chr(34), ':',
        chr(92), chr(34), 'Invoice ', eid_s, '.PDF', chr(92), chr(34), ',',
        chr(92), chr(34), 'encoding', chr(92), chr(34), ':', chr(92), chr(34), '7bit', chr(92), chr(34), ',',
        chr(92), chr(34), 'mimetype', chr(92), chr(34), ':', chr(92), chr(34), 'application/pdf', chr(92), chr(34), '},',
        chr(92), chr(34), 'line', chr(92), chr(34), ':88}"}')
      ELSE CONCAT('{"_source_realtime_timestamp":"', micros, '"',
        ',"_exe":"/usr/bin/App","_comm":"app', u5, '","_boot_id":"b', eid_s, '"',
        ',"unit":"app', u5, '.service","code_file":"src/Main.c"',
        ',"service":"Payments API","_gid":"1', CAST(event_id % 100 AS STRING), '"',
        ',"_pid":"2', CAST(event_id % 1000 AS STRING), '"',
        ',"_cmdline":"/usr/bin/app --serve --port 80', u5, '"',
        ',"_uid":"50', u5, '","_systemd_cgroup":"/system.slice/app.service"',
        ',"_transport":"journal","_machine_id":"m', eid_s, '"',
        ',"code_function":"handleReq","code_line":"142"',
        ',"host":"Node', u5, '.corp.example"',
        ',"syslog_identifier":"appd","priority":"6","syslog_facility":"3"',
        ',"message":"Plain Text Failure ', eid_s, '"}')
    END AS text,
    'aws.app' AS tool, ts, event_id
  FROM app_base
)"""

  def appInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, appCte, "app_turns")

  /** tanium.inventory — asset-report JSON after a braced prefix blob
    * (syslog_list_inventory_tanium.conf). tsel 0 full record (Intel Type
    * overwrites the dataset, M/d/yyyy install date), 1 all the
    * "[current result unavailable]" removals + bad install date + no pri,
    * 2 brace-less payload (prefix grok default _grokparsefailure). */
  val tinCte: String = s"""
tin_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 94.0) AS BIGINT) % 3 AS tsel,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dnp
  FROM events WHERE (event_id % 94) = 3
),
tin_turns AS (
  SELECT 'tin_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE tsel
      WHEN 2 THEN '<14>Tanium status heartbeat ' || eid_s
      WHEN 1 THEN CONCAT('tanium intel{', eid_s, '} ',
        '{"Computer Name":"Host', u5, '","Operating System":"Ubuntu 22.04"',
        ',"Operating System Install Date":"not yet known"',
        ',"Computer Serial Number":"SN', eid_s, '"',
        ',"Domain Name":"[current result unavailable]"',
        ',"MAC Address":"00:1B:44:7A:AA:0', u5, '"',
        ',"IPv4 Address":"x [current result unavailable] x"',
        ',"Tanium Client IP Address":"[current result unavailable]"',
        ',"Tanium Client NAT IP Address":"[current result unavailable]"',
        ',"Tanium Server Name":"TanSrv', u5, '"',
        ',"Logged In Users":"[current result unavailable]"',
        ',"Last Logged In User":"[current result unavailable]"',
        ',"Time Zone":"[current result unavailable]"',
        ',"Manufacturer":"Dell Inc.","Model":"OptiPlex 70', u5, '"}')
      ELSE CONCAT('tanium <13> intel{', eid_s, '} ',
        '{"Computer Name":"Host', u5, '","Operating System":"Ubuntu 22.04"',
        ',"Operating System Install Date":"1/', dnp, '/2024"',
        ',"Computer Serial Number":"SN', eid_s, '"',
        ',"Domain Name":"Corp.Example"',
        ',"MAC Address":"00:1B:44:7A:AA:0', u5, '"',
        ',"IPv4 Address":"10.', u5, '.', CAST(event_id % 250 AS STRING), '.4"',
        ',"Tanium Client IP Address":"10.', u5, '.', CAST(event_id % 250 AS STRING), '.5"',
        ',"Tanium Client NAT IP Address":"172.16.', u5, '.6"',
        ',"Tanium Server Name":"TanSrv', u5, '"',
        ',"Logged In Users":"user', u5, ', admin', eid_s, '"',
        ',"Last Logged In User":"CORP', chr(92), chr(92), 'user', u5, '"',
        ',"Time Zone":"Central Standard Time"',
        ',"Manufacturer":"Dell Inc.","Model":"OptiPlex 70', u5, '"',
        ',"Intel Type":"Tanium Asset Report"}')
    END AS text,
    'tanium.inventory' AS tool, ts, event_id
  FROM tin_base
)"""

  def tinInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, tinCte, "tin_turns")

  /** virtustream.linux — rsyslog-forwarder JSON envelope
    * (logstash_virtustream_linux_forwarder.conf). vsel 0 logstash self-log
    * bracket form (4-group grok + ruby exception suffix), 1 logstash
    * non-bracket message (wholesale error.message rename), 2 sshd line
    * (grok branch skipped), each with the three envelope dates. */
  val vlCte: String = s"""
vl_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 96.0) AS BIGINT) % 3 AS vsel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    $isoSec AS iso
  FROM events WHERE (event_id % 96) = 19
),
vl_turns AS (
  SELECT 'vl_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"tags":["linux","fwd"]',
      ',"syslog_hostname":"FwdNode', u5, '"',
      ',"syslog_facility":"daemon"',
      ',"type":"syslog"',
      ',"syslog_program":"', CASE vsel WHEN 2 THEN 'sshd' ELSE 'logstash.agent' END, '"',
      ',"@version":"1"',
      ',"message":"Raw Original ', eid_s, '"',
      ',"syslog_facility_code":3',
      ',"syslog_pid":"81', u5, '"',
      ',"syslog_severity":"notice"',
      ',"received_from":"10.', u5, '.', CAST(event_id % 250 AS STRING), '.7"',
      ',"syslog_severity_code":5',
      ',"syslog_timestamp":"Jan ', dd, ' 04:12:', LPAD(CAST(event_id % 60 AS STRING), 2, '0'), '"',
      ',"@timestamp":"', iso, '.333Z"',
      ',"received_at":"', iso, '.921Z"',
      ',"syslog_message":"',
      CASE vsel
        WHEN 0 THEN CONCAT('[2024-01-', dd, 'T04:12:33,123][WARN ][logstash.outputs.opensearch][main] ',
          'Attempted to resurrect connection to dead ES instance ', eid_s,
          ' {:message=>Connect Refused ', eid_s, ', :exception=>Manticore::SocketException,:backtrace=>[]}')
        WHEN 1 THEN 'plain forwarder warning ' || eid_s
        ELSE 'Accepted password for deploy from 10.0.0.' || CAST(event_id % 200 AS STRING)
      END, '"}') AS text,
    'virtustream.linux' AS tool, ts, event_id
  FROM vl_base
)"""

  def vlInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, vlCte, "vl_turns")

  /** pingfederate.auth — flat-file jetty/provisioner log
    * (flat_file_audit_pingfederate.conf). psel 0 RULE 3 (PingOne API
    * exception), 1 RULE 4 (UnknownHostException), 2 RULE 5 (plain 187),
    * 3 RULE 6 (188), 4 dropped <191> debug, 5 dropped empty message.
    * psel 0 carries an embedded CRLF + double-space run to exercise the
    * newline→';' and two-space gsubs. */
  val pfCte: String = s"""
pf_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 98.0) AS BIGINT) % 6 AS psel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(EXTRACT(HOUR FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM ts) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS INT) AS STRING), 2, '0') AS hms
  FROM events WHERE (event_id % 98) = 17
),
pf_turns AS (
  SELECT 'pf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE psel
      WHEN 5 THEN ''
      WHEN 4 THEN '2024-01-' || dd || ' {tid' || eid_s || '} <191>Jan ' || dd
        || ' ' || hms || ' pfsrv' || u5 || ' [t1,t2,DebugLogger] noisy debug detail'
      WHEN 3 THEN '2024-01-' || dd || ' {tid' || eid_s || '} <188>Jan ' || dd
        || ' ' || hms || ' pfsrv' || u5 || ' [t1,t2,HttpOutput] Response header too large ' || eid_s
        || chr(13) || chr(10) || 'header dump truncated'
      WHEN 2 THEN '2024-01-' || dd || ' {tid' || eid_s || '} <187>Jan ' || dd
        || ' ' || hms || ' pfsrv' || u5 || ' [t1,t2,MuxInvocationHandler] Connector pool exhausted ' || eid_s
      WHEN 1 THEN '2024-01-' || dd || ' {tid' || eid_s || '} <187>Jan ' || dd
        || ' ' || hms || ' pfsrv' || u5
        || ' [t1,t2,HttpServletRespProxy] DNS lookup failed ' || eid_s
        || ';java.net.UnknownHostException: api' || u5 || '.example'
      ELSE CONCAT('2024-01-', dd, ' {tid', eid_s, '} <187>Jan ', dd,
        ' ', hms, ' pfsrv', u5,
        ' [t1,t2,IntegrationControllerServlet] Provisioning  call failed ', eid_s,
        ';com.pingidentity.pingone.api.PingOneAdminApiException: ',
        'GET request to https://api.pingone.example/v1/environments/', eid_s,
        ' returned 403: Forbidden')
    END AS text,
    'pingfederate.auth' AS tool, ts, event_id
  FROM pf_base
)"""

  def pfInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, pfCte, "pf_turns")

  /** cisco.riverbed.audit — tab/CR/quote-scrubbed login audit lines
    * (flat_file_audit_riverbed.audit.conf). asel 0 RULE 1 LogIn with host
    * (tab/CR/quote gsubs exercised), 1 RULE 2 _LOGIN, 2 RULE 3 else-branch
    * (resource capture discarded by the conf's own sweep), 3 RULE 1
    * dissect failure (LogOut line without the k:v tail). */
  val rauCte: String = s"""
rau_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 42.0) AS BIGINT) % 4 AS asel,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dnp
  FROM events WHERE (event_id % 42) = 11
),
rau_turns AS (
  SELECT 'rau_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE asel
      WHEN 0 THEN chr(9) || 'AUDIT' || chr(34) || 'LOG' || chr(34) || ' Jan ' || dnp
        || ' 04:12:30 GMT 2024 LogIn user:Adm' || u5 || ' host:RVB' || u5
        || ' allowed:true' || chr(13)
      WHEN 1 THEN 'AUDIT Jan ' || dnp || ' 04:12:31 GMT 2024 ADMIN_LOGIN user:Root'
        || eid_s || ' allowed:false'
      WHEN 2 THEN 'AUDIT Jan ' || dnp || ' 04:12:32 GMT 2024 ConfigChange user:op'
        || u5 || ' allowed:true resource:pool' || eid_s
      ELSE 'System LogOut event ' || eid_s
    END AS text,
    'cisco.riverbed.audit' AS tool, ts, event_id
  FROM rau_base
)"""

  def rauInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, rauCte, "rau_turns")

  /** cisco.riverbed.vnes_analytics — vnes web log
    * (flat_file_audit_riverbed.vnes_analytics.conf). vsel 0 login line
    * carrying BOTH the sentence-period ip and the literal
    * "[[rule][category]]}" tail (the only shape the conf's broken dissect 2
    * + trailing-dot grok both match), 1 the sane real-world login line
    * (both custom failure tags, parse_ok stays true), 2 non-login INFO. */
  val rvnCte: String = s"""
rvn_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 45.0) AS BIGINT) % 3 AS vsel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 45) = 7
),
rvn_turns AS (
  SELECT 'rvn_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '2024/01/' || dd || ' 04:13:' || ss2 ||
    CASE vsel
      WHEN 0 THEN ' WARN - [portal] failed log in attempt from 10.' || u5 || '.'
        || CAST(event_id % 250 AS STRING) || '.9. -- user: vb' || eid_s
        || '. method: password[[rule][category]]}'
      WHEN 1 THEN ' WARN - [portal] failed log in attempt from 10.' || u5 || '.'
        || CAST(event_id % 250 AS STRING) || '.9 -- user: vb' || eid_s
        || '. method: password'
      ELSE ' INFO - [sched] nightly rollup completed ' || eid_s
    END AS text,
    'cisco.riverbed.vnes_analytics' AS tool, ts, event_id
  FROM rvn_base
)"""

  def rvnInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, rvnCte, "rvn_turns")

  /** cisco.riverbed.scportal — steelcentral portal mix
    * (flat_file_audit_riverbed.scportal.conf). ssel 0 RULE 2 python-dict
    * line (key text "'source'" lands in source.address), 1 RULE 3 Start
    * line (" at  " double-space delimiter, MM/dd/yyyy HH:mm:ss.SS start),
    * 2 RULE 4 log4j-ish line (trailing-space mapping; its yyyy-MM-dd date
    * targets the e04-clobbered @timestamp), 3 RULE 1 workflow dict DROP. */
  val rscCte: String = s"""
rsc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 49.0) AS BIGINT) % 4 AS ssel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 49) = 13
),
rsc_turns AS (
  SELECT 'rsc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE ssel
      WHEN 0 THEN 'Portal' || u5 || ' SC-Host-' || u5 || ',{' || chr(39) || 'model'
        || chr(39) || ': dash,' || chr(39) || 'objtype' || chr(39) || ': nd,'
        || chr(39) || 'product' || chr(39) || ': scp,' || chr(39) || 'runtime'
        || chr(39) || ': rt' || eid_s || ',' || chr(39) || 'schema' || chr(39)
        || ': h1,' || chr(39) || 'serial' || chr(39) || ': sn1,' || chr(39)
        || 'source' || chr(39) || ': lab,' || chr(39) || 'systemtime' || chr(39)
        || ': t0,' || chr(39) || 'version' || chr(39) || ': 9'
      WHEN 1 THEN 'Start backup at  04:14:05.12 for job' || eid_s || ' 01/' || dd || '/2024'
      WHEN 2 THEN '2024-01-' || dd || ' 04:15:' || ss2 || ',13' || u5
        || ' [Provision] ERROR  Sync failed for node ' || eid_s || ' '
      ELSE 'update {' || chr(39) || 'workflow' || chr(39) || ': w' || eid_s || '}'
    END AS text,
    'cisco.riverbed.scportal' AS tool, ts, event_id
  FROM rsc_base
)"""

  def rscInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, rscCte, "rsc_turns")

  /** cisco.riverbed.opnetreport — opnet report scraper
    * (flat_file_audit_riverbed.opnetreport.conf). osel 0 RULE 1 ^2019
    * line, 1 RULE 2 mid-2019 session line (event.start captures the
    * session token; rebuilt MMM-dd-yyyy date goes to the dead @timestamp),
    * 2 RULE 3 Maintenance, 3 RULE 4 log4j, 4 RULE 5 file-path line. */
  val ropCte: String = s"""
rop_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 51.0) AS BIGINT) % 5 AS osel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 51) = 23
),
rop_turns AS (
  SELECT 'rop_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE osel
      WHEN 0 THEN '2019-07-01 12:00:00 Report agent heartbeat OK ' || eid_s
      WHEN 1 THEN 'INFO [net-2019,session' || eid_s || ' opened: Mon Jan ' || dd
        || ' 04:16:' || ss2 || ' EST 2019]' || chr(13)
      WHEN 2 THEN 'WARN [net,Maintenance window started ' || eid_s || chr(13)
      WHEN 3 THEN 'log4j:WARN No appenders found for logger ' || eid_s
      ELSE 'ERROR [net,report: /opt/reports/run' || eid_s || '.csv]'
    END AS text,
    'cisco.riverbed.opnetreport' AS tool, ts, event_id
  FROM rop_base
)"""

  def ropInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ropCte, "rop_turns")

  /** ubiquiti.wireless.bridge.session — airos/dropbear syslog
    * (syslog_audit_ubiquiti.wireless_bridge.conf). bsel 0 init line with a
    * folded "\n\t" continuation, 1 wireless line, 2 bad-password (quoted
    * user + ip:port self-redissect), 3 child connection, 4 login attempt. */
  val ubbCte: String = s"""
ubb_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 55.0) AS BIGINT) % 5 AS bsel,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dnp,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 55) = 19
),
ubb_turns AS (
  SELECT 'ubb_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE bsel
      WHEN 0 THEN '<30>Jan ' || dnp || ' 04:17:01 init: starting pid 14' || u5
        || ', tty ' || chr(39) || '/dev/ttyS0' || chr(39) || chr(10) || chr(9) || 'speed 9600'
      WHEN 1 THEN '<30>Jan ' || dnp || ' 04:17:02 wireless: ath0 AP peer 00:1B:44:7A:AA:0'
        || u5 || ' associated'
      WHEN 2 THEN '<38>Jan ' || dnp || ' 04:17:03 dropbear[81' || u5
        || ']: Bad password attempt for ' || chr(39) || 'ubnt' || eid_s || chr(39)
        || ' from 10.' || u5 || '.' || m250 || '.8:52814'
      WHEN 3 THEN '<38>Jan ' || dnp || ' 04:17:04 dropbear[9' || u5
        || ']: Child connection from 10.' || u5 || '.' || m250 || '.3:40012'
      ELSE '<38>Jan ' || dnp || ' 04:17:05 dropbear[7' || u5
        || ']: Login attempt for nonexistent user from 10.' || u5 || '.' || m250 || '.2:41999'
    END AS text,
    'ubiquiti.wireless.bridge.session' AS tool, ts, event_id
  FROM ubb_base
)"""

  def ubbInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ubbCte, "ubb_turns")

  /** ubiquiti.controller — filebeat JSON envelope over the unifi server log
    * (syslog_audit_ubiquiti.controller_session_logs.conf). csel 0 generic
    * INFO line, 1 the "penalizing" refinement, 2 description without the
    * bracket shape (dissect failure). */
  val ubcCte: String = s"""
ubc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 57.0) AS BIGINT) % 3 AS csel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 57) = 29
),
ubc_turns AS (
  SELECT 'ubc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"log":{"offset":', CAST(event_id % 5000 AS STRING),
      ',"file":{"path":"/var/log/unifi/server.log"}}',
      ',"message":"',
      CASE csel
        WHEN 0 THEN '2024.01.' || dd || '-04:18:' || ss2 || '.123 [svc-mgr] INFO: radius profile updated ' || eid_s
        WHEN 1 THEN '2024.01.' || dd || '-04:18:' || ss2 || '.123 [auth] WARN: penalizing Admin' || u5 || ' after 3 unsuccessful login attempts'
        ELSE 'system heartbeat ' || eid_s
      END, '"',
      ',"fields":{"observer":{"product":"UniFi Controller","type":"controller","vendor":"Ubiquiti"}',
      ',"organization":{"name":"NetOps"}',
      ',"event":{"module":"ubiquiti","dataset":"controller.sess"}}',
      ',"host":{"name":"Ctrl-', u5, '"}',
      ',"ecs":{"version":"1.8.0"}}') AS text,
    'ubiquiti.controller' AS tool, ts, event_id
  FROM ubc_base
)"""

  def ubcInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ubcCte, "ubc_turns")

  /** cisco.wireless.access_point — WLC/AP syslog
    * (syslog_audit_cisco.wireless.ap.conf). wsel 0 RULE 1 UTC clock,
    * 1 RULE 3 + RULE 4 (apname-prefixed clock, parse_rule array join),
    * 2 RULE 3 + RULE 5 (asterisk clock), 3 colon-less RULE 2 (mapping
    * always fails; sprintf-literal created draws _dateparsefailure_ec). */
  val cwaCte: String = s"""
cwa_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 62.0) AS BIGINT) % 4 AS wsel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd
  FROM events WHERE (event_id % 62) = 31
),
cwa_turns AS (
  SELECT 'cwa_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE wsel
      WHEN 0 THEN '81' || u5 || ': Jan ' || dd || ' 22:45:13.900 UTC: %APF-3-VALIDATE: payload ' || eid_s
      WHEN 1 THEN '901: apname' || u5 || ': Jan ' || dd || ' 22:45:14.100: %APF-3-AUTH: client rejected ' || eid_s
      WHEN 2 THEN '77: *Jan ' || dd || ' 22:45:15: %CAPWAP-5-JOIN: ap joined ' || eid_s
      ELSE '<189>radio reset notice ' || eid_s
    END AS text,
    'cisco.wireless.access_point' AS tool, ts, event_id
  FROM cwa_base
)"""

  def cwaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, cwaCte, "cwa_turns")

  /** cisco.waas — WAAS pam/tcpproxy syslog (syslog_security_cisco.waas.conf).
    * asel 0 rule 1 auth failure (rest_msg pre-lowercased), 1 rule 2 packet
    * flags, 2 "other" shared mapping, 3 main dissect failure cascading into
    * the other-branch failure tag. */
  val cwsCte: String = s"""
cws_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 63.0) AS BIGINT) % 4 AS asel,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dnp,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 63) = 37
),
cws_turns AS (
  SELECT 'cws_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE asel
      WHEN 0 THEN '<86>2024 Jan ' || dnp || ' 15:33:' || ss2 || ' sshd(pam_unix)[81' || u5
        || ']: 60' || u5 || ': pam_unix: Authentication failure; logname=Admin' || eid_s
        || ' uid=0 euid=0 rhost=10.' || u5 || '.' || m250 || '.2'
      WHEN 1 THEN '<86>2024 Jan ' || dnp || ' 15:34:' || ss2 || ' tcpproxy[4' || u5
        || ']: 70' || u5 || ': 10.' || u5 || '.' || m250 || '.3:5000 - 10.9.9.9:443 - TCP packet flags are incorrect seq ' || eid_s
      WHEN 2 THEN '<86>2024 Jan ' || dnp || ' 15:35:' || ss2 || ' tcpproxy[5' || u5
        || ']: 71' || u5 || ': 10.' || u5 || '.' || m250 || '.4:6000 - 10.8.8.8:80 - Connection reset by peer ' || eid_s
      ELSE '<190>hello waas ' || eid_s
    END AS text,
    'cisco.waas' AS tool, ts, event_id
  FROM cws_base
)"""

  def cwsInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, cwsCte, "cws_turns")

  /** apache — rsyslog JSON envelope over access+error logs
    * (syslog_audit_apache.conf). asel 0 access (::1 nat, CR-terminated
    * forwarded ip), 1 access with "-" forwarded (removed), 2 error with the
    * access-denied refinement (::1:port gsub), 3 error other, 4 envelope
    * dissect failure. */
  val apaCte: String = s"""
apa_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 65.0) AS BIGINT) % 5 AS asel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    CAST(event_id % 250 AS STRING) AS m250,
    $isoSec AS iso
  FROM events WHERE (event_id % 65) = 41
),
apa_turns AS (
  SELECT 'apa_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN asel = 4 THEN 'plain apache line ' || eid_s
    ELSE CONCAT('{"type":"apache","@timestamp":"', iso, '.123Z","host":"Web', u5,
      '","severity":"6","facility":"23","syslog-tag":"apache","source":"',
      CASE WHEN asel <= 1 THEN 'apache-access' ELSE 'apache-error' END, '","message":"',
      CASE asel
        WHEN 0 THEN '[Mon Jan ' || dd || ' 04:19:33.123 2024] [jdoe' || u5
          || '] [proxy:error] [web' || u5 || '.internal] [::1] [8443] GET /app/page' || eid_s
          || ' ' || chr(34) || 'q=1' || chr(34) || ' HTTP/1.1 200 5321 1234 77 '
          || chr(34) || 'RD' || chr(34) || ' ' || chr(34) || 'Mozilla/5.0' || chr(34)
          || ' 10.' || u5 || '.' || m250 || '.9' || chr(34) || '}' || chr(13)
        WHEN 1 THEN '[Mon Jan ' || dd || ' 04:19:33.500 2024] [jdoe' || u5
          || '] [proxy:error] [web' || u5 || '.internal] [10.' || u5 || '.' || m250
          || '.5] [443] POST /submit' || eid_s || ' ' || chr(34) || chr(34)
          || ' HTTP/1.1 302 90 44 12 ' || chr(34) || 'RD' || chr(34) || ' '
          || chr(34) || 'curl/8.0' || chr(34) || ' -' || chr(34) || '}' || chr(13)
        WHEN 2 THEN '[Mon Jan ' || dd || ' 04:19:34.222 2024] [jdoe' || u5
          || '] [error] [authz_core] [web' || u5 || '.internal] [81' || u5
          || '] [mod_authz_core.c: 403] [client ::1:52100] AH01630: access to /secret' || eid_s
          || '.html denied (filesystem path ' || chr(39) || '/var/www/secret' || eid_s
          || '.html' || chr(39) || ') because of Require directives' || chr(34) || '}'
        ELSE '[Mon Jan ' || dd || ' 04:19:35.900 2024] [jdoe' || u5
          || '] [warn] [mpm_prefork] [web' || u5 || '.internal] [82' || u5
          || '] [prefork.c: 0] [client 10.' || u5 || '.' || m250
          || '.6] server seems busy ' || eid_s || chr(34) || '}'
      END)
    END AS text,
    'apache' AS tool, ts, event_id
  FROM apa_base
)"""

  def apaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, apaCte, "apa_turns")

  /** apache.audit — error_log flat file (flat_file_audit_apache.error.conf).
    * esel 0-4 = RULE 1-5, 5 = no rule ("other error"). */
  val apeCte: String = s"""
ape_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 68.0) AS BIGINT) % 6 AS esel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 68) = 43
),
ape_turns AS (
  SELECT 'ape_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '[Mon Jan ' || dd || ' 04:20:33 2024] [core:error] [client 10.' || u5 || '.' || m250 || '.7] ' ||
    CASE esel
      WHEN 0 THEN 'Invalid URI in request GET /bad' || chr(34) || 'path' || eid_s || chr(34)
      WHEN 1 THEN 'Invalid method in request FOO' || eid_s || ' HTTP/1.1'
      WHEN 2 THEN 'client sent invalid HTTP/0.9 request: GET /x' || eid_s
      WHEN 3 THEN 'request failed: error reading the headers ' || eid_s
      WHEN 4 THEN 'request GET received without hostname ' || eid_s
      ELSE 'File does not exist: /var/www/favicon' || eid_s || '.ico'
    END AS text,
    'apache.audit' AS tool, ts, event_id
  FROM ape_base
)"""

  def apeInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, apeCte, "ape_turns")

  /** mwg.proxy.audit — newline-folded k:v export
    * (flat_file_audit_mwg.proxy.conf). msel 0 full block (underscore runs,
    * leading spaces, +0000 timestamp), 1 Entry overwriting Source ID +
    * zone-less timestamp, 2 unparseable timestamp (_dateparsefailure_ec). */
  val mwgCte: String = s"""
mwg_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 69.0) AS BIGINT) % 3 AS msel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 69) = 47
),
mwg_turns AS (
  SELECT 'mwg_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE msel
      WHEN 0 THEN '  Timestamp:' || dd || '/Jan/2024:19:35:' || ss2 || '.533 +0000' || chr(10)
        || 'User:JDoe' || u5 || chr(10) || 'Action:Block' || chr(10) || 'Type:AuthFail' || chr(10)
        || 'Source Type:proxy' || chr(10) || 'Source ID:10.' || u5 || '.' || m250 || '.11' || chr(10)
        || 'Role:Admins' || chr(10) || 'User-Agent:Mozilla/5.0 (X11)' || chr(10)
        || 'Source Name:wks' || u5 || chr(10) || 'Source Path:/opt/mwg' || chr(10)
        || 'Description:Blocked Request ' || eid_s || '____' || chr(10)
        || 'Appliance:MWG-' || u5 || chr(13)
      WHEN 1 THEN 'Timestamp:' || dd || '/Jan/2024:19:36:' || ss2 || '.200' || chr(10)
        || 'User:MSmith' || u5 || chr(10) || 'Action:Allow' || chr(10) || 'Type:URLFilter' || chr(10)
        || 'Source Type:proxy' || chr(10) || 'Source ID:10.' || u5 || '.' || m250 || '.11' || chr(10)
        || 'Entry:10.' || u5 || '.' || m250 || '.12' || chr(10) || 'Role:Users' || chr(10)
        || 'Source Name:wks' || u5 || chr(10) || 'Description:Allowed ' || eid_s || chr(10)
        || 'Appliance:MWG-' || u5
      ELSE 'Timestamp:pending' || chr(10) || 'User:Svc' || u5 || chr(10) || 'Action:Audit' || chr(10)
        || 'Source ID:10.' || u5 || '.' || m250 || '.11' || chr(10)
        || 'Description:Audit Entry ' || eid_s || chr(10) || 'Appliance:MWG-' || u5
    END AS text,
    'mwg.proxy.audit' AS tool, ts, event_id
  FROM mwg_base
)"""

  def mwgInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, mwgCte, "mwg_turns")

  /** iis — flat-file W3C row, space-separated (flat_file_audit_iis.conf).
    * isel 0 22-column row (no XFF), 1 23-column row with private XFF
    * (source.ip overwritten, observer.ip copy), 2 dash user/query 404. */
  val iifCte: String = s"""
iif_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 75.0) AS BIGINT) % 3 AS isel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 75) = 53
),
iif_turns AS (
  SELECT 'iif_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '2024-01-' || dd || ' 04:21:' || ss2 || ' W3SVC1 IISHOST' || u5 || ' 10.1.1.1 ' ||
    CASE isel
      WHEN 2 THEN 'GET /index' || eid_s || '.aspx - 443 - 10.2.2.2 HTTP/2 Mozilla/5.0+(Windows) ASPSESS=abc http://ref.example/p ref.example 404 0 2 51' || u5 || ' 42' || u5 || ' 187'
      ELSE 'GET /index' || eid_s || '.aspx q=' || eid_s || ' 443 DOMUser' || u5
        || ' 10.2.2.2 HTTP/2 Mozilla/5.0+(Windows) ASPSESS=abc http://ref.example/p ref.example 200 0 0 51' || u5 || ' 42' || u5 || ' 187'
    END ||
    CASE WHEN isel = 1 THEN ' 10.' || u5 || '.' || m250 || '.21' ELSE '' END AS text,
    'iis' AS tool, ts, event_id
  FROM iif_base
)"""

  def iifInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, iifCte, "iif_turns")

  /** jira — filebeat envelope over the access/session log
    * (flat_file_atlassian_jira.conf). jsel 0 Container-destroyed dissect,
    * 1 destroyed grok (action1+action2 rebuild, dash gsub), 2 created grok
    * with the full optional ip/file group, 3 created with "/" file and
    * url.path (both dropped), 4 created simple. */
  val jirCte: String = s"""
jir_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 81.0) AS BIGINT) % 5 AS jsel,
    CAST(event_id % 250 AS STRING) AS m250,
    $isoSec AS iso
  FROM events WHERE (event_id % 81) = 59
),
jir_turns AS (
  SELECT 'jir_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"fields":{"event":{"module":"atlassian_jira"}}',
      ',"log":{"file":{"path":"/var/atlassian/jira/access.log"}}',
      ',"@timestamp":"', iso, '.123Z"',
      ',"agent":{"id":"agid', u5, '","ephemeral_id":"eph', eid_s,
      '","type":"filebeat","version":"7.9.3"}',
      ',"host":{"name":"jira-node-', u5, '"}',
      ',"message":"',
      CASE jsel
        WHEN 0 THEN '2024-01-15 10:00:00 JiraTaskExecThread-' || u5
          || ' Container was destroyed for ' || chr(39) || 'jadmin' || u5 || chr(39)
        WHEN 1 THEN '2024-01-15 10:00:01,500+0000 http-exec-' || u5
          || ' session-destroyed [c0ffee' || eid_s || '] destroyed for '
          || chr(39) || 'juser' || u5 || chr(39)
        WHEN 2 THEN '2024-01-15 10:00:03,000+0000 exec-' || u5 || ' juser' || u5
          || ' created /secure/att' || eid_s || '.jsp 10.' || u5 || '.' || m250
          || '.9,10.0.0.10 /browse issue-created [id' || eid_s || ']'
        WHEN 3 THEN '2024-01-15 10:00:05,000+0000 exec-' || u5 || ' juser' || u5
          || ' created / 10.' || u5 || '.' || m250
          || '.9,10.0.0.10 / session-created [sid' || eid_s || ']'
        ELSE '2024-01-15 10:00:04,000+0000 exec-' || u5
          || ' user-created [id' || eid_s || ']'
      END, '"}') AS text,
    'jira' AS tool, ts, event_id
  FROM jir_base
)"""

  def jirInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, jirCte, "jir_turns")

  /** jira.audit — double-encoded audit record in a filebeat envelope
    * (flat_file_atlassian_jira_audit.conf). asel 0 full changedValues
    * (user from Username), 1 no changedValues (user falls back to
    * affectedObjects[0].name), 2 unparseable @timestamp. */
  val jiaCte: String = s"""
jia_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 85.0) AS BIGINT) % 3 AS asel,
    chr(92) || chr(34) AS eq,
    $isoSec AS iso
  FROM events WHERE (event_id % 85) = 61
),
jia_turns AS (
  SELECT 'jia_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"host":{"name":"ip-10-0-', u5, '-9"}',
      ',"@timestamp":"', CASE WHEN asel = 2 THEN 'pending' ELSE iso || '.123Z' END, '"',
      ',"agent":{"id":"agid', u5, '","ephemeral_id":"eph', eid_s,
      '","type":"filebeat","version":"7.9.3"}',
      ',"log":{"file":{"path":"/var/atlassian/jira/audit.log"}}',
      ',"message":"{', eq, 'affectedObjects', eq, ':[{', eq, 'id', eq, ':', eq, '100', u5, eq,
      ',', eq, 'name', eq, ':', eq, 'AffUser', u5, eq, '}]',
      ',', eq, 'auditType', eq, ':{', eq, 'action', eq, ':', eq, 'User created', eq,
      ',', eq, 'category', eq, ':', eq, 'user management', eq, '}',
      ',', eq, 'system', eq, ':', eq, 'https://jira.example', eq,
      CASE WHEN asel = 1 THEN ''
        ELSE CONCAT(',', eq, 'changedValues', eq, ':[',
          '{', eq, 'key', eq, ':', eq, 'Email', eq, ',', eq, 'to', eq, ':', eq, 'u', u5, '@example.com', eq, '},',
          '{', eq, 'key', eq, ':', eq, 'Full name', eq, ',', eq, 'to', eq, ':', eq, 'User ', u5, eq, '},',
          '{', eq, 'key', eq, ':', eq, 'Username', eq, ',', eq, 'to', eq, ':', eq, 'juser', u5, eq, '}]')
      END, '}"}') AS text,
    'jira.audit' AS tool, ts, event_id
  FROM jia_base
)"""

  def jiaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, jiaCte, "jia_turns")

  /** beyondtrust.secure_remote_mngt (bomgar) — RFC5424-ish appliance feed
    * (syslog_security_bomgar.conf). bsel 0 login, 1 logout, 2 unknown
    * action + unparseable `when=` (fallback category + _ec). The header's
    * UNIX clock string always draws _dateparsefailure_es from e02. */
  val bgrCte: String = s"""
bgr_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 87.0) AS BIGINT) % 3 AS bsel,
    CAST(1704067200 + (event_id % 1000000) AS STRING) AS whens,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 87) = 17
),
bgr_turns AS (
  SELECT 'bgr_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<134>1 ' || CAST(1706000000 + event_id AS STRING) || ' appliance' || u5
      || ' US 800' || u5 || ' - [meta sequenceId=' || eid_s || '] 1427:01:01:'
      || 'site=support.example;who=Alice' || u5 || ';who_ip= 10.' || u5 || '.' || m250
      || '.13;target=rep-console;' ||
    CASE bsel
      WHEN 0 THEN 'event=login;status=success;when=' || whens || ';reason=ok'
      WHEN 1 THEN 'event=logout;status=success;when=' || whens || ';reason=done'
      ELSE 'event=session_end;status=failure;when=notatime;reason=timeout'
    END AS text,
    'beyondtrust.secure_remote_mngt' AS tool, ts, event_id
  FROM bgr_base
)"""

  def bgrInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, bgrCte, "bgr_turns")

  /** tufin.fw_acl_manager — SecureTrack syslog (syslog_security_tufin.conf).
    * tsel 0 RULE 1 policy fetch, 1 RULE 2+3 (SC-wrapped user id gsubs),
    * 2 RULE 2 plain user, 3 RULE 4 connection line, 4 RULE 5 USER:INFO.
    * The classification translate reads a never-set severity_name —
    * rule.category stays empty on every event (mirrored). */
  val tufCte: String = s"""
tuf_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 91.0) AS BIGINT) % 5 AS tsel,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dnp,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 91) = 19
),
tuf_turns AS (
  SELECT 'tuf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE tsel
      WHEN 0 THEN '<29>KERN:NOTE Automatic Policy Fetched: revision 7' || u5
        || ' on fw-domain' || u5 || '; revision ticket ids:12' || eid_s
        || ', policy fetch complete:'
      WHEN 1 THEN '<29>KERN:NOTE Installed Policy: Standard r10' || u5
        || ' on fw-domain' || u5 || '; revision: 5' || eid_s
        || ', last modified by SC (tadmin' || u5 || '), install ok'
      WHEN 2 THEN '<29>KERN:NOTE Installed Policy: Standard r11' || u5
        || ' on fw-domain' || u5 || '; revision: 6' || eid_s
        || ', last modified by ops' || u5 || ', install ok'
      WHEN 3 THEN '<29>KERN:NOTE connection audit, 10.' || u5 || '.' || m250
        || '.1 fw-edge' || u5 || '(10.' || u5 || '.' || m250 || '.2): dsthost' || u5
        || ' 10.' || u5 || '.' || m250 || '.3 (443): drop rule matched ' || eid_s
      ELSE '<30>USER:INFO Jan ' || dnp || ' 04:23:01 tufin-srv' || u5
        || ' audit: user session ' || eid_s
    END AS text,
    'tufin.fw_acl_manager' AS tool, ts, event_id
  FROM tuf_base
)"""

  def tufInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, tufCte, "tuf_turns")

  /** hp.nnm_audit — NNMi sign-in audit with newline/tab k:v blocks
    * (syslog_security_hp.network.node.mgr.conf). hsel 0 successful sign-in
    * (else branch), 1 failed login (@realm strip), 2 non-tomcat line
    * (dissect_2 tag, no kv). The space-joined clock never parses — every
    * event carries _dateparsefailure + _dateparsefailure_ec. */
  val hpnCte: String = s"""
hpn_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 93.0) AS BIGINT) % 3 AS hsel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 93) = 29
),
hpn_turns AS (
  SELECT 'hpn_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<86>2024-01-' || dd || ' 04:22:' || ss2 || '.123 ' ||
    CASE hsel
      WHEN 0 THEN 'INFO [com.hp.ov.nnm.audit] (tomcat-exec-' || CAST(event_id % 9 AS STRING)
        || ') Successful Sign In' || chr(10) || chr(9) || 'User Account:' || chr(9)
        || 'joperator' || u5 || chr(10) || chr(9) || 'NNMi Role:' || chr(9) || 'Administrator'
        || chr(10) || chr(9) || 'Client Host:' || chr(9) || 'wks' || u5 || '.example'
        || chr(10) || chr(9) || 'Client Port:' || chr(9) || '51' || u5 || '00'
      WHEN 1 THEN 'INFO [com.hp.ov.nnm.audit] (tomcat-exec-' || CAST(event_id % 9 AS STRING)
        || ') Failed Login Attempt' || chr(10) || chr(9) || 'User:' || chr(9)
        || 'jbad' || u5 || '@CORP.EXAMPLE' || chr(10) || chr(9) || 'Remote Host:' || chr(9)
        || 'wks' || u5 || '.example' || chr(10) || chr(9) || 'Remote Port:' || chr(9)
        || '52' || u5 || '11'
      ELSE 'WARN [com.hp.ov.nnm] health check ok ' || eid_s
    END AS text,
    'hp.nnm_audit' AS tool, ts, event_id
  FROM hpn_base
)"""

  def hpnInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, hpnCte, "hpn_turns")

  /** oci.cloudguard — cloud guard problem feed
    * (api_security_oci.cloudguard.conf). csel 0 embedded python-dict
    * message (backslash gsub + quote gsub + reparse), 1 flat else-branch,
    * 2 else-branch with unparseable time (_es). */
  val ocgCte: String = s"""
ocg_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 95.0) AS BIGINT) % 3 AS csel,
    $isoSec AS iso
  FROM events WHERE (event_id % 95) = 67
),
ocg_turns AS (
  SELECT 'ocg_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE csel
      WHEN 0 THEN CONCAT('{"oracle":{"tenantid":"ocid1.tenancy.prod', u5, '"},"data":{"message":"{',
        chr(39), 'compartmentName', chr(39), ': ', chr(39), 'SecOps', chr(39),
        ', ', chr(39), 'additionalDetails', chr(39), ': {',
        chr(39), 'riskLevel', chr(39), ': ', chr(39), 'CRITICAL', chr(39),
        ', ', chr(39), 'region', chr(39), ': ', chr(39), 'us-ashburn-1', chr(39),
        ', ', chr(39), 'reason', chr(39), ': ', chr(39), 'public access', chr(39),
        ', ', chr(39), 'resourceType', chr(39), ': ', chr(39), 'Bucket', chr(39),
        ', ', chr(39), 'problemDescription', chr(39), ': ', chr(39), 'bucket', chr(92), ' is public', chr(39),
        ', ', chr(39), 'problemName', chr(39), ': ', chr(39), 'PUBLIC_BUCKET_', eid_s, chr(39),
        ', ', chr(39), 'status', chr(39), ': ', chr(39), 'OPEN', chr(39),
        ', ', chr(39), 'firstDetected', chr(39), ': ', chr(39), iso, '.111Z', chr(39),
        ', ', chr(39), 'lastDetected', chr(39), ': ', chr(39), iso, '.222Z', chr(39),
        ', ', chr(39), 'problemType', chr(39), ': ', chr(39), 'CONFIG', chr(39),
        ', ', chr(39), 'problemRecommendation', chr(39), ': ', chr(39), 'make private', chr(39),
        '}}"}}')
      WHEN 1 THEN CONCAT('{"id":"ocid1.cgevent.', eid_s,
        '","oracle":{"tenantid":"ocid1.tenancy.prod', u5,
        '","ingestedtime":"', iso, '.555Z","loggroupid":"lg', u5,
        '"},"data":{"message":"scan complete ok","ruleid":"R7', u5,
        '"},"time":"', iso, '.333Z","type":"problemdetected"}')
      ELSE CONCAT('{"id":"ocid1.cgevent.', eid_s,
        '","oracle":{"tenantid":"ocid1.tenancy.prod', u5,
        '","ingestedtime":"', iso, '.555Z","loggroupid":"lg', u5,
        '"},"data":{"message":"scan pending","ruleid":"R8', u5,
        '"},"time":"soon","type":"problemdetected"}')
    END AS text,
    'oci.cloudguard' AS tool, ts, event_id
  FROM ocg_base
)"""

  def ocgInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ocgCte, "ocg_turns")

  /** oci.object — object-storage audit envelope
    * (api_application_oci.object.conf). osel 0 full record, 1 bad
    * startTime (_es, field dropped). */
  val oobCte: String = s"""
oob_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 99.0) AS BIGINT) % 2 AS osel,
    $isoSec AS iso
  FROM events WHERE (event_id % 99) = 71
),
oob_turns AS (
  SELECT 'oob_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"id":"ocid1.event.', eid_s,
      '","type":"com.oraclecloud.objectstorage.getobject","source":"ObjectStorage"',
      ',"data":{"tenantId":"ocid1.tenant.t', u5,
      '","authenticationType":"natv","clientIpAddress":"203.0.113.', CAST(event_id % 200 AS STRING),
      '","endTime":"', iso, '.444Z","startTime":"',
      CASE WHEN osel = 1 THEN 'later' ELSE iso || '.111Z' END,
      '","region":"us-phoenix-1","errorCode":"NotFound","message":"GetObject failed ', eid_s,
      '","requestAction":"GET","requestResourcePath":"/n/bkt/o/file', eid_s,
      '.txt","statusCode":404,"userAgent":"oci-sdk/2.1","tenantName":"ProdTenant"}',
      ',"oracle":{"ingestedtime":"', iso, '.555Z"}}') AS text,
    'oci.object' AS tool, ts, event_id
  FROM oob_base
)"""

  def oobInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, oobCte, "oob_turns")

  /** jamf.endpoint_protection — protect alert (api_security_jamf.protect
    * .conf). jsel 0 full record with processes/user arrays + UNIX clock,
    * 1 unparseable clock (the broken field-ref guard keeps the string for
    * e02 to scrub). */
  val jmfCte: String = s"""
jmf_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 100.0) AS BIGINT) % 2 AS jsel,
    CAST(1704067200 + (event_id % 1000000) AS STRING) AS whens,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 100) = 73
),
jmf_turns AS (
  SELECT 'jmf_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"ips":"10.', u5, '.', m250, '.30","serial":"C02', eid_s,
      '","hostname":"MacBook-', u5, '","event":{"path":"/tmp/mal', eid_s,
      '","timestamp":"', CASE WHEN jsel = 1 THEN 'pending' ELSE whens END,
      '"},"event.description":"Threat Prevented ', eid_s,
      '","eventType":"GPThreatMatchExecEvent","reportType":"alert"',
      CASE WHEN jsel = 1 THEN ''
        ELSE CONCAT(',"processes":[{"name":"bad', u5, '","path":"/tmp/bad', u5,
          '","signingInfo":{"authorities":["DevCorp CA"]}},{"name":"","path":""}]',
          ',"user":{"name":[{"name":"macuser', u5, '"}]}')
      END, '}') AS text,
    'jamf.endpoint_protection' AS tool, ts, event_id
  FROM jmf_base
)"""

  def jmfInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, jmfCte, "jmf_turns")

  /** sap.btp — triple-encoded audit-log record (api_security_sap_btp.conf).
    * bsel 0 full nesting (email grok), 1 no inner data + bad time. */
  val btpCte: String = s"""
btp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 102.0) AS BIGINT) % 2 AS bsel,
    chr(92) || chr(34) AS e1,
    chr(92) || chr(92) || chr(92) || chr(34) AS e2,
    CAST(event_id % 250 AS STRING) AS m250,
    $isoSec AS iso
  FROM events WHERE (event_id % 102) = 79
),
btp_turns AS (
  SELECT 'btp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"als_service_id":"alert-notif","category":"audit.security-events"',
      ',"message_uuid":"mu', eid_s, '","org_id":"org', u5,
      '","time":"', CASE WHEN bsel = 1 THEN 'pending' ELSE iso || '.123Z' END,
      '","space_id":"sp', u5, '","tenant":"BtpTenant', u5,
      '","object":{"type":"alert"},"id":"id', eid_s,
      '","ip":"10.', u5, '.', m250, '.40","user":"btpuser', u5, '"',
      ',"message":"',
      CASE WHEN bsel = 1 THEN '{' || e1 || 'note' || e1 || ':' || e1 || 'ok' || e1 || '}'
        ELSE CONCAT('{', e1, 'data', e1, ':', e1, '{', e2, 'message', e2, ':', e2,
          'Critical alert (', chr(39), 'u', u5, '@example.com', chr(39),
          ') raised rc=[AUTH', eid_s, ']', e2, '}', e1, '}')
      END, '"}') AS text,
    'sap.btp' AS tool, ts, event_id
  FROM btp_base
)"""

  def btpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, btpCte, "btp_turns")

  /** o365.dlp — unified audit DLP record (api_security_azure.o365_dlp.conf).
    * dsel 0 scalar To, 1 array To + BCC (merge targets the doomed envelope
    * field; the array To nulls the flat column), 2 bad CreationTime. */
  val odlCte: String = s"""
odl_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 104.0) AS BIGINT) % 3 AS dsel,
    $isoSec AS iso
  FROM events WHERE (event_id % 104) = 83
),
odl_turns AS (
  SELECT 'odl_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"CreationTime":"', CASE WHEN dsel = 2 THEN 'n/a' ELSE iso || '.123Z' END,
      '","Operation":"DlpRuleMatch","UserKey":"ukey', eid_s,
      '","Workload":"Exchange","IncidentId":"inc', eid_s, '"',
      ',"ExchangeMetaData":{"To":',
      CASE WHEN dsel = 1 THEN '["a' || u5 || '@example.com","b' || u5 || '@example.com"]'
        ELSE '"rcpt' || u5 || '@example.com"' END,
      CASE WHEN dsel = 1 THEN ',"BCC":["bcc' || u5 || '@example.com"]' ELSE '' END,
      ',"From":"sender', u5, '@example.com","FileSize":2048',
      ',"Subject":"Quarterly Report ', eid_s, '","Sent":"', iso, '.456Z"}}') AS text,
    'o365.dlp' AS tool, ts, event_id
  FROM odl_base
)"""

  def odlInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, odlCte, "odl_turns")

  /** azure.graph_identity_protection — risk detection record
    * (api_security_azure.graph_identity_protection_api.conf). gsel 0
    * activity.riskEventTypes, 1 scalar activity, 2 bad activityDateTime
    * (mismatched guard tag keeps the string for e02). */
  val gipCte: String = s"""
gip_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 106.0) AS BIGINT) % 3 AS gsel,
    $isoSec AS iso
  FROM events WHERE (event_id % 106) = 89
),
gip_turns AS (
  SELECT 'gip_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"riskState":"atRisk","detectionTimingType":"realtime","id":"rid', eid_s,
      '","riskDetail":"userPassedMFADrivenByRiskBasedPolicy"',
      ',"activityDateTime":"', CASE WHEN gsel = 2 THEN 'pending' ELSE iso || '.123Z' END,
      '","riskEventType":"unfamiliarFeatures","riskLevel":"medium"',
      ',"tokenIssuerType":"AzureAD","ipAddress":"203.0.113.', CAST(event_id % 200 AS STRING),
      '","location":{"city":"Redmond","state":"WA","countryOrRegion":"US"}',
      ',"userPrincipalName":"upn', u5, '@example.com","userDisplayName":"User Graph ', u5,
      '","source":"IdentityProtection"',
      CASE WHEN gsel = 1 THEN ',"activity":"user"'
        ELSE ',"activity":{"riskEventTypes":"signin"}' END, '}') AS text,
    'azure.graph_identity_protection' AS tool, ts, event_id
  FROM gip_base
)"""

  def gipInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, gipCte, "gip_turns")

  /** security_scorecard.events — external-scan issue record
    * (api_security_scorecard.events.conf). ssel 0 full record (dst_host
    * overwrites hostname on dns.answers.name), 1 bad first_seen (_es). */
  val sscCte: String = s"""
ssc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 108.0) AS BIGINT) % 2 AS ssel,
    $isoSec AS iso
  FROM events WHERE (event_id % 108) = 97
),
ssc_turns AS (
  SELECT 'ssc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"last_seen_time":"', iso, '.222Z","first_seen_time":"',
      CASE WHEN ssel = 1 THEN 'unknown' ELSE iso || '.111Z' END,
      '","issue_id":"iss', eid_s, '","scheme":"https"',
      ',"final_url":"https://bad.example/p', eid_s, '","domain":"bad.example"',
      ',"hostname":"h', eid_s, '.bad.example","user_agent":"scorecard-bot/1.0"',
      ',"src_ip":"203.0.113.', CAST(event_id % 200 AS STRING),
      '","product_state_status_description":"active"',
      ',"product_state_ref":"https://ref.example/r1"',
      ',"analysis_description":"malware observed ', eid_s, '"',
      ',"connection_attributes":{"protocol":"tcp","dst_port":8443,"dst_ip":"198.51.100.9","dst_host":"c2', eid_s, '.bad.example"}',
      ',"event.dataset":"ssc.issues"}') AS text,
    'security_scorecard.events' AS tool, ts, event_id
  FROM ssc_base
)"""

  def sscInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, sscCte, "ssc_turns")

  /** active_directory.users — ad inventory record with dotted keys
    * (api_list_ad_users.conf). asel 0 full (undated list_ad_users_corp
    * index override, lowercase 't'/'z' clock), 1 no user.domain (grok
    * failure, literal sprintf index) + bad ingested. */
  val aduCte: String = s"""
adu_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 110.0) AS BIGINT) % 2 AS asel,
    $isoSec AS iso
  FROM events WHERE (event_id % 110) = 101
),
adu_turns AS (
  SELECT 'adu_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"_id":"adid', eid_s, '","file.path":"/scripts/ad_users.ps1"',
      ',"event.ingested":"', CASE WHEN asel = 1 THEN 'no date yet' ELSE iso || '.000z' END, '"',
      ',"user.full_name":"Ad User ', u5, '","user.name":"ADUser', u5,
      '","user.id":"S-1-5-21-', eid_s, '"',
      ',"user.effective.domain":"corp.example"',
      CASE WHEN asel = 1 THEN '' ELSE ',"user.domain":"corp.example.com"' END,
      ',"user.email":"aduser', u5, '@example.com","user.description":"svc account"',
      ',"user.office":"HQ-', u5, '","user.telephone":"555-01', u5,
      '","user.city":"Wayzata","user.stat":"MN","user.country":"US"',
      ',"user.title":"Engineer","user.business.unit":"IT","user.company":"ExampleCorp"',
      ',"tmp_user.roles":{"value":"DomainUsers"},"tmp_user.directreports":{"value":"none"}',
      ',"user.manager":"mgr', u5, '"}') AS text,
    'active_directory.users' AS tool, ts, event_id
  FROM adu_base
)"""

  def aduInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, aduCte, "adu_turns")

  /** virtustream.windows — nxlog JSON envelope
    * (logstash_virtustream_windows_forwarder.conf). wsel 0 security 4624
    * (Channel/TargetDomainName/SubjectUserSid overwrites), 1 service event
    * with the x1e7 duration + SourceName overwrite, 2 all dates bad. */
  val vwCte: String = s"""
vw_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 111.0) AS BIGINT) % 3 AS wsel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250,
    $isoSec AS iso
  FROM events WHERE (event_id % 111) = 103
),
vw_turns AS (
  SELECT 'vw_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE wsel
      WHEN 0 THEN CONCAT('{"Domain":"CORP","ErrorCode":"0x0","type":"nxlog","Hostname":"WinSrv', u5,
        '","host":"10.', u5, '.', m250, '.50","port":514,"@timestamp":"', iso,
        '.123Z","EventTime":"2024-01-', dd, ' 06:30:', ss2,
        '","EventReceivedTime":"2024-01-', dd, ' 06:30:', ss2,
        '","EventID":4624,"UserID":"S-1-5-18","TargetUserName":"WinUser', u5,
        '","EventType":"AUDIT_SUCCESS","SeverityValue":2,"Channel":"Security"',
        ',"AccountName":"SYSTEM","LogonProcessName":"Advapi","ProcessID":71', u5,
        ',"ThreadID":88,"SubjectUserSid":"S-1-5-19","SubjectUserName":"SvcAcct', u5,
        '","SubjectDomainName":"NT AUTHORITY","Category":"Logon","Keywords":"Audit Success"',
        ',"ProcessName":"svchost.exe","TargetDomainName":"CORP2"',
        ',"ParentProcessName":"services.exe","NewProcessName":"cmd.exe"',
        ',"ProviderName":"Microsoft-Windows-Security-Auditing"',
        ',"message":"An account was successfully logged on ', eid_s, '"}')
      WHEN 1 THEN CONCAT('{"Hostname":"WinApp', u5, '","host":"10.', u5, '.', m250,
        '.51","@timestamp":"', iso, '.456Z","EventTime":"2024-01-', dd, ' 06:31:', ss2,
        '","EventID":7036,"TargetUserSid":"S-1-5-21-', eid_s,
        '","EventType":"INFO","OperationElaspedTimeInMilliSeconds":"15"',
        ',"param6":"CORPDOM","param9":"AppHost1","SourceName":"Service Control Manager"',
        ',"Opcode":"Info","Severity":"INFO","tags":["windows"]',
        ',"message":"Service entered running state ', eid_s, '"}')
      ELSE CONCAT('{"Hostname":"WinApp', u5, '","@timestamp":"worse","EventTime":"bad"',
        ',"EventReceivedTime":"nope","EventID":1,"message":"clock skew ', eid_s, '"}')
    END AS text,
    'virtustream.windows' AS tool, ts, event_id
  FROM vw_base
)"""

  def vwInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, vwCte, "vw_turns")

  /** hadoop.impala_audit — wrapper object with an escaped inner record
    * (hadoop_impala_audit.conf). isel 0 QUERY with catalog object, 1 DDL
    * with an ipv6-mapped network_address and no catalog objects. */
  val impCte: String = s"""
imp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 105.0) AS BIGINT) % 2 AS isel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250,
    chr(92) || chr(34) AS e1
  FROM events WHERE (event_id % 105) = 13
),
imp_turns AS (
  SELECT 'imp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"impala_record":{',
      e1, 'query_id', e1, ':', e1, 'qid', eid_s, e1,
      ',', e1, 'start_time', e1, ':', e1, '2024-01-', dd, ' 16:27:', ss2, '.975557', e1,
      ',', e1, 'user', e1, ':', e1, 'hive', u5, e1,
      ',', e1, 'sql_statement', e1, ':', e1,
      CASE WHEN isel = 1 THEN 'CREATE TABLE t' || eid_s ELSE 'SELECT count(1) FROM t' || eid_s END, e1,
      ',', e1, 'status', e1, ':', e1, CASE WHEN isel = 1 THEN 'failed' ELSE 'ok' END, e1,
      ',', e1, 'statement_type', e1, ':', e1, CASE WHEN isel = 1 THEN 'DDL' ELSE 'QUERY' END, e1,
      ',', e1, 'network_address', e1, ':', e1,
      CASE WHEN isel = 1 THEN '::ffff:10.' || u5 || '.' || m250 || '.61:21000'
        ELSE '10.' || u5 || '.' || m250 || '.60:21000' END, e1,
      CASE WHEN isel = 1 THEN ''
        ELSE CONCAT(',', e1, 'catalog_objects', e1, ':{', e1, 'name', e1, ':', e1,
          'db.t', eid_s, e1, ',', e1, 'object_type', e1, ':', e1, 'TABLE', e1, '}')
      END, '}}') AS text,
    'hadoop.impala_audit' AS tool, ts, event_id
  FROM imp_base
)"""

  def impInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, impCte, "imp_turns")

  /** tenable_nessus.security_center — SC app syslog
    * (syslog_audit_tenable.security_center.conf). tsel 0 SecurityCenter
    * app line, 1 T.NessusCore app line, 2 plain OS log (.os_logs kind,
    * default _grokparsefailure from the untagged app grok). */
  val tscCte: String = s"""
tsc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 114.0) AS BIGINT) % 3 AS tsel,
    CAST(EXTRACT(DAY FROM ts) AS STRING) AS dnp,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 114) = 107
),
tsc_turns AS (
  SELECT 'tsc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE tsel
      WHEN 0 THEN '<84>Jan ' || dnp || ' 04:25:' || ss2 || ' schost' || u5
        || ' SecurityCenter[81' || u5 || ']: message [SecurityCenter]: Mon, '
        || dd || ' Jan 2024 04:25:' || ss2 || ' -0|NightlyCleanup|Message|Critical|0|Job finished ok ' || eid_s
      WHEN 1 THEN '<84>Jan ' || dnp || ' 04:26:' || ss2 || ' nessus' || u5
        || ' T.NessusCore.12: scan [Nessus]: Tue, '
        || dd || ' Jan 2024 04:26:' || ss2 || ' -1|ScanComplete|Info|Normal|2|Scan done ' || eid_s
      ELSE '<86>Jan ' || dnp || ' 04:27:' || ss2 || ' schost' || u5
        || ' kernel: audit rotation complete ' || eid_s
    END AS text,
    'tenable_nessus.security_center' AS tool, ts, event_id
  FROM tsc_base
)"""

  def tscInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, tscCte, "tsc_turns")

  /** sap.cloud_connector — lowercased audit csv-ish rows
    * (flat_file_log_audit_sap.cloud_connector.conf). csel 0
    * op_access_allowed, 1 service_started, 2 unspecified cert line,
    * 3 "Date & Time" header (dropped). */
  val sccCte: String = s"""
scc_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 115.0) AS BIGINT) % 4 AS csel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 115) = 109
),
scc_turns AS (
  SELECT 'scc_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE csel
      WHEN 3 THEN 'Date & Time,Subaccount,User,Result,Action,Details'
      WHEN 0 THEN '2024-01-' || dd || ' 04:27:' || ss2 || '.123 -0500#sub,ten' || u5
        || ',usr,ok,OP_ACCESS_ALLOWED,granted user scuser' || u5
        || ' to resource /api/v' || eid_s || ' on system backend' || u5 || ':8443 ok'
      WHEN 1 THEN '2024-01-' || dd || ' 04:28:' || ss2 || '.456 -0500#sub,ten' || u5
        || ',usr,ok,SERVICE_STARTED,scservice [backend' || u5
        || '] started by account://svc' || u5 || ' run ' || eid_s
      ELSE '2024-01-' || dd || ' 04:29:' || ss2 || '.789 -0500#sub,ten' || u5
        || ',usr,ok,UNSPECIFIED,trusted cert file cc_cert' || eid_s
        || '.pem added serial 0a1b2c' || u5 || ' ok'
    END AS text,
    'sap.cloud_connector' AS tool, ts, event_id
  FROM scc_base
)"""

  def sccInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, sccCte, "scc_turns")

  /** citrix.admin — director/DDC admin audit record
    * (db_audit_citrix.admin.conf). csel 0 success + domain-backslash
    * account + UPPERCASE iso clocks (only the ISO8601 fallback fires),
    * 1 IsSuccessful=false + the conf-comment lowercase clocks (ALL formats
    * fail: default _dateparsefailure), 2 no IsSuccessful / no clocks. */
  val ctaCte: String = s"""
cta_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 116.0) AS BIGINT) % 3 AS csel,
    CAST(event_id % 250 AS STRING) AS m250,
    $isoSec AS iso
  FROM events WHERE (event_id % 116) = 111
),
cta_turns AS (
  SELECT 'cta_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"uid":"cu', eid_s, '","text":"Set-BrokerMachine ', eid_s,
      '","adminmachineip":"10.', u5, '.', m250, '.70","adminid":"aid', u5,
      '","source":"Citrix Studio","sourcesdk":"PoSh SDK","adminupn":"cadmin', u5,
      '@example.com"',
      CASE csel
        WHEN 0 THEN ',"adminaccountname":"CORP' || chr(92) || chr(92) || 'cadmin' || u5
          || '","IsSuccessful":true,"nameupdateduetime":"' || UPPER(iso) || '.327Z"'
          || ',"starttime":"' || UPPER(iso) || '.270Z","endtime":"' || UPPER(iso) || '.363Z"'
        WHEN 1 THEN ',"adminaccountname":"cadmin' || u5
          || '","IsSuccessful":false,"nameupdateduetime":"' || LOWER(iso) || '.327z"'
          || ',"starttime":"' || LOWER(iso) || '.270z","endtime":"' || LOWER(iso) || '.363z"'
        ELSE ''
      END, '}') AS text,
    'citrix.admin' AS tool, ts, event_id
  FROM cta_base
)"""

  def ctaInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ctaCte, "cta_turns")

  /** aws.lb — ALB/ELB access log (s3_log_aws.lb.conf). lsel 0 v2 line with
    * the full quoted tail, 1 classic v1 line (missing tail; the nil != "-"
    * branch groks a missing field), 2 empty message (dropped). */
  val albCte: String = s"""
alb_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 118.0) AS BIGINT) % 3 AS lsel,
    CAST(event_id % 250 AS STRING) AS m250,
    $isoSec AS iso
  FROM events WHERE (event_id % 118) = 113
),
alb_turns AS (
  SELECT 'alb_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE lsel
      WHEN 2 THEN ''
      WHEN 0 THEN CONCAT('http ', iso, '.123456Z app/my-lb/50dc6c49', u5,
        ' 10.', u5, '.', m250, '.9:46532 10.', u5, '.', m250, '.10:80 0.000 0.001 0.000 200 200 34 366 ',
        chr(34), 'GET http://api.example:80/p', eid_s, ' HTTP/1.1', chr(34),
        ' ', chr(34), 'curl/7.46.0', chr(34),
        ' - - arn:aws:elb:tg/x', u5, ' ', chr(34), 'Root=1-tr', eid_s, chr(34),
        ' ', chr(34), 'api.example', chr(34), ' ', chr(34), 'cert-', u5, chr(34),
        ' 0 ', iso, '.123000Z ', chr(34), 'forward', chr(34),
        ' ', chr(34), 'https://r.example/x', eid_s, chr(34),
        ' ', chr(34), '-', chr(34), ' ', chr(34), '10.', u5, '.', m250, '.10:8080', chr(34),
        ' ', chr(34), '200', chr(34), ' ', chr(34), '-', chr(34), ' ', chr(34), '-', chr(34))
      ELSE CONCAT(iso, '.123456Z my-elb-', u5,
        ' 10.', u5, '.', m250, '.9:46532 10.', u5, '.', m250, '.10:80 0.000 0.001 0.000 200 200 34 366 ',
        chr(34), 'GET http://api.example:80/q', eid_s, ' HTTP/1.1', chr(34),
        ' ', chr(34), 'curl/7.46.0', chr(34), ' ECDHE-RSA-AES128 TLSv1.2')
    END AS text,
    'aws.lb' AS tool, ts, event_id
  FROM alb_base
)"""

  def albInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, albCte, "alb_turns")

  /** skyhigh.atd — detonation verdict syslog (syslog_security_skyhigh.atd
    * .conf). asel 0 Summary/Subject shape + SubmitterType MWG ("permitted"),
    * 1 flat shape with Action "Blocked", 2 flat without Action or
    * SubmitterType ("animalized" literal). */
  val atdCte: String = s"""
atd_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 119.0) AS BIGINT) % 3 AS asel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 119) = 29
),
atd_turns AS (
  SELECT 'atd_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    '<110>Jan ' || dd || ' 04:36:' || ss2 || ' atdbox' || u5 || ' atdd[9' || u5 || ']: ' ||
    CASE asel
      WHEN 0 THEN CONCAT('{"Summary":{"Client":"10.', u5, '.', m250, '.80"',
        ',"User":"AtdUser', u5, '","TaskId":"task', eid_s, '","port":8443',
        ',"Subject":{"Name":"payload', eid_s, '.exe","Type":"PE32"',
        ',"md5":"d41d8cd98f00b204e9800998ecf8427e"',
        ',"sha-256":"e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"',
        ',"size":20480},"Verdict":{"Severity":4,"Description":"Malicious"}',
        ',"SubmitterType":"MWG"}}')
      WHEN 1 THEN CONCAT('{"Client":"10.', u5, '.', m250, '.81","Action":"Blocked"',
        ',"User":"AtdUser', u5, '","Dst IP":"10.9.9.19","port":443',
        ',"Url":"http://mal.example/x', eid_s, '","name":"drop', eid_s, '.bin"',
        ',"Type":"ELF","md5":"0cc175b9c0f1b6a831c399e269772661","size":512',
        ',"Techniques":"T1059","Tactics":"Execution"',
        ',"Description":"known dropper ', eid_s, '"}')
      ELSE CONCAT('{"Client":"10.', u5, '.', m250, '.82"',
        ',"User":"AtdUser', u5, '","name":"sample', eid_s, '.doc","Type":"OLE"',
        ',"size":1024,"Severity":"2"}')
    END AS text,
    'skyhigh.atd' AS tool, ts, event_id
  FROM atd_base
)"""

  def atdInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, atdCte, "atd_turns")

  /** preempt.threat_intelligence — CEF-over-syslog threat feed
    * (api_security_preempt_monthly.conf). psel 0 domain suser (Rule 1
    * backslash split), 1 plain suser, 2 header dissect failure. The
    * stitched " +00:00" tail makes [event][end] unparseable on every row
    * (the conf's own broken format list). */
  val preCte: String = s"""
pre_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 122.0) AS BIGINT) % 3 AS psel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 122) = 121
),
pre_turns AS (
  SELECT 'pre_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE WHEN psel = 2 THEN 'preempt heartbeat ' || eid_s
    ELSE CONCAT('2024-01-', dd, 'T04:42:00 {tid', eid_s, '} <134>Jan ', dd,
      ' 04:42:', ss2, ' CEF:0|Preempt|Platform|3.1.0|SUSPICIOUS_ACTIVITY|',
      'Suspicious activity ', eid_s, '|5|rt=1 start=Jan ', dd, ' 2024 04:42:', ss2,
      ' end=Jan ', dd, ' 2024 04:43:', ss2, ' +00:00 externalId=ext', eid_s,
      ' src=10.', u5, '.', m250, '.90 shost=EndPoint-', u5,
      ' cat=CredentialTheft cn1=3 cs1=https://console.example/i', eid_s,
      CASE WHEN psel = 0
        THEN ' suser=CORP.COM' || chr(92) || 'puser' || u5
        ELSE ' suser=svcacct' || u5 END)
    END AS text,
    'preempt.threat_intelligence' AS tool, ts, event_id
  FROM pre_base
)"""

  def preInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, preCte, "pre_turns")

  /** skyhigh_scal — SCAL audit record, whole-message lowercased before
    * parse (api_skyhigh_scal_audit.conf). ssel 0 with middlename, 1
    * without, 2 string createdtime ("soon" — _ec, default created). */
  val sclCte: String = s"""
scl_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 123.0) AS BIGINT) % 3 AS ssel,
    CAST((1704067200 + (event_id % 1000000)) AS STRING) || '123' AS msv,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 123) = 122
),
scl_turns AS (
  SELECT 'scl_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"clientipaddress":"10.', u5, '.', m250, '.95"',
      ',"hostmachine":"ScalNode-', u5, '"',
      ',"createdtime":', CASE WHEN ssel = 2 THEN '"soon"' ELSE msv END,
      ',"timestamp":', msv,
      ',"revision":"4.2.', u5, '","tenantid":"ten-', u5,
      '","insertionid":"ins-', eid_s, '","objectname":"PolicyObject"',
      ',"auditeventtype":{"eventcategoryid":3,"subtypeid":7,"eventcategoryname":"Policy"',
      ',"eventtypename":"Policy Updated","eventtypeid":12}',
      ',"userinfo":{"email":"scal', u5, '@example.com","userid":"u-', eid_s,
      '","firstname":"Ana","lastname":"Lopez"',
      CASE WHEN ssel = 0 THEN ',"middlename":"M"' ELSE '' END, '}}') AS text,
    'skyhigh_scal' AS tool, ts, event_id
  FROM scl_base
)"""

  def sclInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, sclCte, "scl_turns")

  /** infoblox.dns (ftp_gzip) — named query-log lines
    * (ftp_gzip_audit_infoblox_dns.conf). isel 0 full response + answer
    * tail (pattern 1), 1 short response (pattern 2 — the answer grok then
    * tags _grokparsefailure on the missing tail), 2 resolving form
    * (pattern 3, resolved ip) — also tail-less. */
  val ifxCte: String = s"""
ifx_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 124.0) AS BIGINT) % 3 AS isel,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 124) = 61
),
ifx_turns AS (
  SELECT 'ifx_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE isel
      WHEN 0 THEN dd || '-Jan-2024 13:11:' || ss2 || '.893 client 10.' || u5 || '.' || m250
        || '.97#53311: UDP: query: www' || eid_s
        || '.example.com IN A response: NOERROR +AE www' || eid_s
        || '.example.com 3600 IN A 10.11.12.13;'
      WHEN 1 THEN dd || '-Jan-2024 13:12:' || ss2 || '.100 client 10.' || u5 || '.' || m250
        || '.98#53312: UDP: query: mail' || eid_s
        || '.example.com IN A response: SERVFAIL -EDC'
      ELSE dd || '-Jan-2024 13:13:' || ss2 || '.500 client 10.' || u5 || '.' || m250
        || '.99#53313: UDP: resolving: <ns' || eid_s
        || '.example.com/a> @0x7fabc IN A +E (10.22.33.44)'
    END AS text,
    'infoblox.dns' AS tool, ts, event_id
  FROM ifx_base
)"""

  def ifxInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, ifxCte, "ifx_turns")

  /** windows.exporter — exported evtx records with a double-encoded Payload
    * (flat_file_security_windows.exported_security_events.conf). wsel 0
    * full 4624 with EventData (7-digit clock trimmed to millis), 1 payload
    * without EventData + unmatching clock (both formats fail, _ec). */
  val wxpCte: String = s"""
wxp_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 126.0) AS BIGINT) % 2 AS wsel,
    chr(92) || chr(34) AS e1,
    LPAD(CAST(EXTRACT(DAY FROM ts) AS STRING), 2, '0') AS dd,
    LPAD(CAST(event_id % 60 AS STRING), 2, '0') AS ss2
  FROM events WHERE (event_id % 126) = 125
),
wxp_turns AS (
  SELECT 'wxp_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CONCAT('{"Provider":"Microsoft-Windows-Security-Auditing","EventId":4624',
      ',"MapDescription":"Logon Successful","Keywords":"Audit Success"',
      ',"PayloadData1":"LogonType 3","PayloadData2":"NTLM","Channel":"Security"',
      ',"ChunkNumber":7,"ProcessId":71', u5, ',"ThreadId":88',
      ',"Computer":"WINEXP-', u5, '.example"',
      ',"TimeCreated":"', CASE WHEN wsel = 1 THEN '2024-01-' || dd || 'T13:15:' || ss2 || '.123+00:00'
        ELSE '2024-01-' || dd || 'T13:14:' || ss2 || '.7639051+00:00' END, '"',
      ',"SourceFile":"C:/evtx/Security', eid_s, '.evtx"',
      ',"Payload":"',
      CASE WHEN wsel = 1 THEN '{' || e1 || 'note' || e1 || ':' || e1 || 'empty' || e1 || '}'
        ELSE CONCAT('{', e1, 'EventData', e1, ':{', e1, 'Data', e1, ':[',
          '{', e1, '@Name', e1, ':', e1, 'TargetUserName', e1, ',', e1, '#text', e1, ':', e1, 'wuser', u5, e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'TargetDomainName', e1, ',', e1, '#text', e1, ':', e1, 'CORP', e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'IpAddress', e1, ',', e1, '#text', e1, ':', e1, '10.0.5.9', e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'IpPort', e1, ',', e1, '#text', e1, ':', e1, '50512', e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'LogonGuid', e1, ',', e1, '#text', e1, ':', e1, 'g', eid_s, e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'TargetUserSid', e1, ',', e1, '#text', e1, ':', e1, 'S-1-5-21-', eid_s, e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'AuthenticationPackageName', e1, ',', e1, '#text', e1, ':', e1, 'NTLM', e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'LmPackageName', e1, ',', e1, '#text', e1, ':', e1, 'NTLM V2', e1, '},',
          '{', e1, '@Name', e1, ':', e1, 'WorkstationName', e1, ',', e1, '#text', e1, ':', e1, 'WKS-', u5, e1, '}]}}')
      END, '"}') AS text,
    'windows.exporter' AS tool, ts, event_id
  FROM wxp_base
)"""

  def wxpInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, wxpCte, "wxp_turns")

  /** forescout.device_inventory — push-api ';'/':' kv inventory rows
    * (push_api_list_inventory_forescout.conf). fsel 0 wired host (aci port
    * grok, space-padded serial, seconds-as-UNIX_MS clock -> 1970),
    * 1 wireless (Irresolvable port skipped), 2 dhcp overwrite + bad clock. */
  val fsdCte: String = s"""
fsd_base AS (
  SELECT event_id, ts, user_id,
    CAST(event_id AS STRING) AS eid_s,
    CAST(user_id % 5 AS STRING) AS u5,
    CAST(FLOOR(event_id / 127.0) AS BIGINT) % 3 AS fsel,
    CAST(event_id % 250 AS STRING) AS m250
  FROM events WHERE (event_id % 127) = 126
),
fsd_turns AS (
  SELECT 'fsd_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    CASE fsel
      WHEN 0 THEN 'netbiosname:NB-HOST' || u5 || ';dns_hostname:h' || eid_s
        || '.corp.example;user_name:FsUser' || u5 || ';ad_username:aduser' || u5
        || ';online:true;ip:10.' || u5 || '.' || m250 || '.99;mac:00:1B:44:7A:BB:0' || u5
        || ';nic_vendor:Dell;function:Workstation;os:Windows 10;vendor_model:OptiPlex'
        || ';sw_port_alias:uplink-' || u5 || ';num_of_hosts_on_port:3'
        || ';segment_path:Corp/Floor' || u5 || ';serial_number: SN' || eid_s
        || ' ;timestamp:' || CAST(1614786000 + (event_id % 1000) AS STRING)
        || ';aci_ep_sw_port:eth1/' || u5 || ':4' || eid_s || chr(13)
      WHEN 1 THEN 'netbiosname:WLAN-HOST' || u5 || ';user_name:FsUser' || u5
        || ';online:true;ip:10.' || u5 || '.' || m250 || '.98;mac:00:1B:44:7A:CC:0' || u5
        || ';wlan_ap_name:AP-' || u5 || ';wlan_ctp_ip:10.0.0.250;wlan_ssid:corp-wifi'
        || ';sw_ip_port:Irresolvable;timestamp:' || CAST(1614786000 + (event_id % 1000) AS STRING)
      ELSE 'netbiosname:NB' || u5 || ';dhcp_hostname:dhcp-host-' || u5
        || ';online:false;timestamp:pending'
    END AS text,
    'forescout.device_inventory' AS tool, ts, event_id
  FROM fsd_base
)"""

  def fsdInput(spark: SparkSession, sfDir: String): DataFrame = sideInput(spark, sfDir, fsdCte, "fsd_turns")

  /** Spark-side materialization: registers `events` from `sfDir` and returns
    * the turns DataFrame (conv_id, turn_idx, role, text, tool, ts, event_id).
    * `event_id` rides along for deterministic re-derivation in oracles; the
    * engine itself only consumes the 6 input_hint columns.
    *
    * The ANALYZED PLAN is memoized per (live session, sfDir) — parsing +
    * analyzing this ~6.5k-line CTE costs ~0.2 s of single-threaded driver
    * time per call (guide §7.3) and the bench/driver construct it several
    * times per session. DataFrames resolve their source eagerly at
    * creation, so a cached plan stays bound to ITS sfDir even after the
    * `events` temp view is re-pointed. No data is cached — every action
    * still evaluates the generator from the parquet input. Every call,
    * cache hit or not, points `events` at `sfDir`, as the side inputs do.
    * A hit returns the SAME DataFrame (same exprIds), so two calls are one
    * plan to the analyzer: a caller that joins two inputs, including a
    * self-join of this one, must `alias` each side. */
  @volatile private var dfCache: List[(SparkSession, String, DataFrame)] = Nil
  def df(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    dfCache = dfCache.filter(e => !e._1.sparkContext.isStopped)
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("events")
    dfCache.find(e => (e._1 eq spark) && e._2 == sfDir) match {
      case Some((_, _, cached)) => cached
      case None =>
        val out = spark.sql(s"WITH $cte SELECT * FROM turns")
        dfCache = (spark, sfDir, out) :: dfCache
        out
    }
  }

  /** The 6-column input exactly as input_hint specifies. */
  def input(spark: SparkSession, sfDir: String): DataFrame =
    df(spark, sfDir).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
}
