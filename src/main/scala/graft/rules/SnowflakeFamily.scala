package graft.rules

import graft.parse._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The snowflake_acc_* warehouse-view family — 41 processors sharing ONE
  * mechanism (ref: config/processors/snowflake_acc_*.conf; the first two
  * members, login_history and failed_logins, were ported by hand in
  * `ApiRules.snowflakeSignin/snowflakeFailedLogin` and stay there):
  *
  *   add_field module/dataset/hostname → [optional lowercase of message]
  *   → json into [tmp] → an ordered rename block → [optional per-conf
  *   conditional] → date blocks → remove [tmp].
  *
  * Because the shape is fixed, each member is a DATA ROW here — and the
  * rule program, the Registry entries, the deterministic test corpus
  * (portable Spark/DuckDB SQL), the Spark-side query and the DuckDB oracle
  * are all generated from the same descriptor, so a member cannot drift
  * between its implementation and its oracle.
  *
  * Faithfully mirrored reference quirks (each encoded in the oracles):
  *  - `snowflake_acc_roles.conf` renames deleted_on → [event][end] but has
  *    NO date block for it, so the string survives to 02_ecs_data_type's
  *    unparsed-date pass, which removes it and tags `_dateparsefailure_ee`
  *    → event_end_ms is always NULL for snowflake.roles.
  *  - `snowflake_acc_stages.conf` renames LAST_ALTERED → [event][modified]
  *    with no date block; [event][modified] is NOT in 02's unparsed-date
  *    list either, so the raw ISO string sits in the field and the
  *    event_modified_ms column (a long) flattens to NULL.
  *  - `snowflake_acc_query_history.conf:39-47` converts execution_time to
  *    float then multiplies by ruby `10e6` — which is 1e7, not 1e6 (the
  *    reference's ms→tenth-of-microsecond bug, kept verbatim).
  *  - `snowflake_acc_key_pair_auth.conf` / `mfa_exist.conf` rename both
  *    USER_NAME and NAME onto [database][user][name]: the later rename wins.
  *  - the integration_monitoring/key_management/scim_access_token/
  *    user_creation quartet renames both SCHEMA_ID and SESSION_ID onto
  *    [event][id]: SESSION_ID wins.
  *  - float-valued metrics renamed onto enumerated long paths
  *    (metering_history credits_used, stage_storage average_stage_bytes,
  *    warehouse_load avg_running) are DELETED by 02's coerce-or-remove.
  */
object SnowflakeFamily {

  // ---------------------------------------------------------------- model
  sealed trait VKind
  case object VStr extends VKind
  case object VIp extends VKind
  /** ISO timestamp drawn from ts slot 0/1/2 (ts, ts+67s, ts+131s). */
  final case class VDate(slot: Int) extends VKind
  /** Integer-string payload → 02 coerces to Long (salt keeps fields distinct). */
  final case class VLong(salt: Int) extends VKind
  /** Float-string payload on an enumerated long path → 02 removes it. */
  case object VFloatDies extends VKind
  /** Integer-string on [event][duration]: coerced to Long, flattened "n". */
  case object VIntStr extends VKind
  /** query_history execution_time: convert float + ruby ×10e6 (=1e7). */
  case object VDuration extends VKind

  final case class R(key: String, target: String, kind: VKind = VStr)

  final case class Member(
    short: String, // query suffix + conv_id prefix
    tech: String,
    conf: String, // reference conf basename (citation)
    hostname: String,
    lower: Boolean,
    renames: Vector[R],
    dates: Vector[(String, Vector[String], String)]) // (target, formats, tag)

  private val ISO = Vector("ISO8601")
  private val ISOD = Vector("ISO8601", "yyyy-MM-dd")

  // The four "query audit view" members share this rename block.
  private def queryAuditRenames: Vector[R] = Vector(
    R("QUERY_ID", "[database][user][id]"),
    R("QUERY_TEXT", "[database][instance]"),
    R("DATABASE_NAME", "[database][name]"),
    R("SCHEMA_ID", "[event][id]"),
    R("QUERY_TYPE", "[event][type]"),
    R("SESSION_ID", "[event][id]"), // overwrites SCHEMA_ID (conf order)
    R("USER_NAME", "[user][name]"),
    R("ROLE_NAME", "[user][roles]"),
    R("EXECUTION_STATUS", "[event][outcome]"),
    R("START_TIME", "[event][start]", VDate(0)),
    R("END_TIME", "[event][end]", VDate(1)),
    R("ERROR_CODE", "[error][code]"))

  // The "role activity" quartet shares this one.
  private def roleActivityRenames: Vector[R] = Vector(
    R("END_TIME", "[event][end]", VDate(1)),
    R("START_TIME", "[event][start]", VDate(0)),
    R("ROLE_NAME", "[user][roles]"),
    R("USER_NAME", "[database][user][name]"),
    R("QUERY_TEXT", "[database][instance]"))

  private def sesDates = Vector(("[event][start]", ISO, "_dateparsefailure_es"),
    ("[event][end]", ISO, "_dateparsefailure_ee"))

  val members: Vector[Member] = Vector(
    Member("access_history", "snowflake.access_history",
      "snowflake_acc_access_history.conf", "sql_snowflake_access_history", lower = false,
      Vector(R("QUERY_ID", "[database][user][id]"),
        R("QUERY_START_TIME", "[event][start]", VDate(0)),
        R("USER_NAME", "[user][name]")),
      Vector(("[event][start]", ISO, "_dateparsefailure_es"))),
    Member("admin_role_activity", "snowflake.admin_role_activity",
      "snowflake_acc_admin_role_activity.conf", "sql_snowflake_admin_role_activity",
      lower = false, roleActivityRenames, sesDates),
    Member("columns", "snowflake.columns",
      "snowflake_acc_columns.conf", "sql_snowflake_columns", lower = false,
      Vector(R("DELETED", "[event][end]", VDate(1)),
        R("COLUMN_NAME", "[database][field_names]"),
        R("TABLE_NAME", "[database][table]"),
        R("TABLE_CATALOG", "[database][name]"),
        R("COMMENT", "[rule][description]")),
      Vector(("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("copy_history", "snowflake.copy_history",
      "snowflake_acc_copy_history.conf", "sql_snowflake_copy_history", lower = false,
      Vector(R("FILE_NAME", "[file][name]"),
        R("STAGE_LOCATION", "[file][path]"),
        R("LAST_LOAD_TIME", "[event][end]", VDate(1)),
        R("FILE_SIZE", "[file][size]", VLong(37)),
        R("FIRST_ERROR_MESSAGE", "[error][message]"),
        R("STATUS", "[event][outcome]"),
        R("TABLE_NAME", "[database][table]"),
        R("TABLE_CATALOG_NAME", "[database][name]")),
      Vector(("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("data_transfer_history", "snowflake.data_transfer_history",
      "snowflake_acc_data_transfer_history.conf", "sql_snowflake_data_transfer_history",
      lower = false,
      Vector(R("START_TIME", "[event][start]", VDate(0)),
        R("END_TIME", "[event][end]", VDate(1)),
        R("SOURCE_REGION", "[cloud][region]"),
        R("BYTES_TRANSFERRED", "[network][bytes]", VLong(53))),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("db_storage_usage", "snowflake.database_storage_usage_history",
      "snowflake_acc_database_storage_usage_history.conf", "sql_snowflake_db_storage_usage",
      lower = false,
      Vector(R("USAGE_DATE", "[event][start]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("DATABASE_NAME", "[database][name]"),
        R("DATABASE_ID", "[database][instance]")),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("databases", "snowflake.databases",
      "snowflake_acc_databases.conf", "sql_snowflake_databases", lower = true,
      Vector(R("DATABASE_NAME", "[database][name]"),
        R("CREATED", "[event][created]", VDate(0)),
        R("LAST_ALTERED", "[event][modified]", VDate(1)),
        R("DATABASE_ID", "[database][instance]")),
      Vector(("[event][created]", ISO, "_dateparsefailure_ec"),
        ("[event][modified]", ISO, "_dateparsefailure_em"))),
    Member("event_usage_history", "snowflake.event_usage_history",
      "snowflake_acc_event_usage_history.conf", "sql_snowflake_event_usage_history",
      lower = false,
      Vector(R("START_TIME", "[event][start]", VDate(0)),
        R("END_TIME", "[event][end]", VDate(1)),
        R("BYTES_INGESTED", "[source][bytes]", VLong(71))),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("functions", "snowflake.functions",
      "snowflake_acc_functions.conf", "sql_snowflake_functions", lower = false,
      Vector(R("FUNCTION_ID", "[rule][id]"),
        R("FUNCTION_NAME", "[rule][name]"),
        R("FUNCTION_CATALOG_ID", "[database][instance]"),
        R("FUNCTION_OWNER", "[rule][author]"),
        R("FUNCTION_CATALOG", "[database][name]"),
        R("CREATED", "[event][created]", VDate(0)),
        R("LAST_ALTERED", "[event][modified]", VDate(1)),
        R("DELETED", "[event][end]", VDate(2))),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("grants_to_public", "snowflake.grants_to_public",
      "snowflake_acc_grants_to_public.conf", "sql_snowflake_grants_to_public",
      lower = false, roleActivityRenames, sesDates),
    Member("grants_to_roles", "snowflake.grants_to_roles",
      "snowflake_acc_grants_to_roles.conf", "sql_snowflake_grants_to_roles", lower = true,
      Vector(R("CREATED_ON", "[event][start]", VDate(0)),
        R("NAME", "[user][name]"),
        R("MODIFIED_ON", "[event][modified]", VDate(1))),
      Vector(("[event][start]", ISO, "_dateparsefailure_es"),
        ("[event][modified]", ISO, "_dateparsefailure_em"))),
    Member("grants_to_users", "snowflake.grants_to_users",
      "snowflake_acc_grants_to_users.conf", "sql_snowflake_grants_to_users", lower = false,
      Vector(R("ROLE", "[user][roles]"),
        R("GRANTED_TO", "[client][user][title]"),
        R("GRANTEE_NAME", "[host][user][title]"),
        R("GRANTED_BY", "[host][user][roles]"),
        R("CREATED_ON", "[event][created]", VDate(0)),
        R("DELETED_ON", "[event][end]", VDate(1))),
      Vector(("[event][created]", ISO, "_dateparsefailure_ec"),
        ("[event][end]", ISO, "_dateparsefailure_ee"))),
    Member("integration_monitoring", "snowflake.integration_monitoring",
      "snowflake_acc_integration_monitoring.conf", "sql_snowflake_integration_monitoring",
      lower = false, queryAuditRenames, sesDates),
    Member("key_management", "snowflake.key_management",
      "snowflake_acc_key_management.conf", "sql_snowflake_key_management",
      lower = false, queryAuditRenames, sesDates),
    Member("key_pair_auth", "snowflake.key_pair_auth",
      "snowflake_acc_key_pair_auth.conf", "sql_snowflake_key_pair_auth", lower = false,
      Vector(R("EVENT_TIMESTAMP", "[event][start]", VDate(0)),
        R("ROLE_NAME", "[user][roles]"),
        R("USER_NAME", "[database][user][name]"),
        R("FIRST_AUTHENTICATION_FACTOR", "[event][category]"),
        R("NAME", "[database][user][name]")), // overwrites USER_NAME (conf order)
      Vector(("[event][start]", ISO, "_dateparsefailure_es"))),
    Member("load_history", "snowflake.load_history",
      "snowflake_acc_load_history.conf", "sql_snowflake_load_history", lower = false,
      Vector(R("FILE_NAME", "[file][name]"),
        R("TABLE_NAME", "[database][table]"),
        R("STATUS", "[event][outcome]"),
        R("LAST_LOAD_TIME", "[event][modified]", VDate(1)),
        R("FIRST_ERROR_MESSAGE", "[error][message]"),
        R("CATALOG_NAME", "[database][name]")),
      Vector(("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("masking_policies", "snowflake.masking_policies",
      "snowflake_acc_masking_policies.conf", "sql_snowflake_masking_policies", lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)),
        R("POLICY_NAME", "[rule][name]"),
        R("POLICY_CATALOG", "[database][name]"),
        R("POLICY_CATALOG_ID", "[database][instance]"),
        R("POLICY_ID", "[rule][id]"),
        R("POLICY_OWNER", "[rule][author]"),
        R("POLICY_COMMENT", "[rule][description]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("metering_daily_history", "snowflake.metering_daily_history",
      "snowflake_acc_metering_daily_history.conf", "sql_snowflake_metering_daily_history",
      lower = true,
      Vector(R("USAGE_DATE", "[event][start]", VDate(0)),
        R("SERVICE_TYPE", "[service][type]"),
        R("WAREHOUSE_ID", "[rule][id]"),
        R("WAREHOUSE_NAME", "[rule][name]")),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"))),
    Member("metering_history", "snowflake.metering_history",
      "snowflake_acc_metering_history.conf", "sql_snowflake_metering_history", lower = true,
      Vector(R("SERVICE_TYPE", "[service][type]"),
        R("CREDITS_USED", "[host][disk][read][bytes]", VFloatDies),
        R("USAGE_DATE", "[event][start]", VDate(0))),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"))),
    Member("mfa_exist", "snowflake.mfa_exist",
      "snowflake_acc_mfa_exist.conf", "sql_snowflake_mfa_exist", lower = false,
      Vector(R("EVENT_TIMESTAMP", "[event][start]", VDate(0)),
        R("ROLE_NAME", "[user][roles]"),
        R("USER_NAME", "[database][user][name]"),
        R("FIRST_AUTHENTICATION_FACTOR", "[event][category]"),
        R("NAME", "[database][user][name]")),
      Vector(("[event][start]", ISO, "_dateparsefailure_es"))),
    Member("procedures", "snowflake.procedures",
      "snowflake_acc_procedures.conf", "sql_snowflake_procedures", lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)),
        R("PROCEDURE_CATALOG", "[database][name]"),
        R("PROCEDURE_NAME", "[rule][name]"),
        R("PROCEDURE_OWNER", "[rule][author]"),
        R("COMMENT", "[rule][description]"),
        R("PACKAGES", "[package][type]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("query_history", "snowflake.query_history",
      "snowflake_acc_query_history.conf", "sql_snowflake_query_history", lower = true,
      Vector(R("QUERY_ID", "[rule][id]"),
        R("QUERY_TEXT", "[rule][description]"),
        R("DATABASE_NAME", "[database][name]"),
        R("SESSION_ID", "[event][id]"),
        R("USER_NAME", "[user][name]"),
        R("ROLE_NAME", "[user][roles]"),
        R("WAREHOUSE_NAME", "[rule][name]"),
        R("QUERY_TYPE", "[rule][category]"),
        R("ERROR_CODE", "[error][id]"),
        R("ERROR_MESSAGE", "[error][message]"),
        R("EXECUTION_STATUS", "[event][outcome]"),
        R("START_TIME", "[event][start]", VDate(0)),
        R("END_TIME", "[event][end]", VDate(1)),
        R("EXECUTION_TIME", "[event][duration]", VDuration),
        R("BYTES_SCANNED", "[host][disk][read][bytes]", VLong(91))),
      sesDates),
    Member("rest_event_history", "snowflake.rest_event_history",
      "snowflake_acc_rest_event_history.conf", "sql_snowflake_rest_event_history",
      lower = false,
      Vector(R("EVENT_TIMESTAMP", "[event][created]", VDate(0)),
        R("EVENT_ID", "[event][id]"),
        R("EVENT_TYPE", "[event][type]"),
        R("ENDPOINT", "[event][kind]"),
        R("METHOD", "[http][request][method]"),
        R("STATUS", "[event][outcome]"),
        R("ERROR_CODE", "[error][code]"),
        R("DETAILS", "[event][original]"),
        R("CLIENT_IP", "[client][ip]", VIp),
        R("ACTOR_NAME", "[client][user][name]"),
        R("ACTOR_DOMAIN", "[client][domain]"),
        R("RESOURCE_DOMAIN", "[source][domain]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"))),
    Member("role_activity", "snowflake.role_activity",
      "snowflake_acc_role_activity.conf", "sql_snowflake_role_activity",
      lower = false, roleActivityRenames, sesDates),
    Member("roles", "snowflake.roles",
      "snowflake_acc_roles.conf", "sql_snowflake_roles", lower = true,
      Vector(R("CREATED_ON", "[event][start]", VDate(0)),
        R("NAME", "[user][name]"),
        R("DELETED_ON", "[event][end]", VDate(1))), // NO date block → 02 removes+tags
      Vector(("[event][start]", ISO, "_dateparsefailure_es"))),
    Member("row_access_policies", "snowflake.row_access_policies",
      "snowflake_acc_row_access_policies.conf", "sql_snowflake_row_access_policies",
      lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)),
        R("POLICY_CATALOG", "[database][name]"),
        R("POLICY_CATALOG_ID", "[database][instance]"),
        R("POLICY_ID", "[rule][id]"),
        R("POLICY_NAME", "[rule][name]"),
        R("POLICY_OWNER", "[rule][author]"),
        R("POLICY_COMMENT", "[rule][description]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("schemata", "snowflake.schemata",
      "snowflake_acc_schemata.conf", "sql_snowflake_schemata", lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)),
        R("CATALOG_NAME", "[database][name]"),
        R("CATALOG_ID", "[database][instance]"),
        R("SCHEMA_NAME", "[rule][name]"),
        R("SCHEMA_OWNER", "[rule][author]"),
        R("COMMENT", "[rule][description]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("scim_access_token", "snowflake.scim_access_token",
      "snowflake_acc_scim_access_token.conf", "sql_snowflake_scim_access_token",
      lower = false, queryAuditRenames, sesDates),
    Member("serverless_task_history", "snowflake.serverless_task_history",
      "snowflake_acc_serverless_task_history.conf", "sql_snowflake_serverless_task_history",
      lower = false,
      Vector(R("START_TIME", "[event][start]", VDate(0)),
        R("END_TIME", "[event][end]", VDate(1)),
        R("DATABASE_NAME", "[database][name]"),
        R("DATABASE_ID", "[database][instance]"),
        R("TASK_NAME", "[rule][name]"),
        R("TASK_ID", "[rule][id]")),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("sessions", "snowflake.sessions",
      "snowflake_acc_sessions.conf", "sql_snowflake_sessions", lower = true,
      Vector(R("LOGIN_EVENT_ID", "[event][id]"),
        R("DATABASE_NAME", "[database][name]"),
        R("CREATED_ON", "[event][created]", VDate(0)),
        R("USER_NAME", "[user][name]")),
      Vector(("[event][created]", ISO, "_dateparsefailure_ec"))),
    Member("stage_storage_usage", "snowflake.stage_storage_usage_history",
      "snowflake_acc_stage_storage_usage_history.conf", "sql_snowflake_stage_storage_usage",
      lower = true,
      Vector(R("USAGE_DATE", "[event][start]", VDate(0)),
        R("AVERAGE_STAGE_BYTES", "[host][disk][read][bytes]", VFloatDies)),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"))),
    Member("stages", "snowflake.stages",
      "snowflake_acc_stages.conf", "sql_snowflake_stages", lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)), // no date block → raw string, NULL ms
        R("STAGE_CATALOG", "[database][name]"),
        R("STAGE_CATALOG_ID", "[database][instance]"),
        R("STAGE_URL", "[rule][reference]"),
        R("STAGE_ID", "[rule][id]"),
        R("STAGE_TYPE", "[rule][category]"),
        R("STAGE_NAME", "[rule][name]"),
        R("STAGE_OWNER", "[rule][author]"),
        R("COMMENT", "[rule][description]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("storage_usage", "snowflake.storage_usage",
      "snowflake_acc_storage_usage.conf", "sql_snowflake_storage_usage", lower = false,
      Vector(R("USAGE_DATE", "[event][start]", VDate(0)),
        R("STORAGE_BYTES", "[host][disk][read][bytes]", VLong(113))),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"))),
    Member("tables", "snowflake.tables",
      "snowflake_acc_tables.conf", "sql_snowflake_tables", lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)),
        R("COMMIT_ACTION", "[event][action]"),
        R("RETENTION_TIME", "[event][duration]", VIntStr),
        R("TABLE_NAME", "[database][table]"),
        R("TABLE_CATALOG", "[database][name]"),
        R("TABLE_CATALOG_ID", "[database][instance]"),
        R("BYTES", "[network][bytes]", VLong(127)),
        R("TABLE_OWNER", "[rule][author]"),
        R("COMMENT", "[rule][description]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("task_history", "snowflake.task_history",
      "snowflake_acc_task_history.conf", "sql_snowflake_task_history", lower = false,
      Vector(R("SCHEDULED_TIME", "[event][start]", VDate(0)),
        R("COMPLETED_TIME", "[event][end]", VDate(1)),
        R("STATE", "[event][outcome]"),
        R("ERROR_CODE", "[error][code]"),
        R("ERROR_MESSAGE", "[error][message]"),
        R("DATABASE_NAME", "[database][name]"),
        R("TASK_DATABASE_ID", "[database][instance]"),
        R("QUERY_ID", "[rule][id]"),
        R("NAME", "[rule][name]")),
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))),
    Member("user_activity", "snowflake.user_activity",
      "snowflake_acc_user_activity.conf", "sql_snowflake_user_activity",
      lower = false, roleActivityRenames, sesDates),
    Member("user_creation", "snowflake.user_creation",
      "snowflake_acc_user_creation_modification.conf", "sql_snowflake_user_creation",
      lower = false, queryAuditRenames, sesDates),
    Member("users", "snowflake.users",
      "snowflake_acc_users.conf", "sql_snowflake_users", lower = true,
      Vector(R("EMAIL", "[database][user][email]"),
        R("CREATED_ON", "[event][start]", VDate(0)),
        R("LOGIN_NAME", "[database][user][full_name]"),
        R("DISPLAY_NAME", "[database][user][name]"),
        R("EXPIRES_AT", "[event][end]", VDate(1))),
      sesDates),
    Member("views", "snowflake.views",
      "snowflake_acc_views.conf", "sql_snowflake_views", lower = false,
      Vector(R("CREATED", "[event][created]", VDate(0)),
        R("DELETED", "[event][end]", VDate(1)),
        R("LAST_ALTERED", "[event][modified]", VDate(2)),
        R("COMMIT_ACTION", "[event][action]"),
        R("TABLE_NAME", "[database][table]"),
        R("TABLE_CATALOG", "[database][name]"),
        R("TABLE_CATALOG_ID", "[database][instance]"),
        R("TABLE_OWNER", "[rule][author]")),
      Vector(("[event][created]", ISOD, "_dateparsefailure_ec"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"),
        ("[event][modified]", ISOD, "_dateparsefailure_em"))),
    Member("warehouse_events", "snowflake.warehouse_events_history",
      "snowflake_acc_warehouse_events_history.conf", "sql_snowflake_warehouse_events_history",
      lower = true,
      Vector(R("EVENT_NAME", "[event][type]"),
        R("EVENT_REASON", "[event][reason]"),
        R("TIMESTAMP", "[event][start]", VDate(0)),
        R("USER_NAME", "[user][name]"),
        R("EVENT_STATE", "[event][outcome]"),
        R("ROLE_NAME", "[user][roles]")),
      Vector(("[event][start]", ISO, "_dateparsefailure_es"))),
    Member("warehouse_load", "snowflake.warehouse_load_history",
      "snowflake_acc_warehouse_load_history.conf", "sql_snowflake_warehouse_load_history",
      lower = true,
      Vector(R("START_TIME", "[event][start]", VDate(0)),
        R("END_TIME", "[event][end]", VDate(1)),
        R("WAREHOUSE_ID", "[rule][id]"),
        R("WAREHOUSE_NAME", "[rule][name]"),
        R("AVG_RUNNING", "[event][duration]", VFloatDies)), // float → 02 removes
      Vector(("[event][start]", ISOD, "_dateparsefailure_es"),
        ("[event][end]", ISOD, "_dateparsefailure_ee"))))

  // ------------------------------------------------------- rule programs
  def program(m: Member): Program = Program { (ev, _) =>
    ev.set("[event][module]", "snowflake")
    ev.set("[event][dataset]", m.tech)
    ev.set("[log][source][hostname]", m.hostname)
    if (m.lower) Mutate.lowercase(ev, "message")
    if (!JsonOps.parse(ev, "message", "tmp")) {
      ev.set("[agent][parse_rule]", "not parsed")
      ev.addTag("_parse_failure")
    } else {
      ev.set("[agent][parse_rule]", "Rule 1")
      // lower-members' confs address the already-lowercased keys
      m.renames.foreach { r =>
        val k = if (m.lower) r.key.toLowerCase else r.key
        ev.rename("[tmp][" + k + "]", r.target)
      }
      if (m.renames.exists(_.kind == VDuration) && ev.has("[event][duration]")) {
        // ref snowflake_acc_query_history.conf:39-47: convert float, then
        // ruby `* 10e6` — Ruby 10e6 is 1e7; mirrored verbatim
        Mutate.convert(ev, "[event][duration]", "float")
        ev.get("[event][duration]") match {
          case Some(d: Double) => ev.set("[event][duration]", d * 1e7)
          case _ => ()
        }
      }
      m.dates.foreach { case (tgt, fmts, tag) =>
        if (Dates(ev, tgt, fmts, tgt.dropRight(1) + "_ms]",
          timezone = "GMT", locale = "en", tagOnFailure = Seq(tag)))
          ev.remove(tgt)
      }
      ev.remove("tmp")
    }
  }

  val programs: Map[String, Program] =
    members.map(m => m.tech -> program(m)).toMap

  val configs: Map[String, TechnologyConfig] =
    members.map(m => m.tech -> TechnologyConfig(
      m.tech, "logs-" + m.tech, Vector("elastic"), Set.empty, "low")).toMap

  // ------------------------------------------------ corpus + oracle codegen
  /** Target path → (flattened column, type S=string, L=long, A=string array). */
  private val colOf: Map[String, (String, Char)] = Map(
    "[event][type]" -> ("event_type", 'S'),
    "[event][id]" -> ("event_id_s", 'S'),
    "[event][kind]" -> ("event_kind", 'S'),
    "[event][outcome]" -> ("event_outcome", 'S'),
    "[event][category]" -> ("event_category", 'S'),
    "[event][action]" -> ("event_action", 'S'),
    "[event][reason]" -> ("event_reason", 'S'),
    "[event][original]" -> ("event_original", 'S'),
    "[event][duration]" -> ("event_duration", 'S'),
    "[event][start]" -> ("event_start_ms", 'L'),
    "[event][end]" -> ("event_end_ms", 'L'),
    "[event][created]" -> ("event_created_ms", 'L'),
    "[event][modified]" -> ("event_modified_ms", 'L'),
    "[user][name]" -> ("user_name", 'S'),
    "[user][roles]" -> ("user_roles", 'S'),
    "[database][name]" -> ("database_name", 'S'),
    "[database][instance]" -> ("database_instance", 'S'),
    "[database][table]" -> ("database_table", 'S'),
    "[database][field_names]" -> ("database_field_names", 'S'),
    "[database][user][name]" -> ("database_user_name", 'S'),
    "[database][user][id]" -> ("database_user_id", 'S'),
    "[database][user][email]" -> ("database_user_email", 'S'),
    "[database][user][full_name]" -> ("database_user_full_name", 'S'),
    "[rule][id]" -> ("rule_id", 'S'),
    "[rule][name]" -> ("rule_name", 'S'),
    "[rule][category]" -> ("rule_category", 'S'),
    "[rule][description]" -> ("rule_description", 'S'),
    "[rule][reference]" -> ("rule_reference", 'S'),
    "[rule][author]" -> ("rule_author", 'A'),
    "[error][code]" -> ("error_code", 'S'),
    "[error][id]" -> ("error_id", 'S'),
    "[error][message]" -> ("error_message", 'S'),
    "[file][name]" -> ("file_name", 'S'),
    "[file][path]" -> ("file_path", 'S'),
    "[file][size]" -> ("file_size", 'L'),
    "[client][ip]" -> ("client_ip", 'S'),
    "[client][user][title]" -> ("client_user_title", 'S'),
    "[client][user][name]" -> ("client_user_name", 'S'),
    "[client][domain]" -> ("client_domain", 'S'),
    "[host][user][title]" -> ("host_user_title", 'S'),
    "[host][user][roles]" -> ("host_user_roles", 'S'),
    "[host][disk][read][bytes]" -> ("host_disk_read_bytes", 'L'),
    "[cloud][region]" -> ("cloud_region", 'S'),
    "[network][bytes]" -> ("network_bytes", 'L'),
    "[source][bytes]" -> ("source_bytes", 'L'),
    "[source][domain]" -> ("source_domain", 'S'),
    "[service][type]" -> ("service_type", 'S'),
    "[package][type]" -> ("package_type", 'S'),
    "[http][request][method]" -> ("http_request_method", 'S'))

  /** 07_lowercase membership — read from the SAME resource the enrichment
    * chain uses, so oracle expectations cannot drift from the engine. */
  private lazy val e07Paths: Set[String] = {
    val in = getClass.getResourceAsStream("/dicts/lowercase_paths.txt")
    require(in != null, "missing dicts/lowercase_paths.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toSet finally src.close()
  }

  private def isoSecOf(c: String): String =
    s"""LPAD(CAST(EXTRACT(YEAR FROM $c) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM $c) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM $c) AS STRING), 2, '0') || 'T'
      || LPAD(CAST(EXTRACT(HOUR FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(EXTRACT(MINUTE FROM $c) AS STRING), 2, '0') || ':'
      || LPAD(CAST(CAST(FLOOR(EXTRACT(SECOND FROM $c)) AS INT) AS STRING), 2, '0')"""

  private def dayOf(c: String): String =
    s"""LPAD(CAST(EXTRACT(YEAR FROM $c) AS STRING), 4, '0') || '-'
      || LPAD(CAST(EXTRACT(MONTH FROM $c) AS STRING), 2, '0') || '-'
      || LPAD(CAST(EXTRACT(DAY FROM $c) AS STRING), 2, '0')"""

  private def tsCol(slot: Int): String = slot match {
    case 0 => "ts"; case 1 => "ts1"; case _ => "ts2"
  }

  /** Does the member's date block for `target` accept the date-only form? */
  private def dateOnlyAllowed(m: Member, target: String): Boolean =
    m.dates.exists(d => d._1 == target && d._2.contains("yyyy-MM-dd"))

  /** The JSON payload value for one rename entry — SQL over the base CTE
    * columns (`p` = column prefix: "" inside the CTE, "b." in oracles). */
  private def valueSql(m: Member, r: R, p: String): String = r.kind match {
    case VStr => s"'V${r.key}_' || ${p}eid_s"
    case VIp => s"'8.' || CAST(${p}user_id % 200 AS STRING) || '.' || " +
      s"CAST(${p}event_id % 250 AS STRING) || '.' || CAST(1 + (${p}event_id % 254) AS STRING)"
    case VDate(slot) =>
      val c = p + tsCol(slot)
      val full = s"${isoSecOf(c)} || '.' || LPAD(CAST(${p}event_id % 1000 AS STRING), 3, '0') || 'Z'"
      if (dateOnlyAllowed(m, r.target))
        s"CASE WHEN (${p}event_id % 3) = 0 THEN ${dayOf(c)} ELSE $full END"
      else full
    case VLong(salt) => s"CAST($salt + (${p}event_id % 900000) AS STRING)"
    case VFloatDies => s"CAST(${p}event_id % 100 AS STRING) || '.25'"
    case VIntStr => s"CAST(1 + (${p}event_id % 90) AS STRING)"
    case VDuration => s"CAST(1 + (${p}event_id % 99) AS STRING)"
  }

  /** What the flattened column holds after the full enrichment chain. */
  private def expectedSql(m: Member, r: R): String = {
    val lowered = m.lower || e07Paths.contains(r.target)
    r.kind match {
      case VStr | VIp =>
        val v = valueSql(m, r, "b.")
        if (lowered && r.kind == VStr) s"LOWER($v)" else v
      case VDate(slot) =>
        if (!m.dates.exists(_._1 == r.target)) colOf(r.target)._2 match {
          case 'L' => "CAST(NULL AS BIGINT)" // undated string: 02 removes or l() nulls
          case _ => "CAST(NULL AS STRING)"
        } else {
          val c = "b." + tsCol(slot)
          val full = s"epoch_ms(date_trunc('second', $c)) + (b.event_id % 1000)"
          if (dateOnlyAllowed(m, r.target))
            s"CASE WHEN (b.event_id % 3) = 0 THEN epoch_ms(CAST(CAST($c AS DATE) AS TIMESTAMP)) ELSE $full END"
          else full
        }
      case VLong(salt) => s"CAST($salt + (b.event_id % 900000) AS BIGINT)"
      case VFloatDies => colOf(r.target)._2 match {
        case 'L' => "CAST(NULL AS BIGINT)"
        case _ => "CAST(NULL AS STRING)" // [event][duration]: 02 coerce-or-remove kills it
      }
      case VIntStr => s"CAST(1 + (b.event_id % 90) AS STRING)"
      case VDuration => s"CAST(CAST(1 + (b.event_id % 99) AS BIGINT) * 10000000 AS STRING)"
    }
  }

  // Filter half the events table and pick the member from the QUOTIENT so
  // member choice is independent of every value-selector modulus (ROADMAP
  // coprimality rule); mod 2 keeps ~12 rows/member even at sf0.001.
  private val corpusMod = 2

  /** Per-member deterministic corpus — portable Spark/DuckDB SQL. */
  def cteFor(i: Int, m: Member): String = {
    val json = m.renames.zipWithIndex.map { case (r, j) =>
      val head = if (j == 0) s"'{\"${r.key}\":\"' || " else s"|| '\",\"${r.key}\":\"' || "
      head + valueSql(m, r, "")
    }.mkString("\n      ") + " || '\"}'"
    s"""
snf_base AS (
  SELECT event_id, ts, user_id, CAST(event_id AS STRING) AS eid_s,
    ts + INTERVAL 67 SECOND AS ts1, ts + INTERVAL 131 SECOND AS ts2
  FROM events
  WHERE (event_id % $corpusMod) = 1
    AND (CAST(FLOOR(event_id / $corpusMod) AS BIGINT) % ${members.length}) = $i
),
snf_turns AS (
  SELECT 'sn${i}_' || CAST(user_id AS STRING) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
    'tool' AS role,
    $json AS text,
    '${m.tech}' AS tool, ts, event_id
  FROM snf_base
)"""
  }

  def input(spark: SparkSession, sfDir: String, m: Member): DataFrame = {
    val i = members.indexOf(m)
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("events")
    spark.sql(s"WITH ${cteFor(i, m)} SELECT conv_id, turn_idx, role, text, tool, ts FROM snf_turns")
  }

  /** Union of all member corpora (row-parity testing). */
  def allInput(spark: SparkSession, sfDir: String): DataFrame =
    members.map(m => input(spark, sfDir, m)).reduce(_ union _)

  /** Output targets in first-appearance order, deduped (later renames onto
    * the same target overwrite — expectation comes from the LAST one). */
  private def targetsOf(m: Member): Vector[(String, R)] = {
    val lastOf = m.renames.groupBy(_.target).map { case (t, rs) => t -> rs.last }
    m.renames.map(_.target).distinct.map(t => t -> lastOf(t))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    members.map { m =>
      val name = s"qsn_${m.short}"
      name -> { (s: SparkSession, dir: String) =>
        import org.apache.spark.sql.functions._
        val cols = Vector(
          col("conv_id"), col("turn_idx"),
          col("parse_ok").cast("int").as("parse_ok_i"),
          col("technology"), col("parse_rule"), col("event_module"),
          col("event_dataset"), col("log_source_hostname"), col("route_index"),
          col("event_created_ms")) ++
          targetsOf(m).collect {
            case (t, _) if t != "[event][created]" => colOf(t) match {
              case (c, 'A') => array_join(array_sort(col(c)), ",").as(c + "_s")
              case (c, _) => col(c)
            }
          }
        graft.pipeline.Pipeline.parseDf(s, input(s, dir, m)).toDF().select(cols: _*)
      }
    }.toMap

  val oracleSql: Map[String, String] =
    members.zipWithIndex.map { case (m, i) =>
      val created = targetsOf(m).find(_._1 == "[event][created]") match {
        case Some((_, r)) => expectedSql(m, r)
        case None => "epoch_ms(t.ts)" // 03 default: event.created = input ts
      }
      val extra = targetsOf(m).collect {
        case (t, r) if t != "[event][created]" =>
          val (c, k) = colOf(t)
          val alias = if (k == 'A') c + "_s" else c
          s"  ${expectedSql(m, r)} AS $alias"
      }.mkString(",\n")
      val extraSql = if (extra.isEmpty) "" else ",\n" + extra
      s"qsn_${m.short}" ->
        s"""WITH ${cteFor(i, m)}
SELECT t.conv_id AS conv_id, t.turn_idx AS turn_idx, 1 AS parse_ok_i,
  '${m.tech}' AS technology, 'rule 1' AS parse_rule, -- 07 lowercases [agent][parse_rule]
  'snowflake' AS event_module, '${m.tech}' AS event_dataset,
  '${m.hostname}' AS log_source_hostname,
  'logs-${m.tech}_' || strftime(t.ts, '%Y.%m.%d') AS route_index,
  $created AS event_created_ms$extraSql
FROM snf_turns t JOIN snf_base b USING (event_id)"""
    }.toMap
}
