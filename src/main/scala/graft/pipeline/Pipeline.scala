package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.Dicts
import org.apache.spark.sql.graft.GraftParse

/** Spark wiring of the engine (SURVEY.md §3.1 "Spark equivalent of the whole
  * of A"): read → conv_id exchange → ONE fused kernel node (GraftParse:
  * parse+enrich with broadcasts) → per-sink filtered writes → grouped
  * counts. The record-level stages are narrow; the only shuffles are the
  * conv_id exchange under a row-mode kernel and the final aggregations. A
  * counts query has no conv_id exchange: it plans scan → counts kernel →
  * partial count in one stage, then the aggregate exchange. By design,
  * those plan shapes survive a 100× scale-up unchanged.
  */
object Pipeline {

  @volatile private var cachedBc: Option[(SparkSession, Broadcast[Dicts])] = None

  /** Broadcast the dictionaries once per session (translate/geoip/dns/misp
    * tables; SURVEY.md §2.4), register the GraftParse planner and pruning
    * rule on the session, and install the fork-free `file:` FileContext
    * ([[graft.io.LocalFs]]) under the session's streaming checkpoints. */
  def dictsBroadcast(spark: SparkSession): Broadcast[Dicts] = synchronized {
    GraftParse.register(spark)
    installLocalFs(spark)
    cachedBc match {
      case Some((s, bc)) if s eq spark => bc
      case _ =>
        // the IOC store is BUILT by the ported misp.metrics feeder job
        // (MispFeeder) — bit-identical to the synthetic table, proven by
        // MispFeederSpec, so consumers are unaffected by the load path; the
        // store then IS Dicts.build().misp, so the JVM holds one misp table
        val bc = spark.sparkContext.broadcast(
          Dicts.build().copy(misp = MispFeeder.store(spark)))
        cachedBc = Some((spark, bc))
        bc
    }
  }

  private val fileFsKey = "fs.AbstractFileSystem.file.impl"

  /** Session confs reach every Hadoop conf the session builds
    * (`sessionState.newHadoopConf()`), so every streaming checkpoint file
    * manager, executor-side state stores included, writes through
    * [[graft.io.LocalFs]]. A value the user set, as a session conf or in
    * the Hadoop configuration, wins. */
  private def installLocalFs(spark: SparkSession): Unit = {
    val sources = spark.sparkContext.hadoopConfiguration.getPropertySources(fileFsKey)
    val userSet = spark.conf.getOption(fileFsKey).isDefined ||
      (sources != null && !sources.forall(_ == "core-default.xml"))
    if (!userSet) spark.conf.set(fileFsKey, classOf[graft.io.LocalFs].getName)
  }

  /** Input DataFrame with the 6 input_hint columns → parsed: the
    * [[org.apache.spark.sql.graft.GraftParse]] kernel node at full width.
    * The optimizer narrows it to the columns the query reads and picks the
    * counts-only, masked or full kernel from them, so
    * `sinkCounts(parseDf(df))` runs the counts-only kernel. */
  def parseDf(spark: SparkSession, df: DataFrame): DataFrame =
    parseRows(spark, df, emitDropped = false)

  /** Pre-kernel input prep shared by every row-kernel entry point: project
    * to the 6 input_hint columns (drives parquet column pruning) and
    * hash-repartition on conv_id to the executor parallelism.
    *
    * The exchange serves the row modes (full and masked): it gives Sink
    * its chunk layout and keeps a conversation's rows on one task. The
    * counts kernel is per row and reads neither conv_id nor turn_idx, so
    * GraftParse's pruning rule removes this exchange under a counts node
    * and the scan reads role, text, tool and ts only.
    *
    * EXPLICIT partitioning (north rule): without it, AQE right-sizes the
    * upstream shuffle by BYTES and coalesces a small input to ~1 partition
    * — correct for scans, wrong for a compute-bound parse stage (measured:
    * 8→32 cores gained only 1.03× before the fix). At 100 TB the same line
    * keeps hot conversations co-located and the kernel parallelism pinned
    * to the cluster width. */
  private[graft] def parseInput(spark: SparkSession, df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .repartition(p, col("conv_id"))
  }

  /** Row-level kernel with optional dropped-turn marker rows (Sink's
    * single-pass conservation accounting). */
  def parseRows(spark: SparkSession, df: DataFrame, emitDropped: Boolean): DataFrame =
    GraftParse.dataFrame(parseInput(spark, df), emitDropped, dictsBroadcast(spark))

  /** `parseDf(df).select(cols)`: the kernel flattens only `cols` (the
    * masked mode), or skips enrichment and flatten when `cols` are all
    * counts columns. */
  def parseDfSelect(spark: SparkSession, df: DataFrame, cols: Seq[String]): DataFrame =
    parseDf(spark, df).select(cols.map(col): _*)

  /** `sinkCounts(parseDf(df))`, which plans the counts-only kernel (see
    * Engine.parseCardinality). q05f's oracle is the SAME SQL as q05's. */
  def sinkCountsFromInput(spark: SparkSession, df: DataFrame): DataFrame =
    sinkCounts(parseDf(spark, df))

  /** North-rule aggregate: per-sink grouped counts by
    * (technology, role, tool, event-time bucket) — Catalyst-native
    * partial+final hash aggregation (SURVEY.md §2.6). The sink dimension
    * comes from exploding route_outputs (a row routed to 2 sinks counts in
    * both, mirroring the reference's sequential multi-sink fan-out).
    *
    * It counts first and fans out after: grouping on route_outputs, then
    * exploding each group's count, equals exploding each row first because
    * route_outputs is a function of `tool` (the technology config's
    * outputs, or `[]` on a marker row, which explodes to nothing) and no
    * config lists a sink twice. So the partial aggregate sees each row
    * once, not once per sink. */
  def sinkCounts(parsed: DataFrame): DataFrame =
    parsed
      .groupBy(col("route_outputs"), col("technology"), col("role"), col("tool"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .select(explode(col("route_outputs")).as("sink"), col("technology"), col("role"),
        col("tool"), col("y"), col("m"), col("d"), col("h"), col("cnt"))

  /** Same result via an explicit two-phase SALTED aggregation — the skew
    * defusal the north rule asks for on conv_id/technology-skewed keys
    * (SURVEY.md §2.6 salted agg row). Phase 1 groups on (key, salt) so a hot
    * key spreads over `salts` reducers; phase 2 sums the partials. */
  def sinkCountsSalted(parsed: DataFrame, salts: Int = 16): DataFrame =
    parsed
      .select(explode(col("route_outputs")).as("sink"),
        col("technology"), col("role"), col("tool"), col("ts"),
        pmod(hash(col("conv_id")), lit(salts)).as("salt"))
      .groupBy(col("sink"), col("technology"), col("role"), col("tool"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"), col("salt"))
      .agg(count(lit(1)).as("pcnt"))
      .groupBy(col("sink"), col("technology"), col("role"), col("tool"),
        col("y"), col("m"), col("d"), col("h"))
      .agg(sum(col("pcnt")).as("cnt"))
}
