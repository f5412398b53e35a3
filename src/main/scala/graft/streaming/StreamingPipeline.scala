package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftParse
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.pipeline.Pipeline

/** Structured Streaming variant of the pipeline (SURVEY.md §1.4: the
  * streaming input in the reference is Kafka; no Kafka connector jar ships
  * offline, so the source here is the file source over the same
  * transcript-table schema — the transform chain is source-agnostic).
  *
  * readStream → the SAME GraftParse kernel node as batch (a logical node
  * plans under Structured Streaming too, so the optimizer narrows it per
  * query) → watermarked tumbling-window counts per sink (the north-rule
  * aggregate, incrementalized), plus a mapGroupsWithState per-conversation
  * session operator as the custom-state surface (SURVEY.md §2.7).
  */
object StreamingPipeline {

  /** input_hint schema for the file source. */
  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  def readTurns(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(turnSchema).parquet(dir)

  /** Second streaming source form — the kafka-per-topic analogue built on
    * the deterministic rate-micro-batch source (no Kafka jar offline,
    * SURVEY.md §7.1): each tick is one datagram, synthesized through the
    * SAME generator SQL as the batch corpus (ge_txt), so the downstream
    * chain is proven source-agnostic. turn_idx carries the tick id (the
    * batch generator's ROW_NUMBER window is not streamable — the rate form
    * uses the globally unique tick instead, like a Kafka offset). */
  def rateTurns(spark: SparkSession, rowsPerBatch: Int,
                startTimestampMs: Long = 1700000000000L): DataFrame = {
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", startTimestampMs)
      .option("numPartitions", 4)
      .load()
      .createOrReplaceTempView("rate_ticks")
    spark.sql("SELECT value AS event_id, timestamp AS ts, (value % 9973) AS user_id FROM rate_ticks")
      .createOrReplaceTempView("events")
    spark.sql(s"WITH ${graft.gen.Transcripts.cteTxt} " +
      "SELECT conv_id, CAST(event_id AS INT) AS turn_idx, role, text, tool, ts FROM ge_txt")
  }

  /** Same kernel node as batch, over the stream's six input columns. There
    * is no conv_id exchange: the kernel is a per-row function, and an extra
    * shuffle per micro-batch costs more than it spreads. `sinkCounts` over
    * this runs the counts-only kernel. */
  def parse(spark: SparkSession, stream: DataFrame): DataFrame =
    GraftParse.dataFrame(stream.select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      emitDropped = false, Pipeline.dictsBroadcast(spark))

  /** North-rule aggregate, streaming form: per-sink counts by
    * (technology, role, tool, 1-hour tumbling window), with a 2-hour
    * watermark on ts. The watermark bounds state only in Update or Append
    * mode; every caller runs Complete mode, where Spark keeps every window's
    * count and evicts nothing, so state grows with the hours of history. */
  def sinkCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "2 hours")
      .select(explode(col("route_outputs")).as("sink"),
        col("technology"), col("role"), col("tool"), col("ts"))
      .groupBy(col("sink"), col("technology"), col("role"), col("tool"),
        window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-conversation running state (custom state surface):
    * tracks turns seen and parse failures per conv_id. Reads two kernel
    * columns, so the kernel runs masked. */
  final case class ConvState(turns: Long, failures: Long)
  final case class ConvUpdate(conv_id: String, turns: Long, failures: Long)

  def conversationState(spark: SparkSession, parsed: DataFrame): Dataset[ConvUpdate] = {
    import spark.implicits._
    parsed.select("conv_id", "parse_ok").as[(String, Boolean)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (conv: String, rows: Iterator[(String, Boolean)], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(0L, 0L))
          var t = prev.turns
          var f = prev.failures
          rows.foreach { case (_, ok) => t += 1; if (!ok) f += 1 }
          state.update(ConvState(t, f))
          ConvUpdate(conv, t, f)
      }
  }

  /** Run any of the above to a named in-memory sink until all available
    * input is processed (test/bench harness). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode,
                  checkpoint: String): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
