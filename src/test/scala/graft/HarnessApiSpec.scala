package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Dicts
import graft.gen.Transcripts
import graft.pipeline.{MispFeeder, Pipeline, Sink}
import graft.streaming.StreamingPipeline

/** The engine calls `perfbench/harness` compiles against, written with the
  * harness's argument shapes. The harness builds separately, so without
  * this file a changed signature shows up only as a failed benchmark run;
  * with it, `sbt test` stops at compile time. Nothing here runs Spark. */
class HarnessApiSpec extends AnyFunSuite {

  /** Never called: it only has to type-check. */
  private def harnessCalls(spark: SparkSession, input: DataFrame, dir: String): Seq[Any] = {
    // set-up (Runner): results discarded
    Dicts.build()
    MispFeeder.store(spark)
    Pipeline.dictsBroadcast(spark)
    // operations and probes (Workloads, Runner)
    val aggColumns: Seq[String] = Seq("route_outputs", "technology", "role", "tool", "ts")
    val counts: Array[Row] = Pipeline.sinkCounts(Pipeline.parseDf(spark, input)).collect()
    val fromInput: Array[Row] = Pipeline.sinkCountsFromInput(spark, input).collect()
    val selected: Array[Row] =
      Pipeline.sinkCounts(Pipeline.parseDfSelect(spark, input, aggColumns)).collect()
    val outcomes: DataFrame = Pipeline.parseRows(spark, input, emitDropped = true)
    val snapshot: AnyRef = Sink.writeSnapshot(spark, spark.read.parquet(dir), dir, "bench", 8)
    val read: Long = Sink.readSink(spark, dir, "bench", "sink").count()
    val parsed = StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, dir))
    val query: StreamingQuery = StreamingPipeline.sinkCounts(parsed).writeStream
      .format("memory").queryName("q").outputMode("complete")
      .option("checkpointLocation", dir).start()
    // input preparation (Prep)
    Transcripts.input(spark, dir).write.mode("overwrite").parquet(dir)
    val oracle: String = SparkEntry.oracleSql("q05_sink_counts")
    Seq(counts, fromInput, selected, outcomes, snapshot, read, query, oracle)
  }

  test("the calls perfbench/harness makes compile against the engine") {
    val calls: (SparkSession, DataFrame, String) => Seq[Any] = harnessCalls
    assert(calls != null)
  }
}
