package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gen.Transcripts
import graft.pipeline.{Pipeline, Sink}
import graft.streaming.StreamingPipeline

/** End-to-end Spark tests: routing/sink snapshot semantics, checkpoint
  * resume, streaming==batch equivalence, and the SURVEY.md §5 properties
  * (conservation, salted==unsalted, enrichment idempotence-by-replay). */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("conservation: every input turn is routed, failed or dropped exactly once") {
    spark.sparkContext.setLogLevel("ERROR")
    val input = Transcripts.input(spark, sf)
    val n = input.count()
    val parsed = Pipeline.parseDf(spark, input).toDF().cache()
    val base = parsed.filter(col("sub_idx") === 0)
    val routedOrFailed = base.count()
    val dropped = input.join(base, Seq("conv_id", "turn_idx"), "left_anti").count()
    assert(routedOrFailed + dropped == n)
    // failed rows route to the 'failed' pipeline, never to a data sink
    val failedRows = parsed.filter(!col("parse_ok"))
    assert(failedRows.filter(!array_contains(col("route_outputs"), "failed")).count() == 0)
    parsed.unpersist()
  }

  test("salted aggregation equals plain aggregation (SURVEY §5 property iii)") {
    val parsed = SparkEntry.parsed(spark, sf)
    val a = Pipeline.sinkCounts(parsed)
    val b = Pipeline.sinkCountsSalted(parsed, salts = 7)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("parse is deterministic: two runs produce identical output (replay property)") {
    val input = Transcripts.input(spark, sf)
    val a = Pipeline.parseDf(spark, input).toDF()
    val b = Pipeline.parseDf(spark, input).toDF()
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("sink counts of a TIMESTAMP_NTZ input do not depend on the session time zone") {
    val input = Transcripts.input(spark, sf)
    // DuckDB's naive TIMESTAMP reads as TIMESTAMP_NTZ: a wall-clock time,
    // bucketed by its own hour in every zone (the input is January: no DST)
    assert(input.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    def counts(zone: String) = {
      spark.conf.set("spark.sql.session.timeZone", zone)
      try Pipeline.sinkCounts(Pipeline.parseDf(spark, input)).collect().toSet
      finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val utc = counts("UTC")
    assert(utc.nonEmpty)
    assert(counts("America/New_York") == utc)
  }

  test("sink snapshot: manifests carry lineage+metrics; resume skips completed chunks; interrupted run converges") {
    val input = Transcripts.input(spark, sf)
    val full = tmp("graft-sink-full-")
    val m1 = Sink.writeSnapshot(spark, input, full, "snap1", numChunks = 4)
    assert(m1.size == 4)
    assert(m1.map(_.inputRows).sum == input.count())
    // manifest json exists per chunk
    (0 until 4).foreach { c =>
      assert(Files.exists(java.nio.file.Paths.get(full, "_manifests", "snap1", s"chunk-$c.json")))
    }
    // simulate a crash: new root where only chunks 0 and 2 "completed"
    val partial = tmp("graft-sink-partial-")
    Sink.writeSnapshot(spark, input, partial, "snap1", numChunks = 4) // full write
    // delete chunk 1,3 data + ledger to simulate lost work
    import scala.sys.process._
    Seq(1, 3).foreach { c =>
      Seq("bash", "-c", s"rm -rf '$partial'/snapshot=snap1/sink=*/chunk=$c").!
      Files.deleteIfExists(Sink.ledgerDir(partial, "snap1").resolve(c.toString))
    }
    // resume writes ONLY the missing chunks
    val resumed = Sink.writeSnapshot(spark, input, partial, "snap1", numChunks = 4)
    assert(resumed.map(_.chunk).toSet == Set(1, 3))
    // per-sink contents identical to the uninterrupted run
    for (s <- Seq("elastic", "s3", "failed")) {
      val x = Sink.readSink(spark, full, "snap1", s)
      val y = Sink.readSink(spark, partial, "snap1", s)
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, s"sink $s differs")
    }
    // routed metrics account for every output event (fan-out counted per sink)
    val parsed = Pipeline.parseDf(spark, input).toDF()
    val expectRouted = parsed.select(explode(col("route_outputs"))).count()
    assert(m1.flatMap(_.routedPerSink.values).sum == expectRouted)
    // a SECOND snapshot of the same root never clobbers the first
    val m2 = Sink.writeSnapshot(spark,
      input.filter(col("turn_idx") % 2 === 0), full, "snap2", numChunks = 4)
    assert(m2.nonEmpty)
    val s1 = Sink.readSink(spark, full, "snap1", "elastic")
    val x1 = Sink.readSink(spark, partial, "snap1", "elastic")
    assert(s1.exceptAll(x1).count() == 0 && x1.exceptAll(s1).count() == 0,
      "snap2 must not disturb snap1 data")
    // resuming with a different numChunks is rejected (would mis-bucket rows)
    assertThrows[IllegalArgumentException] {
      Sink.writeSnapshot(spark, input, full, "snap1", numChunks = 8)
    }
  }

  test("sink snapshot: a turn split into no event counts as an input row, dropped") {
    // palo's split {} on newline-only text yields no event; the manifests
    // must still account for the turn
    val (palo, blank) = PipelineSpec.paloAndBlanks(spark, sf)
    val input = palo.unionByName(blank)
    val (n, blanks) = (input.count(), blank.count())
    assert(blanks > 0)
    val m = Sink.writeSnapshot(spark, input, tmp("graft-sink-blank-"), "snap1", numChunks = 4)
    assert(m.map(_.inputRows).sum == n)
    assert(m.map(_.dropped).sum == blanks)
    assert(m.map(_.outputEvents).sum == Pipeline.parseDf(spark, palo).count())
  }

  test("streaming parse of a cardinality-up corpus (okta JSON array) equals batch") {
    val inDir = tmp("graft-stream-okta-")
    Transcripts.oktaInput(spark, sf).write.mode("overwrite").parquet(inDir)
    val parsed = StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, inDir))
    StreamingPipeline.runToMemory(
      parsed.select("conv_id", "turn_idx", "sub_idx", "event_type", "event_outcome"),
      "stream_okta", org.apache.spark.sql.streaming.OutputMode.Append(),
      tmp("graft-ckpt-okta-"))
    val streamed = spark.table("stream_okta")
    val batch = Pipeline.parseDf(spark, Transcripts.oktaInput(spark, sf))
      .select("conv_id", "turn_idx", "sub_idx", "event_type", "event_outcome")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("streaming parse of a drop{} corpus (iis) equals batch: counts and rows") {
    val inDir = tmp("graft-stream-iis-")
    Transcripts.iisInput(spark, sf).write.mode("overwrite").parquet(inDir)
    val batch = Pipeline.parseDf(spark, Transcripts.iisInput(spark, sf))
    val cols = Seq("conv_id", "turn_idx", "sub_idx", "technology", "parse_rule", "url_path", "source_ip")
    StreamingPipeline.runToMemory(
      StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, inDir)).select(cols.map(col): _*),
      "stream_iis_rows", org.apache.spark.sql.streaming.OutputMode.Append(), tmp("graft-ckpt-iis-"))
    val rows = spark.table("stream_iis_rows")
    val batchRows = batch.select(cols.map(col): _*)
    // some turns are drop{}-ed, so the kernel emits fewer rows than it reads
    assert(rows.count() > 0 && rows.count() < spark.read.parquet(inDir).count())
    assert(rows.exceptAll(batchRows).count() == 0 && batchRows.exceptAll(rows).count() == 0)

    StreamingPipeline.runToMemory(
      StreamingPipeline.sinkCounts(StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, inDir))),
      "stream_iis_counts", org.apache.spark.sql.streaming.OutputMode.Complete(), tmp("graft-ckpt-iis2-"))
    val counts = spark.table("stream_iis_counts")
      .select(col("sink"), col("technology"), col("role"), col("tool"),
        year(col("window.start")).as("y"), month(col("window.start")).as("m"),
        dayofmonth(col("window.start")).as("d"), hour(col("window.start")).as("h"),
        col("cnt"))
    val batchCounts = Pipeline.sinkCounts(batch)
    assert(counts.exceptAll(batchCounts).count() == 0 && batchCounts.exceptAll(counts).count() == 0)
  }

  test("rate streaming source (kafka-topic analogue) == batch kernel on identical ticks") {
    val parsed = StreamingPipeline.parse(spark, StreamingPipeline.rateTurns(spark, 200))
    val q = parsed.writeStream.format("memory").queryName("rate_parsed")
      .outputMode("append").option("checkpointLocation", tmp("graft-ckpt-rate-"))
      .start()
    try {
      var waited = 0
      while (waited < 120000 &&
        (!spark.catalog.tableExists("rate_parsed") || spark.table("rate_parsed").count() < 200)) {
        Thread.sleep(500); waited += 500
      }
    } finally { q.stop(); q.awaitTermination() }
    val streamed = spark.table("rate_parsed").cache()
    assert(streamed.count() >= 200, "rate source produced no full batch")
    // batch replay over the exact (tick, ts) pairs the stream processed —
    // same generator SQL, same kernel; every emitted row must agree
    streamed.select(col("turn_idx").cast("long").as("event_id"), col("ts"))
      .distinct()
      .withColumn("user_id", col("event_id") % 9973)
      .createOrReplaceTempView("events")
    val batchTurns = spark.sql(s"WITH ${Transcripts.cteTxt} " +
      "SELECT conv_id, CAST(event_id AS INT) AS turn_idx, role, text, tool, ts FROM ge_txt")
    val batch = Pipeline.parseDf(spark, batchTurns)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "rate-sourced rows differ from batch kernel")
    streamed.unpersist()
  }

  test("streaming pipeline: counts equal batch counts; stateful op tracks conversations") {
    val inDir = tmp("graft-stream-in-")
    Transcripts.input(spark, sf).write.mode("overwrite").parquet(inDir)
    val parsed = StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, inDir))
    StreamingPipeline.runToMemory(StreamingPipeline.sinkCounts(parsed),
      "stream_counts", org.apache.spark.sql.streaming.OutputMode.Complete(),
      tmp("graft-ckpt-"))
    val streamed = spark.table("stream_counts")
      .select(col("sink"), col("technology"), col("role"), col("tool"),
        year(col("window.start")).as("y"), month(col("window.start")).as("m"),
        dayofmonth(col("window.start")).as("d"), hour(col("window.start")).as("h"),
        col("cnt"))
    val batch = Pipeline.sinkCounts(SparkEntry.parsed(spark, sf))
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)

    // stateful per-conversation operator
    val parsed2 = StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, inDir))
    StreamingPipeline.runToMemory(
      StreamingPipeline.conversationState(spark, parsed2).toDF(),
      "stream_state", org.apache.spark.sql.streaming.OutputMode.Update(),
      tmp("graft-ckpt2-"))
    val st = spark.table("stream_state")
    // final state per conv: turns == batch per-conv output events
    val want = SparkEntry.parsed(spark, sf).groupBy(col("conv_id"))
      .agg(count(lit(1)).as("turns"))
    val got = st.groupBy(col("conv_id")).agg(max(col("turns")).as("turns"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }
}

/** Streaming checkpoint-resume: the file-sink query is stopped, new input
  * arrives, and a SECOND run with the same checkpoint emits exactly the new
  * rows — nothing reprocessed, nothing lost (exactly-once visibility). */
class StreamingResumeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stream-resume")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** Run 1 on `first` over half the input, run 2 on `second` over the
    * rest with the same checkpoint; the output holds each event once. */
  private def resumeExactlyOnce(first: SparkSession, second: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val inDir = Files.createTempDirectory("graft-sr-in-").toString
    val outDir = Files.createTempDirectory("graft-sr-out-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-sr-ckpt-").toString

    val all = graft.gen.Transcripts.input(spark, "/root/testdata/sf0.001").cache()
    val part1 = all.filter(col("turn_idx") % 2 === 0)
    val part2 = all.filter(col("turn_idx") % 2 === 1)
    part1.write.mode("overwrite").parquet(inDir)

    def runOnce(session: SparkSession): Unit = {
      val parsed = StreamingPipeline.parse(session, StreamingPipeline.readTurns(session, inDir))
      val q = parsed
        .select("conv_id", "turn_idx", "sub_idx", "technology", "event_hash")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce(first)
    val n1 = spark.read.parquet(outDir).count()
    // new files arrive, resume with the SAME checkpoint
    part2.write.mode("append").parquet(inDir)
    runOnce(second)
    val out = spark.read.parquet(outDir)
    val expected = graft.pipeline.Pipeline.parseDf(spark, all).toDF()
      .select("conv_id", "turn_idx", "sub_idx", "technology", "event_hash")
    assert(n1 > 0 && out.count() > n1)
    assert(out.exceptAll(expected).count() == 0 && expected.exceptAll(out).count() == 0,
      "streaming resume must emit each event exactly once")
  }

  test("file-sink streaming run resumes from checkpoint without duplicates") {
    resumeExactlyOnce(spark, spark)
  }

  test("a checkpoint written through Hadoop's LocalFs resumes under graft's; a user's file: impl wins") {
    val key = "fs.AbstractFileSystem.file.impl"
    val hadoopLocalFs = "org.apache.hadoop.fs.local.LocalFs"
    val first = spark.newSession()
    first.conf.set(key, hadoopLocalFs)
    graft.pipeline.Pipeline.dictsBroadcast(first)
    assert(first.conf.get(key) == hadoopLocalFs)
    val second = spark.newSession()
    graft.pipeline.Pipeline.dictsBroadcast(second)
    assert(second.conf.get(key) == classOf[graft.io.LocalFs].getName)
    resumeExactlyOnce(first, second)
  }
}

object PipelineSpec {
  /** The main corpus's palo turns, and one newline-only copy of each under
    * a new conv_id: palo's split {} turns such text into no event. */
  def paloAndBlanks(spark: SparkSession, sf: String): (DataFrame, DataFrame) = {
    val palo = Transcripts.input(spark, sf).filter(col("tool") === "palo.alto.fw")
    val blank = palo.select(concat(col("conv_id"), lit("-blank")).as("conv_id"), col("turn_idx"),
      col("role"), when(col("turn_idx") % 2 === 0, "\n").otherwise("\n\n").as("text"),
      col("tool"), col("ts"))
    (palo, blank)
  }
}
