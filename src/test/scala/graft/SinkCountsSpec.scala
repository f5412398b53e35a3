package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftParse
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.Transcripts
import graft.pipeline.Pipeline

/** `Pipeline.sinkCounts` counts first and fans out to sinks after. The
  * explode-first aggregate here is its reference; the two agree only while
  * route_outputs is a function of the row's tool and no technology config
  * lists a sink twice (`RegistryCompileSpec` pins the second). */
class SinkCountsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = RowParitySpec.session("graft-sinkcounts")
  override def afterAll(): Unit = spark.stop()

  /** Explode each row to its sinks, then count. */
  private def explodeFirst(parsed: DataFrame): DataFrame =
    parsed
      .select(explode(col("route_outputs")).as("sink"),
        col("technology"), col("role"), col("tool"), col("ts"))
      .groupBy(col("sink"), col("technology"), col("role"), col("tool"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))

  /** Same schema and the same rows, duplicates included. */
  private def assertSameCounts(name: String, parsed: DataFrame): Unit = {
    val (got, want) = (Pipeline.sinkCounts(parsed), explodeFirst(parsed))
    assert(got.schema == want.schema, name)
    val (g, w) = (got.collect().map(_.toString).sorted.toSeq, want.collect().map(_.toString).sorted.toSeq)
    assert(w.nonEmpty, name)
    val (extra, missing) = (g.diff(w), w.diff(g))
    assert(extra.isEmpty && missing.isEmpty,
      s"$name: only in sinkCounts ${extra.take(3)}, only explode-first ${missing.take(3)}")
  }

  test("sinkCounts equals the explode-first aggregate on every corpus, counts mode and full rows") {
    spark.sparkContext.setLogLevel("ERROR")
    (("main", Transcripts.input _) +: RowParitySpec.corpora).foreach { case (name, input) =>
      val df = input(spark, sf)
      assertSameCounts(s"$name (counts mode)", Pipeline.parseDf(spark, df))
      val full = GraftParse.persistedRows(Pipeline.parseDf(spark, df), StorageLevel.MEMORY_ONLY)
      try assertSameCounts(s"$name (full rows)", full) finally GraftParse.unpersistRows(full)
    }
  }

  test("sinkCounts equals the explode-first aggregate over marker rows") {
    // iis drops turns; under emitDropped each becomes a marker row, whose
    // empty route_outputs must count in no sink
    val rows = GraftParse.persistedRows(
      Pipeline.parseRows(spark, Transcripts.iisInput(spark, sf), emitDropped = true),
      StorageLevel.MEMORY_ONLY)
    try {
      assert(rows.filter(col("parse_rule") === "dropped").count() > 0, "no marker rows")
      assertSameCounts("iis (emitDropped)", rows)
    } finally GraftParse.unpersistRows(rows)
  }
}
