package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gen.Transcripts
import org.apache.spark.sql.graft.GraftParse
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Pipeline, RowKernel}

/** Every mode the optimizer picks for the GraftParse node (counts, masked,
  * full) must return exactly the rows of the same columns read from a
  * persisted `parseDf(…)`. The cache holds the unpruned, full-width kernel
  * output, persisted at the RDD layer (as SparkEntry.parsed does): a
  * DataFrame cache would also answer the fresh `parseDf` on the other side,
  * whose plan has the same result. Corpora: the main input
  * (vpcflow NODATA drops, azure records[] splits), iis (directive lines
  * dropped) and okta (a JSON array fans out to one row per element). */
class LazyFlattenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-lazyflatten")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val aggCols = Seq("route_outputs", "technology", "role", "tool", "ts")

  /** (name, input, persisted full-width parseDf of it). */
  private lazy val corpora: Seq[(String, DataFrame, DataFrame)] = {
    spark.sparkContext.setLogLevel("ERROR")
    Seq("main" -> Transcripts.input _, "iis" -> Transcripts.iisInput _,
      "okta" -> Transcripts.oktaInput _).map { case (name, in) =>
      val input = in(spark, sf)
      val full = GraftParse.persistedRows(Pipeline.parseDf(spark, input), StorageLevel.MEMORY_ONLY)
      full.count()
      (name, input, full)
    }
  }

  /** The GraftParse modes in `df`'s executed plan (run it first). */
  private def modes(df: DataFrame): Seq[String] =
    "GraftParse (counts|masked|full)".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
      .map(_.group(1)).toSeq

  private def assertSameRows(pruned: DataFrame, cached: DataFrame, mode: String, what: String): Unit = {
    assert(pruned.schema == cached.schema, s"$what schema differs")
    assert(pruned.exceptAll(cached).count() == 0 && cached.exceptAll(pruned).count() == 0,
      s"$what rows differ between the $mode kernel and the persisted full kernel")
    pruned.collect()
    assert(modes(pruned) == Seq(mode), s"$what planned ${modes(pruned)}, expected $mode")
  }

  private def assertSameCols(cols: Seq[String], mode: String): Unit =
    corpora.foreach { case (name, input, full) =>
      assertSameRows(Pipeline.parseDfSelect(spark, input, cols), full.select(cols.map(col): _*),
        mode, s"$name/${cols.size} cols")
    }

  test("the corpora exercise drop{} and records[] fan-out") {
    val sizes = corpora.map { case (name, input, full) => name -> (input.count(), full.count()) }.toMap
    assert(sizes("iis")._2 < sizes("iis")._1, s"iis drops no turn: ${sizes("iis")}")
    assert(sizes("okta")._2 > sizes("okta")._1, s"okta fans out no turn: ${sizes("okta")}")
  }

  test("counts kernel == full kernel + projection (aggregate column set)") {
    assertSameCols(aggCols, "counts")
  }

  test("masked kernel == full kernel + projection (mixed wide set)") {
    assertSameCols(Seq("conv_id", "turn_idx", "sub_idx", "parse_ok", "parse_rule",
      "event_module", "event_dataset", "source_ip", "source_ip_private",
      "destination_port", "event_created_ms", "related_ip", "tags",
      "user_agent_original", "event_hash"), "masked")
  }

  test("full mask == unmasked kernel (degenerate case)") {
    assertSameCols(RowKernel.schema.fieldNames.toSeq, "full")
  }

  test("sinkCounts over the lazy flatten equals the full-path counts") {
    corpora.foreach { case (name, input, full) =>
      assertSameRows(Pipeline.sinkCounts(Pipeline.parseDf(spark, input)), Pipeline.sinkCounts(full),
        "counts", s"$name/sinkCounts")
    }
  }

  test("count() prunes the kernel to zero columns and counts every output row") {
    corpora.foreach { case (name, input, full) =>
      val parsed = Pipeline.parseDf(spark, input)
      assert(parsed.count() == full.count(), s"$name: count() differs")
      val counted = parsed.groupBy().count() // the plan count() runs
      counted.collect()
      assert(modes(counted) == Seq("counts"), s"$name: count() planned ${modes(counted)}")
    }
  }

  test("counts kernel rows stay distinct through collect() and cache()") {
    corpora.foreach { case (name, input, full) =>
      val want = full.select("technology", "role").collect().map(_.toString).sorted.toSeq
      val pruned = Pipeline.parseDf(spark, input).select("technology", "role")
      assert(pruned.collect().map(_.toString).sorted.toSeq == want, s"$name: collect() differs")
      assert(modes(pruned) == Seq("counts"), s"$name: planned ${modes(pruned)}")
      val cached = Pipeline.parseDf(spark, input).select("technology", "role").cache()
      try {
        cached.count()
        assert(cached.collect().map(_.toString).sorted.toSeq == want, s"$name: cache() differs")
        assert(modes(cached) == Seq("counts"), s"$name: cached ${modes(cached)}")
      } finally cached.unpersist()
    }
  }

  test("an emitDropped select runs the masked kernel and equals the projected full rows") {
    val cols = Seq("sub_idx", "parse_rule", "parse_ok", "tags", "route_outputs").map(col)
    val (palo, blank) = PipelineSpec.paloAndBlanks(spark, sf)
    Seq("iis" -> Transcripts.iisInput(spark, sf), "palo+blanks" -> palo.unionByName(blank)).foreach {
      case (name, input) =>
        val full = GraftParse.persistedRows(Pipeline.parseRows(spark, input, emitDropped = true),
          StorageLevel.MEMORY_ONLY)
        try {
          assert(full.filter(col("parse_rule") === "dropped").count() > 0, s"$name has no marker row")
          assertSameRows(Pipeline.parseRows(spark, input, emitDropped = true).select(cols: _*),
            full.select(cols: _*), "masked", s"$name/emitDropped")
        } finally GraftParse.unpersistRows(full)
    }
  }

  test("a null tool comes out null and runs the unknown program; an empty tool stays empty") {
    val main = Transcripts.input(spark, sf)
    val nulls = main.withColumn("tool", lit(null).cast("string"))
    def tools(df: DataFrame): Set[(String, String)] = { // the rows of df's own plan
      val (t, k) = (df.schema.fieldIndex("tool"), df.schema.fieldIndex("technology"))
      df.collect().map(r => (r.getString(t), r.getString(k))).toSet
    }
    val counts = Pipeline.parseDfSelect(spark, nulls, aggCols)
    assert(counts.count() == main.count()) // unknown never drops or splits
    assert(tools(counts) == Set((null, "unknown")))
    assert(modes(counts) == Seq("counts"))
    val masked = Pipeline.parseDfSelect(spark, nulls, Seq("tool", "technology", "event_module"))
    assert(tools(masked) == Set((null, "unknown")))
    assert(modes(masked) == Seq("masked"))
    val full = Pipeline.parseDf(spark, nulls)
    assert(tools(full) == Set((null, "unknown")))
    assert(modes(full) == Seq("full"))
    val buckets = Pipeline.sinkCounts(Pipeline.parseDf(spark, nulls))
    assert(buckets.count() > 0 && buckets.filter(col("tool").isNotNull).count() == 0)
    val empty = main.withColumn("tool", lit(""))
    assert(tools(Pipeline.parseDfSelect(spark, empty, aggCols)) == Set(("", "unknown")))
  }

  test("a null ts or turn_idx comes out null in the counts, masked, full and marker rows") {
    // the iis corpus has drop{}-ed turns, so emitDropped makes marker rows
    val nulls = Seq(Transcripts.input _, Transcripts.iisInput _).map(_(spark, sf)).reduce(_ union _)
      .withColumn("turn_idx", lit(null).cast("int"))
      .withColumn("ts", lit(null).cast("timestamp"))
    def nonNull(df: DataFrame, c: String): Long = df.filter(col(c).isNotNull).count()

    val counts = Pipeline.parseDfSelect(spark, nulls, aggCols)
    assert(counts.count() > 0 && nonNull(counts, "ts") == 0)
    assert(modes(counts) == Seq("counts"))
    val masked = Pipeline.parseDfSelect(spark, nulls, Seq("turn_idx", "ts", "event_module"))
    assert(masked.count() > 0 && nonNull(masked, "turn_idx") == 0 && nonNull(masked, "ts") == 0)
    assert(modes(masked) == Seq("masked"))
    val full = Pipeline.parseDf(spark, nulls)
    val rows = full.collect()
    assert(modes(full) == Seq("full"))
    val (ti, ts) = (full.schema.fieldIndex("turn_idx"), full.schema.fieldIndex("ts"))
    assert(rows.nonEmpty && rows.forall(r => r.isNullAt(ti) && r.isNullAt(ts)))
    val markers = Pipeline.parseRows(spark, nulls, emitDropped = true)
      .filter(col("parse_rule") === "dropped").select("turn_idx", "ts")
    assert(markers.count() > 0 && nonNull(markers, "turn_idx") == 0 && nonNull(markers, "ts") == 0)
    // a null ts falls in no hour bucket, where it read as 1970-01-01 before
    val buckets = Pipeline.sinkCounts(Pipeline.parseDf(spark, nulls))
    assert(buckets.count() > 0 && nonNull(buckets, "y") == 0)
  }
}
