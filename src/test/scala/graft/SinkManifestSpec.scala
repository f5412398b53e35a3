package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import org.apache.spark.{ExceptionFailure, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftParse
import org.apache.spark.sql.types.BooleanType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.Transcripts
import graft.pipeline.{Pipeline, Sink}
import graft.pipeline.Sink.ChunkMetrics

/** `Sink.writeSnapshot` counts its manifest metrics inside the write. The
  * reference here is the two aggregate queries over the parsed rows that
  * the manifests were once computed with: a `groupBy(chunk)` for the row
  * counts and an explode of route_outputs for the per-sink counts. The
  * session allows each task one retry (`local[2,2]`), so a task failure
  * injected into the write's result stage is retried, not fatal. */
class SinkManifestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private val numChunks = 4
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2,2]")
    .appName("graft-sinkmanifest")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Every chunk's metrics from two queries over the emitDropped rows. */
  private def reference(input: DataFrame): Seq[ChunkMetrics] = {
    val parsed = Pipeline.parseRows(spark, input, emitDropped = true)
      .withColumn("chunk", pmod(hash(col("conv_id")), lit(numChunks)))
    val marker = col("parse_rule") === "dropped"
    val base = parsed.groupBy(col("chunk")).agg(
      count(when(col("sub_idx") === 0, 1)), count(when(!marker, 1)),
      count(when(marker, 1)), count(when(!marker && !col("parse_ok"), 1))
    ).collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val routed = parsed.select(col("chunk"), explode(col("route_outputs")).as("s"))
      .groupBy(col("chunk"), col("s")).count()
      .collect().groupBy(_.getInt(0))
      .map { case (c, rows) => c -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }
    (0 until numChunks).map { c =>
      val (in, out, dropped, failed) = base.getOrElse(c, (0L, 0L, 0L, 0L))
      ChunkMetrics(c, in, out, out - failed, failed, dropped, routed.getOrElse(c, Map.empty))
    }
  }

  private def snapshot(input: DataFrame, root: String): Seq[ChunkMetrics] =
    Sink.writeSnapshot(spark, input, root, "snap1", numChunks).sortBy(_.chunk)

  test("manifest metrics equal the reference aggregate: main, iis, okta and palo newline-only corpora") {
    spark.sparkContext.setLogLevel("ERROR")
    val (palo, blank) = PipelineSpec.paloAndBlanks(spark, sf)
    val corpora = Seq(
      "main" -> Transcripts.input(spark, sf),
      "iis" -> Transcripts.iisInput(spark, sf),
      "okta" -> Transcripts.oktaInput(spark, sf),
      "palo newline-only" -> palo.unionByName(blank))
    val got = corpora.map { case (name, input) =>
      val m = snapshot(input, tmp("graft-manifest-"))
      assert(m == reference(input), name)
      name -> m
    }.toMap
    // each corpus reaches the case it stands for
    assert(got("iis").map(_.dropped).sum > 0, "iis: no dropped turn")
    assert(got("okta").map(_.outputEvents).sum > got("okta").map(_.inputRows).sum, "okta: no records split")
    assert(got("palo newline-only").map(_.dropped).sum == blank.count(), "palo: blanks not dropped")
  }

  test("an empty pending input writes zero-count manifests and commits every chunk") {
    val root = tmp("graft-manifest-empty-")
    val m = snapshot(Transcripts.input(spark, sf).limit(0), root)
    assert(m == (0 until numChunks).map(c => ChunkMetrics(c, 0L, 0L, 0L, 0L, 0L, Map.empty)))
    assert(Sink.completedChunks(root, "snap1") == (0 until numChunks).toSet)
    (0 until numChunks).foreach { c =>
      val json = Files.readString(Paths.get(root, "_manifests", "snap1", s"chunk-$c.json"))
      assert(json.contains("\"input_rows\": 0") && json.contains("\"routed_per_sink\": {}"), json)
    }
  }

  test("a task failure in the write's result stage leaves the manifests and the sinks' rows unchanged") {
    val input = Transcripts.input(spark, sf)
    val clean = tmp("graft-manifest-clean-")
    val want = snapshot(input, clean)
    val failures = new AtomicInteger()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case _: ExceptionFailure => failures.incrementAndGet()
        case _ => ()
      }
    }
    val retried = tmp("graft-manifest-retried-")
    val x = spark.experimental
    val before = x.extraOptimizations
    spark.sparkContext.addSparkListener(listener)
    SinkManifestSpec.arm()
    x.extraOptimizations = before :+ SinkManifestSpec.FailOnce
    val got = try snapshot(input, retried) finally {
      x.extraOptimizations = before
      spark.sparkContext.removeSparkListener(listener)
    }
    val deadline = System.nanoTime() + 10000000000L
    while (failures.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(SinkManifestSpec.fired.get && failures.get == 1, s"expected one failed task, saw ${failures.get}")
    assert(got == want)
    for (s <- want.flatMap(_.routedPerSink.keys).distinct) {
      val (a, b) = (Sink.readSink(spark, clean, "snap1", s), Sink.readSink(spark, retried, "snap1", s))
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"sink $s differs")
    }
  }

  test("numChunks below 1 is rejected before anything is written") {
    for (n <- Seq(0, -1)) {
      val root = tmp("graft-manifest-chunks-")
      assertThrows[IllegalArgumentException] {
        Sink.writeSnapshot(spark, Transcripts.input(spark, sf), root, "snap1", numChunks = n)
      }
      assert(!Files.exists(Paths.get(root, "_manifests")), s"numChunks=$n created _manifests")
    }
  }
}

object SinkManifestSpec {
  /** Rows the armed UDF lets through before it throws, once, in a first
    * attempt: late enough that the failed attempt has counted rows. */
  private val failAfterRows = 100L
  private val rows = new AtomicLong()
  val fired = new AtomicBoolean()

  def arm(): Unit = { rows.set(0L); fired.set(false) }

  private val failOnce: () => Boolean = () => {
    if (TaskContext.get().attemptNumber() == 0 && rows.incrementAndGet() > failAfterRows &&
        fired.compareAndSet(false, true))
      throw new IllegalStateException("injected write-task failure")
    true
  }

  /** Puts a filter with the once-failing UDF directly above each GraftParse
    * node, i.e. into the stage that runs the kernel and the write. */
  object FailOnce extends Rule[LogicalPlan] {
    private val cond = ScalaUDF(failOnce, BooleanType, Nil, Nil, None, Some("fail_once"),
      nullable = false, udfDeterministic = false)
    def apply(plan: LogicalPlan): LogicalPlan =
      if (plan.exists { case Filter(c, _: GraftParse) => c == cond; case _ => false }) plan
      else plan.transformUp { case g: GraftParse => Filter(cond, g) }
  }
}
