package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gen.Transcripts
import graft.pipeline.Pipeline
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Physical-plan audits: the shapes the 100-TB design depends on must hold
  * in the executed plan, not just in intent (SURVEY §4 / VERDICT plan
  * audits). The kernel is the GraftParse node, so the executed plan shows
  * the whole query: input prep, the node and the mode the optimizer picked
  * for it. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-planaudit")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private lazy val inputPath: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_planaudit").toString
    Transcripts.input(spark, sf)
      .withColumn("extra_wide_column", lit("x")) // must NOT be read back
      .write.mode("overwrite").parquet(path)
    path
  }

  test("pre-kernel stage: exactly ONE exchange, hash-partitioned on conv_id") {
    spark.sparkContext.setLogLevel("ERROR")
    val in = Pipeline.parseInput(spark, spark.read.parquet(inputPath))
    in.count()
    val plan = in.queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected the single conv_id repartition, got $exchanges:\n${plan.take(1200)}")
    assert(plan.contains("hashpartitioning(conv_id"), plan.take(1200))
  }

  test("pre-kernel scan prunes to the 6 input columns (ReadSchema)") {
    val in = Pipeline.parseInput(spark, spark.read.parquet(inputPath))
    in.count()
    val plan = in.queryExecution.executedPlan.toString
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("conv_id") && read.contains("text"), read)
    assert(!read.contains("extra_wide_column"), s"column pruning failed: $read")
  }

  /** The final (post-AQE) section of an executed plan's tree string. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  /** The modes of every GraftParse node in a plan string, top-down. */
  private def modes(plan: String): Seq[String] =
    "GraftParse (counts|masked|full)".r.findAllMatchIn(plan).map(_.group(1)).toSeq

  /** The plan's lines below its first GraftParse node. */
  private def belowKernel(plan: String): Seq[String] =
    plan.split("\n").toSeq.dropWhile(!_.contains("GraftParse ")).drop(1)

  /** The column names of the plan's first parquet scan's ReadSchema. */
  private def readSchema(plan: String): Set[String] =
    "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).toSeq
      .flatMap(_.group(1).split(",")).map(_.takeWhile(_ != ':')).toSet

  /** The counts plan: scan → counts kernel → partial count in one stage,
    * then the aggregate's exchange, the plan's only one; the scan reads the
    * four columns the counts kernel uses. */
  private def assertCountsPlan(): Unit = {
    val df = Pipeline.sinkCounts(Pipeline.parseDf(spark, spark.read.parquet(inputPath)))
    df.collect()
    val plan = finalPlan(df)
    val lines = plan.split("\n").toSeq
    def lineOf(s: String) = lines.indexWhere(_.contains(s))
    val exchanges = lines.zipWithIndex.filter(_._1.contains("Exchange "))
    assert(exchanges.size == 1, s"expected the aggregate's exchange only:\n$plan")
    val (kernel, partial) = (lineOf("GraftParse "), lineOf("partial_count"))
    assert(exchanges.head._2 < partial && partial < kernel,
      s"expected agg exchange > partial_count > GraftParse:\n$plan")
    assert(!belowKernel(plan).exists(_.contains("Exchange ")), s"an exchange below the kernel:\n$plan")
    assert(modes(plan) == Seq("counts"), s"sinkCounts(parseDf) must run the counts-only kernel:\n$plan")
    assert(readSchema(plan) == Set("role", "text", "tool", "ts"), plan)
  }

  test("sink counts: ONE agg exchange and none below GraftParse") {
    assertCountsPlan()
  }

  test("sink counts under America/New_York: the same one-stage plan") {
    // a non-UTC zone puts the ts cast between the node and its input
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try assertCountsPlan() finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("GraftParse runs the masked kernel under a 3-column enriched select") {
    val df = Pipeline.parseDf(spark, spark.read.parquet(inputPath))
      .select("source_ip", "event_module", "source_ip_private")
    df.collect()
    val plan = finalPlan(df)
    assert(modes(plan) == Seq("masked"), plan)
    val node = plan.split("\n").find(_.contains("GraftParse ")).get
    assert(Seq("source_ip#", "event_module#", "source_ip_private#").forall(node.contains) &&
      !node.contains("technology#"), s"output not pruned to the select: $node")
    assert(belowKernel(plan).exists(_.contains("hashpartitioning(conv_id")),
      s"the masked kernel keeps the conv_id exchange:\n$plan")
  }

  test("GraftParse runs the full kernel under Sink.writeSnapshot's emitDropped parse") {
    // ONE SQL execution per call: the full kernel, the manifest metrics
    // observed in the write (CollectMetrics), and nothing persisted
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        execs.add(f -> qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        execs.add(f -> qe.executedPlan.toString)
    }
    val root = java.nio.file.Files.createTempDirectory("graft_planaudit_sink").toString
    def all = execs.toArray(Array.empty[(String, String)]).toSeq
    spark.listenerManager.register(listener)
    try {
      graft.pipeline.Sink.writeSnapshot(spark, spark.read.parquet(inputPath), root, "s1", numChunks = 2)
      // a sentinel execution: the listener bus delivers in order, so once it
      // arrives every execution of the write has arrived too
      spark.range(7).toDF("sentinel_col").collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!all.exists(_._2.contains("sentinel_col")) && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    val seen = all.takeWhile(!_._2.contains("sentinel_col"))
    assert(!seen.exists(_._1 == "persistedRows"), s"a persistedRows execution: ${seen.map(_._1)}")
    val kernel = seen.filter(_._2.contains("GraftParse "))
    assert(kernel.size == 1, s"expected ONE SQL execution holding GraftParse, got ${seen.map(_._1)}")
    val plan = kernel.head._2.split("== Initial Plan ==")(0)
    assert(modes(plan) == Seq("full"), s"the sink's write must run the full kernel:\n$plan")
    assert(belowKernel(plan).exists(_.contains("hashpartitioning(conv_id")),
      s"the full kernel keeps the conv_id exchange:\n$plan")
    assert(plan.contains("CollectMetrics"), s"the manifest metrics are not observed in the write:\n$plan")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "an RDD is left persisted")
  }

  test("parsed() RDD-level cache returns exactly the rows of the direct kernel path") {
    spark.sparkContext.setLogLevel("ERROR")
    // round-6: SparkEntry.parsed persists the kernel output as UnsafeRows at
    // the RDD layer instead of a columnar InMemoryRelation — same rows, same
    // schema, order-insensitive
    val direct = Pipeline.parseDf(spark, Transcripts.input(spark, sf)).toDF()
    val cached = SparkEntry.parsed(spark, sf)
    assert(cached.schema == direct.schema)
    val d = direct.collect().map(_.toString).sorted
    val c = cached.collect().map(_.toString).sorted
    assert(c.length == d.length)
    assert(c.sameElements(d))
  }

  // ---- streaming: the same node under Structured Streaming ----------------

  /** Run `df` over all of `inputPath` to a memory sink and return the
    * executed plan of its last micro-batch. */
  private def streamedPlan(df: org.apache.spark.sql.DataFrame, name: String,
                           mode: OutputMode): String = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
  }

  private def streamed: org.apache.spark.sql.DataFrame =
    StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, inputPath))

  /** The output column names of the plan's (single) GraftParse node. */
  private def nodeOutput(plan: String): Seq[String] =
    "(\\w+)#\\d+".r.findAllMatchIn(plan.split("\n").find(_.contains("GraftParse ")).get)
      .map(_.group(1)).toSeq

  test("streaming sinkCounts runs the counts kernel with no exchange below it") {
    val plan = streamedPlan(StreamingPipeline.sinkCounts(streamed), "audit_counts",
      OutputMode.Complete())
    assert(modes(plan) == Seq("counts"), plan)
    assert(!belowKernel(plan).exists(_.contains("Exchange ")), s"an exchange below the kernel:\n$plan")
    assert(readSchema(plan) == Set("role", "text", "tool", "ts"), plan)
  }

  test("streaming conversationState runs the masked kernel over (conv_id, parse_ok)") {
    val plan = streamedPlan(StreamingPipeline.conversationState(spark, streamed).toDF(), "audit_state",
      OutputMode.Update())
    assert(modes(plan) == Seq("masked"), plan)
    assert(nodeOutput(plan) == Seq("conv_id", "parse_ok"), plan)
  }

  test("streaming 5-column select (the resume spec's) runs the masked kernel") {
    val plan = streamedPlan(
      streamed.select("conv_id", "turn_idx", "sub_idx", "technology", "event_hash"), "audit_select",
      OutputMode.Append())
    assert(modes(plan) == Seq("masked"), plan)
    assert(nodeOutput(plan).toSet == Set("conv_id", "turn_idx", "sub_idx", "technology", "event_hash"), plan)
  }

  // ---- ml family (round-5 verdict item 5) --------------------------------

  /** Round-5's d02 regression class: constructing the pairs DataFrame ran an
    * eager split-count job and the plan recomputed the minhash lineage three
    * times. Pin both properties: construction runs ZERO Spark jobs, and the
    * executed plan scans documents.parquet exactly once (the self-join's
    * second side must be a ReusedExchange). */
  test("d02: constructing minhashPairs runs no Spark job") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ml.TextOps.minhashPairs(docs) // construction only — no action
      // sentinel action: flushes the async listener queue (the RDD count is
      // exactly ONE job — a SQL count under AQE would be two) —
      // construction itself must contribute zero jobs
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 5000000000L
      while (jobs < 1 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 1, s"plan construction launched ${jobs - 1} Spark job(s)")
  }

  test("d02: executed plan scans documents.parquet ONCE and reuses the self-join exchange") {
    val df = graft.ml.TextOps.minhashPairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected ONE documents scan in the final plan, got $scans:\n${plan.take(2000)}")
    assert(plan.contains("ReusedExchange"), s"self-join side not reused:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin"), s"self-join must stay off the broadcast path:\n${plan.take(2000)}")
  }

  test("d10: IVF assignment kernel is zero-shuffle over the embeddings scan") {
    val df = graft.ml.Similarity.ivfAssignWithEmbedding(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // pinned() may add ONE round-robin repartition for parallelism; no
    // KEYED exchange is allowed (the argmax is row-local by design)
    assert(!plan.contains("hashpartitioning"),
      s"assignment must not shuffle by key:\n${plan.take(1200)}")
  }
}
