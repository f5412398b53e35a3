package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.Dicts
import graft.pipeline.{MispFeeder, Pipeline}

/** One run of one workload in a fresh JVM. Untraced (`--trace 0`): set-up,
  * the first (cold) operation, `--settle-ops` unmeasured operations, then
  * warm operations for `--seconds`, every output checked. Traced (`--trace 1`): the same,
  * with warm operations alternating untraced and traced (listener on), then
  * the layer probes. JVM counters are read around every operation. */
object Runner {
  final case class Op(i: Int, wallS: Double, traced: Boolean, failures: Seq[String],
                      batches: Seq[(Double, Double)], state: (Long, Long),
                      jvm: (JvmProbe.Reading, JvmProbe.Reading), stages: Seq[StageRec])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank), or the upper median when there are fewer than 21 samples, and
    * that percentile. It never falls below the median, and a single slow
    * sample cannot set it. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0)
    else {
      val k = n - 1 - math.min(10, (n - 1) / 2)
      (s(k), 100.0 * (k + 1) / n)
    }
  }

  def run(a: Args): Unit = {
    val trace = a("trace") == "1"
    val seconds = a.int("seconds")
    val nproc = a.int("nproc")
    val spans = new Spans
    val spark = spans("setup.session", "setup")(Main.session(a))
    // dictsBroadcast builds both memoized inputs first, so calling them
    // ahead of it splits set-up into its parts without adding work
    spans("setup.dicts_build", "setup")(Dicts.build())
    spans("setup.misp_store", "setup")(MispFeeder.store(spark))
    spans("setup.broadcast", "setup")(Pipeline.dictsBroadcast(spark))
    // fresh JVM to ready: JVM start, SparkSession, dictionaries + broadcast
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val w = Workload(a("workload"), spark, a)
    val sc = spark.sparkContext
    val ledger = new StageLedger

    def runOp(i: Int, traced: Boolean): Op = {
      if (traced) sc.addSparkListener(ledger)
      val before = JvmProbe.read()
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try Right(spans(s"op$i", "ops")(w.execute(i))) catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val toMs = System.currentTimeMillis()
      val jvm = (before, JvmProbe.read())
      val stages = if (!traced) Nil else {
        val st = ledger.stagesOf(ledger.jobsIn(fromMs, toMs))
        sc.removeSparkListener(ledger)
        st
      }
      val failures = out match {
        case Left(e) => Seq(s"operation threw $e")
        case Right(o) => try w.check(i, o) catch { case NonFatal(e) => Seq(s"check threw $e") }
      }
      val (batches, state) = (out, w) match {
        case (Right(o), s: StreamWorkload) => (s.batches(o), s.stateOf(o))
        case _ => (Nil, (0L, 0L))
      }
      failures.foreach(f => System.err.println(s"[perfbench] op $i FAILED: $f"))
      Op(i, wall, traced, failures, batches, state, jvm, stages)
    }

    val ops = ArrayBuffer(runOp(0, traced = false))
    val liveAfterFirst = JvmProbe.liveHeapBytes()
    // a fixed count of unmeasured operations lets JIT settle; a count, not a
    // time, so a slower JVM is not measured earlier in its warm-up
    while (ops.size <= a.int("settle-ops") && ops.size < w.maxOps)
      ops += runOp(ops.size, traced = false)
    val settled = ops.size
    def elapsedSince(t: Long) = (System.nanoTime() - t) / 1e9
    val t0 = System.nanoTime()
    val minWarm = if (trace) 4 else 3
    while ((elapsedSince(t0) < seconds || ops.size - settled < minWarm) && ops.size < w.maxOps)
      ops += runOp(ops.size, traced = trace && (ops.size - settled) % 2 == 1)
    val first = ops.head
    val warm = ops.drop(settled).toSeq

    val heapMb = math.max(liveAfterFirst, JvmProbe.liveHeapBytes()) / 1e6
    val untracedWarm = warm.filterNot(_.traced).toSeq
    // a stream's batches are its micro-batches; a batch workload's are its operations
    val opBatches: Seq[Double] = w match {
      case _: StreamWorkload => untracedWarm.flatMap(_.batches.map(_._1))
      case _ => untracedWarm.map(_.wallS * 1000)
    }
    val (tailMs, tailPct) = tail(opBatches)
    val layers =
      if (trace) Layers.compute(spark, w, a, spans, first, warm, ledger, nproc) else Layers.Result(Nil, Nil, 0)
    w.close()

    val failed = ops.count(_.failures.nonEmpty) + layers.failures.size
    val attempted = ops.size + layers.attempted
    val endToEnd = Seq(
      ("turns_per_s", median(untracedWarm.map(o => w.opTurns(o.i) / o.wallS)), "turns/s"),
      ("first_op_s", first.wallS, "s"),
      ("setup_s", setupS, "s"),
      ("peak_heap_mb", heapMb, "MB"),
      ("batch_p50_ms", median(opBatches), "ms"),
      ("batch_tail_ms", tailMs, "ms"),
      ("ok_ops_ratio", (attempted - failed).toDouble / attempted, "ratio"))
    val metrics = (if (trace) layers.metrics else endToEnd)
      .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val context = Map(
      "workload" -> a("workload"), "seed" -> a("seed"), "input_turns" -> w.turns,
      "nproc" -> nproc, "ram_bytes" -> totalRam, "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "master" -> sc.master, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "trace" -> trace, "settle_ops" -> (settled - 1), "warm_ops" -> untracedWarm.size,
      "batch_samples" -> opBatches.size, "batch_tail_percentile" -> tailPct)
    Main.writeJson(a("result"), Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics,
      "context" -> context,
      "failures" -> (ops.flatMap(o => o.failures.map(f => s"op ${o.i}: $f")) ++ layers.failures),
      "ops" -> ops.map(o => Map("op" -> o.i, "wall_s" -> o.wallS, "traced" -> o.traced,
        "ok" -> o.failures.isEmpty, "batches" -> o.batches.size,
        "jit_ms" -> (o.jvm._2.jitMs - o.jvm._1.jitMs), "gc_ms" -> (o.jvm._2.gcMs - o.jvm._1.gcMs))),
      "spans" -> spans.toJson,
      "ledger" -> layers.ledger))
    spark.stop()
  }

  def totalRam: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
    case _ => -1L
  }
}

/** The traced run's per-layer figures, attributed from outside the program:
  * stage task metrics from the listener, JVM readings, streaming progress,
  * output manifests, and probes that run the kernel's other entry points
  * and the snapshot writer on the same input. */
object Layers {
  final case class Result(metrics: Seq[(String, Double, String)], failures: Seq[String], attempted: Int,
                          ledger: Map[String, Any] = Map.empty)

  private def sum(st: Seq[StageRec])(f: StageRec => Double): Double = st.map(f).sum

  /** Stage roles by record flow, which adaptive execution's per-stage jobs
    * keep intact. Batch paths: the scan stage reads files and writes the
    * turns into the conv_id exchange, the kernel stage reads exactly those
    * records. A stream batch has no such exchange: its kernel runs in the
    * stage that reads the files. The aggregate stage reads what the kernel
    * stage wrote. */
  final case class Roles(scan: Seq[StageRec], kernel: Seq[StageRec], agg: Seq[StageRec])
  def roles(st: Seq[StageRec], turns: Long): Roles = {
    val scan = st.filter(s => s.inputRecords > 0 && s.shuffleWriteRecords == turns)
    val kernel =
      if (scan.nonEmpty) st.filter(_.shuffleReadRecords == turns)
      else st.filter(s => s.inputRecords == turns && s.shuffleReadRecords == 0)
    val kernelOut = kernel.map(_.shuffleWriteRecords).sum
    val agg = if (kernelOut == 0) Nil
      else st.filter(s => s.shuffleReadRecords == kernelOut && !kernel.contains(s))
    Roles(scan, kernel, agg)
  }

  def stageJson(st: Seq[StageRec], turns: Long): Seq[Map[String, Any]] = {
    val r = roles(st, turns)
    st.map(s => Map("stage" -> s.id, "job" -> s.jobId, "site" -> s.site,
      "role" -> (if (r.scan.contains(s)) "scan" else if (r.kernel.contains(s)) "kernel"
                 else if (r.agg.contains(s)) "agg" else "other"),
      "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "busy_s" -> s.busyS, "cpu_s" -> s.cpuS,
      "gc_s" -> s.gcS, "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
      "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_read_records" -> s.shuffleReadRecords,
      "fetch_wait_s" -> s.fetchWaitMs / 1000.0, "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_write_records" -> s.shuffleWriteRecords, "output_bytes" -> s.outputBytes,
      "output_records" -> s.outputRecords, "spill_bytes" -> s.spillBytes))
  }

  def compute(spark: SparkSession, w: Workload, a: Args, spans: Spans, first: Runner.Op,
              warm: Seq[Runner.Op], ledger: StageLedger, nproc: Int): Result = {
    import Runner.median
    val sc = spark.sparkContext
    val turns = w.turns.toDouble
    val traced = warm.filter(_.traced)
    val untraced = warm.filterNot(_.traced)
    val op = traced.sortBy(_.wallS).apply(traced.size / 2) // the median traced op
    val opTurns = w.opTurns(op.i).toDouble
    val r = roles(op.stages, w.opTurns(op.i))
    val input = () => spark.read.parquet(w.inputDir)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0

    /** Time one run of a probe with the listener on; `warmups` untimed runs
    * first, for code paths the operations have not exercised. */
    def probe(name: String, warmups: Int = 1)(body: => Any): (Double, Seq[StageRec]) = {
      (1 to warmups).foreach(k => spans(s"probe.$name.warmup$k", "probes")(body))
      sc.addSparkListener(ledger)
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      spans(s"probe.$name", "probes")(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val st = ledger.stagesOf(ledger.jobsIn(from, System.currentTimeMillis()))
      sc.removeSparkListener(ledger)
      (wall, st)
    }

    val probes = Map.newBuilder[String, (Double, Seq[StageRec])]
    var outcome = Map.empty[String, Long]
    var sinkTotals = Map.empty[String, Long]
    w match {
      case _: CountsWorkload =>
        probes += "sinkCountsFromInput" ->
          probe("sinkCountsFromInput")(Pipeline.sinkCountsFromInput(spark, input()).collect())
        probes += "parseDfSelect" -> probe("parseDfSelect")(
          Pipeline.sinkCounts(Pipeline.parseDfSelect(spark, input(), Workload.aggColumns)).collect())
        probes += "parseDf" -> (op.wallS, op.stages) // the operation itself
        // the sink layer: one Sink.writeSnapshot of the same input, checked
        val snap = new SnapshotProbe(spark, w.inputDir, w.turns, w.workDir, Paths.get(a("golden")))
        attempted += 1
        probes += "writeSnapshot" -> probe("writeSnapshot", warmups = 0)(snap.execute(0))
        val errs = try snap.check(0) catch { case NonFatal(e) => Seq(s"check threw $e") }
        failures ++= errs.map(e => s"probe writeSnapshot: $e")
        outcome = snap.outcome(0)
        sinkTotals = snap.lastTotals
        snap.cleanup(0)
      case _: StreamWorkload =>
        // parse outcomes of the stream's input: one emitDropped kernel pass
        val rows = spans("probe.outcomes", "probes")(Pipeline.parseRows(spark, input(), emitDropped = true)
          .groupBy((col("parse_rule") === "dropped").as("dropped"), col("parse_ok"))
          .count().collect())
        def n(p: Row => Boolean) = rows.filter(p).map(_.getLong(2)).sum
        outcome = Map("dropped" -> n(_.getBoolean(0)),
          "parsed" -> n(x => !x.getBoolean(0) && x.getBoolean(1)),
          "output_events" -> n(!_.getBoolean(0)))
    }
    val probed = probes.result()
    def pw(n: String) = probed.get(n).map(_._1).getOrElse(0.0)
    val snapStages = probed.get("writeSnapshot").map(_._2).getOrElse(Nil)
    val snapRoles = roles(snapStages, w.turns)
    val p1Scan = probed.get("sinkCountsFromInput").map(p => sum(roles(p._2, w.turns).scan)(_.busyS)).getOrElse(0.0)

    // sink passes, by the Sink.scala call site of their SQL execution; the
    // write pass is the one that writes files (the kernel runs fused in it)
    val sinkStages = snapStages.filter(_.site.contains("Sink.scala"))
    val writeSites = sinkStages.filter(s => s.outputRecords > 0 || s.outputBytes > 0).map(_.site).toSet
    val writeBusy = sum(sinkStages.filter(s => writeSites(s.site) && !snapRoles.scan.contains(s)))(_.busyS)

    val skew = {
      val recs = r.kernel.flatMap(_.recordsReadPerTask).map(_.toDouble)
      if (r.scan.isEmpty || recs.isEmpty || median(recs) == 0) 0.0 else recs.max / median(recs)
    }
    val jvmOf = (o: Runner.Op) => o.jvm match { case (b, e) => (e.allocBytes - b.allocBytes, e.gcMs - b.gcMs) }
    val allBatches = warm.flatMap(_.batches)
    val untracedWall = median(untraced.map(_.wallS))
    val tracedWall = median(traced.map(_.wallS))
    val busyAll = sum(op.stages)(_.busyS)
    val isStream = w.isInstanceOf[StreamWorkload]

    val metrics = Seq(
      ("setup.session_s", spans.seconds("setup.session"), "s"),
      ("setup.dicts_build_s", spans.seconds("setup.dicts_build"), "s"),
      ("setup.misp_store_s", spans.seconds("setup.misp_store"), "s"),
      ("setup.broadcast_s", spans.seconds("setup.broadcast"), "s"),
      ("scan.busy_s", sum(r.scan)(_.busyS), "s"),
      ("exchange.write_bytes_per_turn", sum(r.scan)(_.shuffleWriteBytes.toDouble) / opTurns, "B/turn"),
      ("exchange.fetch_wait_s", if (r.scan.isEmpty) 0.0 else sum(r.kernel)(_.fetchWaitMs / 1000.0), "s"),
      ("exchange.task_skew", skew, "ratio"),
      ("kernel.busy_s", sum(r.kernel)(_.busyS), "s"),
      ("kernel.cpu_s", sum(r.kernel)(_.cpuS), "s"),
      ("kernel.gc_s", sum(r.kernel)(_.gcS), "s"),
      ("kernel.records_out_per_turn", outcome.getOrElse("output_events", 0L) / turns, "ratio"),
      ("rules.parse_s", if (isStream) 0.0 else pw("sinkCountsFromInput") - p1Scan / nproc, "s"),
      ("enrich.chain_s", if (isStream) 0.0 else pw("parseDfSelect") - pw("sinkCountsFromInput"), "s"),
      ("rowkernel.flatten_s", if (isStream) 0.0 else pw("parseDf") - pw("parseDfSelect"), "s"),
      ("rules.parse_ok_ratio", outcome.getOrElse("parsed", 0L).toDouble /
        math.max(1L, outcome.getOrElse("output_events", 0L)), "ratio"),
      ("rules.dropped_ratio", outcome.getOrElse("dropped", 0L) / turns, "ratio"),
      ("agg.busy_s", sum(r.agg)(_.busyS), "s"),
      ("agg.shuffle_bytes_per_turn", sum(r.kernel)(_.shuffleWriteBytes.toDouble) / opTurns, "B/turn"),
      ("sink.write_busy_s", writeBusy, "s"),
      ("sink.metrics_busy_s", sum(sinkStages.filterNot(s => writeSites(s.site)))(_.busyS), "s"),
      ("sink.spill_bytes", sum(sinkStages)(_.spillBytes.toDouble), "B"),
      ("sink.bytes_written_per_turn", outcome.getOrElse("bytes", 0L) / turns, "B/turn"),
      ("sink.files_written", outcome.getOrElse("files", 0L).toDouble, "count"),
      ("sink.jobs", sinkStages.map(_.jobId).distinct.size.toDouble, "count"),
      ("stream.batches", warm.map(_.batches.size).sum.toDouble, "count"),
      ("stream.add_batch_ms_p50", median(allBatches.map(_._2)), "ms"),
      ("stream.overhead_ms_p50", median(allBatches.map(b => b._1 - b._2)), "ms"),
      ("stream.state_rows", warm.last.state._1.toDouble, "count"),
      ("stream.state_mem_bytes", warm.last.state._2.toDouble, "B"),
      ("jvm.alloc_bytes_per_turn", median(traced.map(jvmOf).map(_._1.toDouble)) / opTurns, "B/turn"),
      ("jvm.gc_s", median(traced.map(jvmOf).map(_._2 / 1000.0)), "s"),
      ("jvm.jit_s", (first.jvm._2.jitMs - first.jvm._1.jitMs) / 1000.0, "s"),
      ("spark.cpu_util", sum(op.stages)(_.cpuS) / (op.wallS * nproc), "ratio"),
      ("spark.tasks", op.stages.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_failures", op.stages.map(_.failedTasks).sum.toDouble, "count"),
      ("ledger.cover_ratio", busyAll / nproc / untracedWall, "ratio"),
      ("trace.overhead_s", tracedWall - untracedWall, "s"),
      ("trace.overhead_ratio", (tracedWall - untracedWall) / untracedWall, "ratio"),
      ("probe.sinkCountsFromInput_s", pw("sinkCountsFromInput"), "s"),
      ("probe.parseDfSelect_s", pw("parseDfSelect"), "s"),
      ("probe.writeSnapshot_s", pw("writeSnapshot"), "s"))

    val ledgerOut = Map(
      "untraced_wall_s" -> untracedWall, "traced_wall_s" -> tracedWall,
      "median_traced_op" -> op.i, "op_stages" -> stageJson(op.stages, w.opTurns(op.i)),
      "stage_busy_over_nproc_s" -> busyAll / nproc,
      "self_s" -> Map(
        "scan" -> sum(r.scan)(_.busyS) / nproc,
        "kernel" -> sum(r.kernel)(_.busyS) / nproc,
        "agg" -> sum(r.agg)(_.busyS) / nproc,
        "other_stages" -> (busyAll - sum(r.scan ++ r.kernel ++ r.agg)(_.busyS)) / nproc,
        "driver_outside_stages" -> (op.wallS - busyAll / nproc),
        "sink_write_beyond_kernel" ->
          (if (writeBusy == 0) 0.0 else (writeBusy - sum(r.kernel)(_.busyS)) / nproc)),
      "probes" -> probed.map { case (k, (wall, st)) =>
        k -> Map("wall_s" -> wall, "stages" -> stageJson(st, w.turns)) },
      "outcome" -> outcome,
      "sink_totals" -> sinkTotals)
    Result(metrics, failures.toSeq, attempted, ledgerOut)
  }
}
