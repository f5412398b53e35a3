package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.pipeline.{Pipeline, Sink}
import graft.streaming.StreamingPipeline

/** One workload: the timed operation (a public graft entry point) and the
  * untimed check of its output. `execute` returns whatever `check` needs. */
abstract class Workload(val spark: SparkSession, val a: Args) {
  val inputDir: String = a("input")
  val turns: Long = a.long("turns")
  val workDir: Path = Paths.get(a("work"))

  def execute(i: Int): AnyRef
  /** Failures found in the output (empty = correct). */
  def check(i: Int, out: AnyRef): Seq[String]
  /** Ends whatever the operations left running. */
  def close(): Unit = ()
  /** How many operations the input supports. */
  def maxOps: Int = Int.MaxValue
  /** Input turns operation i processes. */
  def opTurns(i: Int): Long = turns
}

object Workload {
  def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "counts_hot6" => new CountsWorkload(spark, a)
    case "stream_hot6" => new StreamWorkload(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The five columns `Pipeline.sinkCounts` reads (the parseDfSelect probe). */
  val aggColumns: Seq[String] = Seq("route_outputs", "technology", "role", "tool", "ts")

  /** Expected counts file: tab-separated key columns then the count. */
  def readCounts(file: Path): Map[String, Long] =
    Files.readAllLines(file).asScala.filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf('\t')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap

  /** The grouping key of a counts row, as the expected files write it. */
  def key(r: Row, n: Int): String =
    (0 until n).map(j => if (r.isNullAt(j)) "\\N" else r.get(j).toString).mkString("\t")

  def diffCounts(got: Map[String, Long], want: Map[String, Long]): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).toSeq.filter(k => got.get(k) != want.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"${bad.size} count keys differ, e.g. " +
      bad.sorted.take(3).map(k => s"[$k] got=${got.get(k)} want=${want.get(k)}").mkString("; "))
  }
}

/** `Sink.writeSnapshot` into a fresh root with 8 chunks, as RunPipeline
  * calls it: the traced run's probe of the sink layer. Its output is checked
  * like an operation's: manifest conservation, `Sink.readSink` row counts
  * equal to the manifests, and per-sink totals equal to the golden file. */
final class SnapshotProbe(spark: SparkSession, inputDir: String, turns: Long, workDir: Path,
                          goldenFile: Path) {
  private val snapshotId = "bench"
  private val numChunks = 8
  private val golden: Map[String, Long] =
    if (Files.exists(goldenFile)) Workload.readCounts(goldenFile) else Map.empty
  var lastTotals: Map[String, Long] = Map.empty

  private def root(i: Int): Path = workDir.resolve(s"snapshot-$i")

  def execute(i: Int): AnyRef =
    Sink.writeSnapshot(spark, spark.read.parquet(inputDir), root(i).toString, snapshotId, numChunks)

  /** Per-chunk manifest fields as written to disk. */
  private def manifests(i: Int): Seq[(Map[String, Long], Map[String, Long])] = {
    val dir = root(i).resolve("_manifests").resolve(snapshotId)
    val files = Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("chunk-\\d+\\.json"))
    val Num = "\"(input_rows|output_events|parsed|failed|dropped)\":\\s*(\\d+)".r
    val Routed = "\"routed_per_sink\":\\s*\\{([^}]*)\\}".r
    val Pair = "\"([^\"]+)\":\\s*(\\d+)".r
    files.map { f =>
      val txt = Files.readString(f)
      val nums = Num.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
      val routed = Routed.findFirstMatchIn(txt).toSeq
        .flatMap(m => Pair.findAllMatchIn(m.group(1)).map(p => p.group(1) -> p.group(2).toLong)).toMap
      (nums, routed)
    }
  }

  def check(i: Int): Seq[String] = {
    val ms = manifests(i)
    val errs = Seq.newBuilder[String]
    if (ms.size != numChunks) errs += s"${ms.size} chunk manifests, want $numChunks"
    val inRows = ms.map(_._1.getOrElse("input_rows", -1L)).sum
    if (inRows != turns) errs += s"manifests count $inRows input rows, generated $turns"
    ms.foreach { case (n, _) =>
      if (n.getOrElse("parsed", -1L) + n.getOrElse("failed", -1L) != n.getOrElse("output_events", -2L))
        errs += s"parsed + failed != output_events in $n"
    }
    val routed = ms.flatMap(_._2.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    lastTotals = routed
    routed.foreach { case (sink, n) =>
      val read = Sink.readSink(spark, root(i).toString, snapshotId, sink).count()
      if (read != n) errs += s"sink $sink: readSink has $read rows, manifests route $n"
    }
    errs ++= Workload.diffCounts(routed, golden).map("per-sink totals vs golden: " + _)
    errs.result()
  }

  def cleanup(i: Int): Unit = Main.deleteTree(root(i))

  /** Manifest totals (parsed, failed, dropped, output events) and the
    * parquet files and bytes under the snapshot's data directory. */
  def outcome(i: Int): Map[String, Long] = {
    val ms = manifests(i).map(_._1)
    val files = Files.walk(root(i).resolve(s"snapshot=$snapshotId")).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    Seq("parsed", "failed", "dropped", "output_events").map(k => k -> ms.map(_(k)).sum).toMap ++
      Map("files" -> files.size.toLong, "bytes" -> files.map(Files.size).sum)
  }
}

/** `Pipeline.sinkCounts(Pipeline.parseDf(...)).collect()` against the
  * DuckDB oracle counts times the replication factor. */
final class CountsWorkload(spark0: SparkSession, a0: Args) extends Workload(spark0, a0) {
  private val expected = Workload.readCounts(Paths.get(a("expected")))

  def execute(i: Int): AnyRef =
    Pipeline.sinkCounts(Pipeline.parseDf(spark, spark.read.parquet(inputDir))).collect()

  def check(i: Int, out: AnyRef): Seq[String] = {
    val rows = out.asInstanceOf[Array[Row]]
    Workload.diffCounts(rows.map(r => Workload.key(r, 8) -> r.getLong(8)).toMap, expected)
  }
}

/** `StreamingPipeline.sinkCounts(parse(readTurns(dir)))` into the memory
  * sink, one query per run. A closed loop: operation i lands input file i
  * in the watched directory and returns once that micro-batch has
  * committed; the first operation also starts the query. After every batch
  * the sink's table must equal the oracle over the files fed so far. */
final class StreamWorkload(spark0: SparkSession, a0: Args) extends Workload(spark0, a0) {
  private val files: Seq[Path] = Files.list(Paths.get(inputDir)).iterator().asScala.toSeq
    .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
  private val batchRows = a.long("batch-rows")
  private val expectedDir = Paths.get(a("expected"))
  private val in = workDir.resolve("stream-in")
  private val table = "perfbench_stream"
  private var query: StreamingQuery = null
  private var seenBatch = -1L

  override def maxOps: Int = files.size
  override def opTurns(i: Int): Long = math.min(batchRows, turns - i * batchRows)

  def execute(i: Int): AnyRef = {
    if (query == null) {
      Files.createDirectories(in)
      val parsed = StreamingPipeline.parse(spark, StreamingPipeline.readTurns(spark, in.toString))
      query = StreamingPipeline.sinkCounts(parsed).writeStream
        .format("memory").queryName(table).outputMode("complete")
        .option("checkpointLocation", workDir.resolve("stream-ckpt").toString)
        .start()
    }
    // atomic rename: the source never lists a half-copied file
    val f = files(i)
    val tmp = in.resolve("." + f.getFileName)
    Files.copy(f, tmp)
    Files.move(tmp, in.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    val fresh = query.recentProgress.toSeq.filter(p => p.batchId > seenBatch && p.numInputRows > 0)
    fresh.lastOption.foreach(p => seenBatch = p.batchId)
    fresh
  }

  /** Per-batch (triggerExecution, addBatch) times in ms. */
  def batches(out: AnyRef): Seq[(Double, Double)] =
    out.asInstanceOf[Seq[StreamingQueryProgress]].map { p =>
      val d = p.durationMs
      (d.get("triggerExecution").toDouble, Option(d.get("addBatch")).map(_.toDouble).getOrElse(0.0))
    }

  def check(i: Int, out: AnyRef): Seq[String] = {
    val progress = out.asInstanceOf[Seq[StreamingQueryProgress]]
    val errs = Seq.newBuilder[String]
    val rowsIn = progress.map(_.numInputRows).sum
    val want = opTurns(i)
    if (rowsIn != want) errs += s"batch for file $i read $rowsIn rows, the file has $want"
    val rows = spark.table(table).select(col("sink"), col("technology"), col("role"), col("tool"),
      year(col("window.start")), month(col("window.start")),
      dayofmonth(col("window.start")), hour(col("window.start")), col("cnt")).collect()
    errs ++= Workload.diffCounts(rows.map(r => Workload.key(r, 8) -> r.getLong(8)).toMap,
      Workload.readCounts(expectedDir.resolve(s"prefix-${i + 1}.tsv")))
    errs.result()
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    spark.catalog.dropTempView(table)
  }

  /** State-store figures after an op's batch. */
  def stateOf(out: AnyRef): (Long, Long) =
    out.asInstanceOf[Seq[StreamingQueryProgress]].lastOption
      .flatMap(_.stateOperators.headOption)
      .map(s => (s.numRowsTotal, s.memoryUsedBytes)).getOrElse((0L, 0L))
}
