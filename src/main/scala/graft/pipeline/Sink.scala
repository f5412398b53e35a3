package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Routed sink writer with snapshot manifests, per-partition lineage +
  * metrics, and checkpoint-resume (north rule: "resumable from checkpoint
  * with per-partition lineage and parse/drop/route metrics persisted
  * alongside each snapshot").
  *
  * Layout under `rootDir` (partitioned-Parquet realization of the Iceberg
  * table contract — no Iceberg runtime ships in /opt/spark/jars, SURVEY.md
  * §7.1; the manifest layer below is the part Iceberg would otherwise
  * provide, kept so a real catalog can be swapped in):
  *
  *   snapshot=<id>/sink=<s>/chunk=<c>/...parquet  routed rows per output pipeline
  *   _manifests/<id>/snapshot.json                snapshot config (numChunks)
  *   _manifests/<id>/chunk-<c>.json               lineage + metrics per chunk
  *   _manifests/<id>/_ledger/<c>                  commit marker (atomic rename)
  *
  * Data paths are SNAPSHOT-SCOPED: two snapshots of the same rootDir never
  * overwrite each other, so a ledger can never claim rows another snapshot
  * replaced. `numChunks` is persisted in snapshot.json on the first
  * invocation and validated on every resume — resuming with a different
  * chunking (which would silently mis-bucket rows) is rejected.
  *
  * Chunk = deterministic hash bucket of conv_id (`pmod(hash(conv_id), n)`),
  * i.e. the same explicit partitioning the rest of the engine keys on. A
  * chunk is the unit of both failure recovery and lineage: its manifest
  * records input rows, parsed/failed/dropped, and per-sink routed counts.
  * Re-running a snapshot skips chunks whose ledger marker exists.
  *
  * The write is ONE input pass and one SQL execution, with no persist:
  * pending chunks are parsed once (drop{}-ed turns materialize as marker
  * rows so conservation metrics need no second scan), fanned out by
  * exploding route_outputs, and written with dynamic partition overwrite on
  * (sink, chunk) — the sequential non-cloned multi-sink strategy of the
  * reference (ref: build_scripts/README.md:54-56) without re-scanning the
  * input per chunk or per sink. The manifest metrics are observed on the
  * pre-explode rows inside that write (`Dataset.observe`), in its result
  * stage, so a retried task is counted once. Manifests and ledger markers
  * commit after the write lands, making the protocol idempotent
  * (at-least-once write, exactly-once visibility).
  */
object Sink {

  final case class ChunkMetrics(
    chunk: Int,
    inputRows: Long,
    outputEvents: Long,
    parsed: Long,
    failed: Long,
    dropped: Long,
    routedPerSink: Map[String, Long])

  def ledgerDir(rootDir: String, snapshotId: String): Path =
    Paths.get(rootDir, "_manifests", snapshotId, "_ledger")

  def completedChunks(rootDir: String, snapshotId: String): Set[Int] = {
    val d = ledgerDir(rootDir, snapshotId)
    if (!Files.isDirectory(d)) Set.empty
    else {
      val it = Files.list(d)
      try it.iterator().asScala.map(_.getFileName.toString)
        .flatMap(_.toIntOption).toSet
      finally it.close()
    }
  }

  /** Record numChunks at snapshot creation; reject a resume that disagrees. */
  private def validateSnapshotManifest(rootDir: String, snapshotId: String,
                                       numChunks: Int): Unit = {
    val dir = Paths.get(rootDir, "_manifests", snapshotId)
    Files.createDirectories(dir)
    val f = dir.resolve("snapshot.json")
    if (Files.exists(f)) {
      val txt = Files.readString(f)
      val recorded = "\"num_chunks\":\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      require(recorded.contains(numChunks),
        s"snapshot $snapshotId was created with num_chunks=${recorded.orNull}; " +
          s"resuming with numChunks=$numChunks would mis-bucket rows")
    } else {
      val tmp = dir.resolve(".snapshot.json.tmp")
      Files.writeString(tmp, s"""{"snapshot": "$snapshotId", "num_chunks": $numChunks}""")
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write one snapshot of the routed pipeline output. Returns metrics for
    * the chunks processed in THIS invocation (resumed chunks are skipped). */
  def writeSnapshot(spark: SparkSession, input: DataFrame, rootDir: String,
                    snapshotId: String, numChunks: Int = 8): Seq[ChunkMetrics] = {
    require(numChunks >= 1, s"numChunks must be at least 1, got $numChunks")
    validateSnapshotManifest(rootDir, snapshotId, numChunks)
    Files.createDirectories(ledgerDir(rootDir, snapshotId))
    val done = completedChunks(rootDir, snapshotId)
    val pending = (0 until numChunks).filterNot(done)
    if (pending.isEmpty) return Nil

    val chunkOf = pmod(hash(col("conv_id")), lit(numChunks))
    val pendingInput = input.filter(chunkOf.isin(pending: _*))
    // ONE parse pass over all pending chunks; a turn that yields no event
    // (dropped, or split into none) becomes a marker row (empty
    // route_outputs), so conservation needs no second input scan.
    // conv_id passes through the kernel unchanged, so the chunk is
    // re-derivable on the output side with the same hash expression.
    val counted = new Observation()
    Pipeline.parseRows(spark, pendingInput, emitDropped = true).withColumn("chunk", chunkOf)
      .observe(counted, udaf(ManifestCounts, Encoders.product[SinkRow])(col("chunk"), col("sub_idx"),
        col("parse_rule"), col("parse_ok"), col("route_outputs")).as("chunks"))
      // explode the route fan-out; marker rows have no outputs, so the
      // explode drops them from the data files. Dynamic overwrite of only
      // the (sink, chunk) partitions this invocation owns.
      .withColumn("sink", explode(col("route_outputs")))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sink", "chunk")
      .parquet(s"$rootDir/snapshot=$snapshotId")

    val observed = counted.get("chunks").asInstanceOf[collection.Seq[Row]].map { r =>
      ChunkMetrics(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getMap[String, Long](6).toMap)
    }.map(m => m.chunk -> m).toMap
    pending.map { c =>
      val m = observed.getOrElse(c, ChunkMetrics(c, 0L, 0L, 0L, 0L, 0L, Map.empty))
      writeManifest(rootDir, snapshotId, m)
      commitLedger(rootDir, snapshotId, c)
      m
    }
  }

  /** The per-chunk manifest counts of one write, as a single typed
    * aggregate: the plan holds one expression however many chunks and sinks
    * there are, and the buffer holds one entry per chunk seen. */
  private object ManifestCounts extends Aggregator[SinkRow, ByChunk, Seq[ChunkMetrics]] {
    def zero: ByChunk = mutable.HashMap.empty
    def reduce(b: ByChunk, r: SinkRow): ByChunk = { b.getOrElseUpdate(r.chunk, new ChunkCounts).count(r); b }
    def merge(a: ByChunk, b: ByChunk): ByChunk = {
      b.foreach { case (k, c) => a.getOrElseUpdate(k, new ChunkCounts).merge(c) }
      a
    }
    def finish(b: ByChunk): Seq[ChunkMetrics] = b.toSeq.map { case (k, c) => c.metrics(k) }
    def bufferEncoder: Encoder[ByChunk] = Encoders.javaSerialization
    def outputEncoder: Encoder[Seq[ChunkMetrics]] = ExpressionEncoder[Seq[ChunkMetrics]]()
  }

  /** The columns of a parsed row that [[ManifestCounts]] reads. */
  private[pipeline] final case class SinkRow(chunk: Int, sub_idx: Int, parse_rule: String, parse_ok: Boolean,
                                             route_outputs: Seq[String])

  private type ByChunk = mutable.HashMap[Int, ChunkCounts]

  private[pipeline] final class ChunkCounts extends Serializable {
    private var inputRows, outputEvents, dropped, failed = 0L
    private val routed = mutable.HashMap.empty[String, Long]

    /** `sub_idx = 0` is an input row; a marker row (`parse_rule =
      * 'dropped'`) is dropped, any other row an output event, failed unless
      * `parse_ok`; each element of route_outputs is one routed row. */
    def count(r: SinkRow): Unit = {
      if (r.sub_idx == 0) inputRows += 1
      if (r.parse_rule == "dropped") dropped += 1
      else {
        outputEvents += 1
        if (!r.parse_ok) failed += 1
      }
      if (r.route_outputs != null) r.route_outputs.foreach(route(_, 1L))
    }
    def merge(o: ChunkCounts): Unit = {
      inputRows += o.inputRows; outputEvents += o.outputEvents
      dropped += o.dropped; failed += o.failed
      o.routed.foreach { case (s, n) => route(s, n) }
    }
    private def route(sink: String, n: Long): Unit = routed(sink) = routed.getOrElse(sink, 0L) + n
    def metrics(chunk: Int): ChunkMetrics = ChunkMetrics(chunk, inputRows, outputEvents,
      parsed = outputEvents - failed, failed = failed, dropped = dropped, routedPerSink = routed.toMap)
  }

  private def writeManifest(rootDir: String, snapshotId: String, m: ChunkMetrics): Unit = {
    val routed = m.routedPerSink.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val json =
      s"""{
         |  "snapshot": "$snapshotId",
         |  "chunk": ${m.chunk},
         |  "input_rows": ${m.inputRows},
         |  "output_events": ${m.outputEvents},
         |  "parsed": ${m.parsed},
         |  "failed": ${m.failed},
         |  "dropped": ${m.dropped},
         |  "routed_per_sink": $routed
         |}""".stripMargin
    val dir = Paths.get(rootDir, "_manifests", snapshotId)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".chunk-${m.chunk}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(s"chunk-${m.chunk}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def commitLedger(rootDir: String, snapshotId: String, c: Int): Unit = {
    val dir = ledgerDir(rootDir, snapshotId)
    val tmp = dir.resolve(s".$c.tmp")
    Files.writeString(tmp, "ok")
    Files.move(tmp, dir.resolve(c.toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read back one sink's routed rows across all chunks of a snapshot
    * (same schema as the parsed table). */
  def readSink(spark: SparkSession, rootDir: String, snapshotId: String,
               sink: String): DataFrame =
    spark.read.option("basePath", s"$rootDir/snapshot=$snapshotId")
      .parquet(s"$rootDir/snapshot=$snapshotId/sink=$sink")
      .drop("sink", "chunk")

  /** The s3 output's actual byte format (ref: config/outputs/s3_output.conf:
    * 8-22): `codec => json_lines` + `encoding => gzip`, laid out under
    * `prefix => "%{[@metadata][index]}/%{+xxxx/MM/dd}"`. Spark-first
    * realization: gzip JSON-lines files partitioned by (index, y, m, d) —
    * the index comes from route_index with its dated suffix stripped (the
    * prefix template re-adds the date as folders), and the s3 plugin's
    * size/time `rotation_strategy` maps to `maxRecordsPerFile` (each rolled
    * file is an independently-readable .json.gz, exactly like a rotated
    * upload part). Rows are the ones routed to the "s3" output.
    *
    * Documented deviation: the reference's `%{+xxxx/MM/dd}` is a Joda
    * WEEK-BASED year rendered in UTC, while `year(ts)` is the calendar year
    * in the session timezone — the y= folder differs for events in the
    * ISO-week-year boundary days (circa Dec 29–Jan 3) and under non-UTC
    * sessions (this pipeline pins spark.sql.session.timeZone=UTC, so only
    * the boundary-days case applies here). File CONTENTS are unaffected. */
  def writeS3JsonLines(spark: SparkSession, parsed: DataFrame, dir: String,
                       maxRecordsPerFile: Int = 1000000): Unit =
    parsed
      .filter(array_contains(col("route_outputs"), "s3"))
      .withColumn("index", regexp_replace(col("route_index"), "_\\d{4}\\.\\d{2}\\.\\d{2}$", ""))
      .withColumn("y", year(col("ts")))
      .withColumn("m", month(col("ts")))
      .withColumn("d", dayofmonth(col("ts")))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("index", "y", "m", "d")
      .json(dir)

  /** Read a json-lines gzip sink back (Spark auto-decompresses .gz). */
  def readS3JsonLines(spark: SparkSession, dir: String): DataFrame =
    spark.read.json(dir)
}
