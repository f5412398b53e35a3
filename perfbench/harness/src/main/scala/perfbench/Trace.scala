package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One stage's task metrics, summed over its successful tasks. */
final class StageRec(val id: Int) {
  var name = ""
  /** Call site of the SQL execution the stage ran for (e.g. "parquet at
    * Sink.scala:120"); adaptive execution's own stage jobs keep it. */
  var site = ""
  var jobId = -1
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  val recordsReadPerTask = mutable.ArrayBuffer.empty[Long]

  def busyS: Double = runMs / 1000.0
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1000.0
}

/** Benchmark-registered listener: task metrics per stage and the jobs each
  * stage belongs to, keyed by the driver wall-clock time the job started so
  * every job can be attributed to the operation that was running. Only
  * registered in traced runs. */
final class StageLedger extends SparkListener {
  private val stages = mutable.Map.empty[Int, StageRec]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobDone = mutable.Set.empty[Int]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val execSite = mutable.Map.empty[Long, String]

  private def rec(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = e.stageInfos.map(_.stageId)
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    e.stageInfos.foreach { si =>
      val r = rec(si.stageId)
      if (r.jobId < 0) r.jobId = e.jobId
      r.name = si.name
      r.site = site.getOrElse(si.name)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobDone += e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = rec(e.stageId)
    if (e.reason != Success) { r.failedTasks += 1; return }
    val m = e.taskMetrics
    if (m == null) return
    r.tasks += 1
    r.runMs += m.executorRunTime
    r.cpuNs += m.executorCpuTime
    r.gcMs += m.jvmGCTime
    r.inputBytes += m.inputMetrics.bytesRead
    r.inputRecords += m.inputMetrics.recordsRead
    r.outputBytes += m.outputMetrics.bytesWritten
    r.outputRecords += m.outputMetrics.recordsWritten
    val sr = m.shuffleReadMetrics
    r.shuffleReadBytes += sr.totalBytesRead
    r.shuffleReadRecords += sr.recordsRead
    r.fetchWaitMs += sr.fetchWaitTime
    r.recordsReadPerTask += sr.recordsRead
    r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  /** Jobs started in [fromMs, toMs], after waiting (bounded) for the
    * asynchronous listener bus to deliver their end events. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Int] = {
    def ids = synchronized(jobStart.collect { case (j, t) if t >= fromMs && t <= toMs => j }.toSeq.sorted)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (synchronized(!ids.forall(jobDone)) && System.nanoTime() < deadline) Thread.sleep(20)
    // task-end events of a job are posted before its job-end event
    ids
  }

  def stagesOf(jobs: Seq[Int]): Seq[StageRec] = synchronized {
    jobs.flatMap(j => jobStages.getOrElse(j, Nil)).distinct.sorted
      .flatMap(stages.get).filter(_.tasks > 0)
  }
}

/** JVM readings taken before and after each operation. */
object JvmProbe {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  threads.setThreadAllocatedMemoryEnabled(true)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  final case class Reading(allocBytes: Long, gcMs: Long, jitMs: Long)

  def read(): Reading = {
    val ids = threads.getAllThreadIds
    val alloc = threads.getThreadAllocatedBytes(ids).iterator.filter(_ > 0).sum
    Reading(alloc, gcs.map(_.getCollectionTime).filter(_ > 0).sum, jit.getTotalCompilationTime)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Heap in use after a forced full collection: what the program still
    * holds, without the garbage that young collections leave in the old
    * generation until a concurrent cycle runs. */
  def liveHeapBytes(): Long = {
    System.gc()
    heapPools.map(_.getCollectionUsage.getUsed).sum
  }
}

/** Driver-side spans from the benchmark's own code around the public calls. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()

  def apply[T](name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally done += Span(name, parent, t0, System.nanoTime())
  }

  def seconds(name: String): Double = done.filter(_.name == name).map(_.seconds).sum

  def toJson: Seq[Map[String, Any]] = done.toSeq.map(s => Map(
    "name" -> s.name, "parent" -> s.parent,
    "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9))
}
