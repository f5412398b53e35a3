package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** `--key value` arguments. */
final class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
}

object Args {
  def parse(xs: Seq[String]): Args =
    new Args(xs.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
}

/** Harness entry point, one JVM per call:
  *   prep --events <dir> --out <dir> --nproc N --local-dir <dir>
  *   run  --workload W --input <dir> --turns N --work <dir> --seconds S
  *        --trace 0|1 --nproc N --local-dir <dir> --result <file> [...]
  * The result file is JSON; perfbench/run.py turns it into the result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq.drop(1))
    argv.headOption match {
      case Some("prep") => Prep.run(a)
      case Some("run") => Runner.run(a)
      case _ => throw new IllegalArgumentException("usage: Main prep|run --key value ...")
    }
  }

  /** The session RunPipeline builds, sized to this machine. */
  def session(a: Args): SparkSession = {
    val n = a.int("nproc")
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .config("spark.sql.warehouse.dir", Paths.get(a("local-dir"), "warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", 1000)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }

  def writeJson(file: String, v: Map[String, Any]): Unit = {
    val p = Paths.get(file)
    Files.createDirectories(p.getParent)
    Files.writeString(p, Json(v) + "\n")
  }
}
