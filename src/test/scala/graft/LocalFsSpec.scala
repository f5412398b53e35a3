package graft

import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FsConstants, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.streaming.StreamingPipeline

/** graft.io.LocalFs against Hadoop's org.apache.hadoop.fs.local.LocalFs:
  * the same FileContext operations in twin temp dirs leave the same files,
  * permissions, `.crc` sidecars and link statuses. */
class LocalFsSpec extends AnyFunSuite {

  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  /** Everything under `root`: relative path → (POSIX permissions, bytes of a file). */
  private def tree(root: JPath): Map[String, (String, String)] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      val perms = java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      val body = if (Files.isRegularFile(p) && !Files.isSymbolicLink(p)) new String(Files.readAllBytes(p), "ISO-8859-1") else ""
      root.relativize(p).toString -> (perms, body)
    }.toMap

  /** `body`'s result shown by `show`, or the class of what it threw. */
  private def outcome[T](body: => T)(show: T => String): Either[String, String] =
    Try(body).toEither.left.map(_.getClass.getName).map(show)

  /** Run one script of operations under a fresh temp dir with `impl`. */
  private def run(impl: String): (Map[String, (String, String)], Seq[Either[String, String]]) = {
    val fc = fileContext(impl)
    val root = Files.createTempDirectory("graft-localfs-").toRealPath()
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    def write(rel: String, mode: String, body: String): Unit = {
      val out = fc.create(p(rel), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(new FsPermission(mode)))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def linkStatus(rel: String) = outcome(fc.getFileLinkStatus(p(rel))) { (s: FileStatus) =>
      s"file=${s.isFile} dir=${s.isDirectory} link=${s.isSymlink} len=${s.getLen} " +
        s"perm=${s.getPermission} path=${s.getPath.toUri.getPath.stripPrefix(root.toString)}"
    }
    fc.mkdir(p("d"), new FsPermission("755"), true)
    fc.mkdir(p("sticky"), new FsPermission("755"), true)
    fc.setPermission(p("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    write("d/a", "644", "first")
    write("d/b", "600", "second")
    write("d/c", "644", "third")
    val outcomes = Seq(
      outcome(fc.rename(p("d/a"), p("d/a2")))(_ => "renamed"),
      outcome(fc.rename(p("d/b"), p("d/a2")))(_ => "renamed"),
      outcome(fc.rename(p("d/c"), p("d/a2"), Options.Rename.OVERWRITE))(_ => "renamed"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("d/a2"))
    val statuses = Seq("link", "d/a2", "d", "sticky", "missing").map(linkStatus)
    (tree(root), outcomes ++ statuses)
  }

  test("graft.io.LocalFs leaves the same files, permissions, .crc sidecars and link statuses as Hadoop's LocalFs") {
    assert(fileContext(classOf[graft.io.LocalFs].getName).getDefaultFileSystem.isInstanceOf[graft.io.LocalFs])
    val (hadoopTree, hadoopOut) = run("org.apache.hadoop.fs.local.LocalFs")
    val (graftTree, graftOut) = run(classOf[graft.io.LocalFs].getName)
    assert(graftTree == hadoopTree)
    assert(graftOut == hadoopOut)
    // the script covers what a checkpoint write does
    assert(hadoopTree.get("d").contains(("rwxr-xr-x", "")))
    assert(hadoopTree.get("d/a2").contains(("rw-r--r--", "third")))
    assert(hadoopTree.contains("d/.a2.crc") && hadoopTree.contains("d/.b.crc"))
    assert(hadoopOut.take(3) == Seq(Right("renamed"),
      Left("org.apache.hadoop.fs.FileAlreadyExistsException"), Right("renamed")))
    assert(hadoopOut(6).exists(_.contains("perm=rwxrwxrwt")), hadoopOut(6))
    assert(hadoopOut.last == Left("java.io.FileNotFoundException"))
  }
}

/** A streaming query's checkpoint (offset, commit and source logs, state
  * store deltas) launches no `readlink` or `chmod` process: the session's
  * `file:` FileContext is graft.io.LocalFs. Process launches are read from
  * a JDK Flight Recorder recording of `jdk.ProcessStart`. */
class CheckpointForkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-checkpoint-forks")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** Commands of the processes started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks-", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.delete(f) }
  }

  test("a streaming sinkCounts query launches no readlink or chmod process") {
    spark.sparkContext.setLogLevel("ERROR")
    val inDir = Files.createTempDirectory("graft-forks-in-").toString
    val ckpt = Files.createTempDirectory("graft-forks-ckpt-").toString
    // 2,000 turns from the corpus generator over a synthetic events table, in two files
    spark.range(2000).selectExpr("id AS event_id", "timestamp_seconds(1700000000 + id) AS ts",
      "id % 97 AS user_id").createOrReplaceTempView("events")
    spark.sql(s"WITH ${gen.Transcripts.cteTxt} " +
      "SELECT conv_id, CAST(event_id AS INT) AS turn_idx, role, text, tool, ts FROM ge_txt")
      .repartition(2).write.parquet(inDir + "/t")
    val stream = spark.readStream.schema(StreamingPipeline.turnSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir + "/t")
    val counts = StreamingPipeline.sinkCounts(StreamingPipeline.parse(spark, stream))
    val commands = processStarts {
      StreamingPipeline.runToMemory(counts, "fork_counts", OutputMode.Complete(), ckpt)
      new ProcessBuilder("true").start().waitFor() // the recorder sees launches
    }
    assert(commands.exists(_.startsWith("true")), commands)
    assert(spark.table("fork_counts").agg(sum(col("cnt"))).head().getLong(0) > 0)
    val forks = commands.filter(c => c.startsWith("readlink") || c.startsWith("chmod"))
    val launched = forks.size
    assert(launched == 0, s"e.g. ${forks.take(3)}")
  }
}
