package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftParse
import org.apache.spark.storage.StorageLevel
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Dicts
import graft.gen.Transcripts
import graft.pipeline.{Engine, Pipeline}
import graft.rules.{Dropped, Parsed, Registry}

/** The counts kernel runs only each program's cardinality step (its drop
  * guards and splits), never the 1:1 body. These checks hold it to the
  * event count of the whole program: on every generated corpus through
  * Spark, and per program on generated lines that hit each split and drop. */
class CardinalitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = RowParitySpec.session("graft-cardinality")
  override def afterAll(): Unit = spark.stop()

  /** `sinkCounts` over the counts kernel, and over the full kernel's rows. */
  private def countsBothWays(input: DataFrame): (Set[String], Set[String]) = {
    val counts = Pipeline.sinkCounts(Pipeline.parseDf(spark, input))
    val full = GraftParse.persistedRows(Pipeline.parseDf(spark, input), StorageLevel.MEMORY_ONLY)
    try {
      val got = counts.collect().map(_.toString).toSet
      val plan = counts.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert("GraftParse (counts|masked|full)".r.findAllMatchIn(plan).map(_.group(1)).toSeq ==
        Seq(GraftParse.Counts), plan)
      (got, Pipeline.sinkCounts(full).collect().map(_.toString).toSet)
    } finally GraftParse.unpersistRows(full)
  }

  test("counts-mode sink counts equal those of the full rows on every corpus") {
    spark.sparkContext.setLogLevel("ERROR")
    (("main", Transcripts.input _) +: RowParitySpec.corpora).foreach { case (name, input) =>
      val (counts, full) = countsBothWays(input(spark, sf))
      assert(full.nonEmpty, name)
      assert(counts == full, s"$name: counts mode ${counts -- full}, full rows ${full -- counts}")
    }
  }

  // ---- per program, on generated lines --------------------------------

  private val paloLine =
    "<134>Aug 16 10:00:00 fw1 1,2026/08/16 10:00:00,001,TRAFFIC,end,1,2026/08/16 10:00:00," +
      "10.1.2.3,172.16.0.5,0.0.0.0,0.0.0.0,rule-allow,,,tcp,allow,1024,443,100,5,6"
  private val vpcflowLine =
    "2 123456789012 eni-0a1b2c 10.0.0.1 10.0.0.2 443 49152 6 10 840 1605139197 1605139257 ACCEPT OK"
  private val signinRecord =
    """{"resultType":"0","identity":"Ann","callerIpAddress":"10.1.2.3",""" +
      """"properties":{"userPrincipalName":"ann@example.com","conditionalAccessStatus":"success"}}"""

  /** One line aimed at a split or a drop, or at nothing in particular. */
  private val piece: Gen[String] = Gen.oneOf(
    Gen.oneOf(paloLine, "<134>Aug 16 10:00:01 fw2 garbage line", ""),
    Gen.oneOf(vpcflowLine, "version account-id interface-id srcaddr",
      "2 123456789012 eni-0a1b2c - - - - - - - 1605139197 1605139257 - NODATA"),
    Gen.oneOf(s"""{"records": [$signinRecord, $signinRecord]}""", s"""{"records": [$signinRecord]}""",
      """{"records": []}""", """{"records": "x"}""", s"""{"other": $signinRecord}""",
      """{"records": [""", "not json", "[1, 2]", "{}"),
    Gen.asciiPrintableStr.map(_.take(40)))

  /** Texts for every program: null, empty and newline-only text, single
    * lines, and lines joined with embedded and trailing newlines. */
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""), 1 -> Gen.oneOf("\n", "\n\n", "\r\n"),
    4 -> piece,
    4 -> (for (ps <- Gen.listOfN(3, piece); n <- Gen.choose(1, 3); trail <- Gen.oneOf("", "\n"))
      yield ps.take(n).mkString("\n") + trail))

  private lazy val dicts = Dicts.build()

  /** The whole program's event count, or None when its 1:1 body throws. */
  private def fullCount(tech: String, text: String, tsMillis: Long): Option[Int] = {
    val (cfg, program) = Engine.techOf(tech)
    try Some(Engine.parse(cfg, program, text, Engine.parseCtx(tsMillis), dicts) match {
      case Dropped => 0
      case Parsed(events) => events.size
      case other => throw new AssertionError(s"$tech returned unfinished $other")
    }) catch { case _: Exception => None }
  }

  test("every program's cardinality step counts the events of the whole program") {
    val ts = 1765879200000L
    val prop = Prop.forAll(text) { t =>
      Registry.programs.keys.forall { tech =>
        val (cfg, program) = Engine.techOf(tech)
        val counted = scala.util.Try(Engine.parseCardinality(cfg, program, t, ts, dicts)).toOption
        val full = fullCount(tech, t, ts)
        // a step that throws also throws in the whole program; a body that
        // throws fails only the whole program
        val ok = full.isEmpty || counted == full
        if (!ok) println(s"$tech on ${Option(t).map(_.replace("\n", "\\n"))}: counted $counted, whole $full")
        ok
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(r.passed, r.status.toString)
  }

  test("the generated lines reach each split and drop") {
    // palo splits on newlines, vpcflow drops, azure.signin fans out records[]
    val ts = 1765879200000L
    assert(fullCount("palo.alto.fw", paloLine + "\n" + paloLine + "\n", ts).contains(2))
    assert(fullCount("palo.alto.fw", null, ts).contains(1))
    assert(fullCount("aws.vpcflow", "", ts).contains(0))
    assert(fullCount("aws.vpcflow", "version 2", ts).contains(0))
    assert(fullCount("aws.vpcflow", vpcflowLine.replace("ACCEPT OK", "- NODATA"), ts).contains(0))
    assert(fullCount("aws.vpcflow", vpcflowLine, ts).contains(1))
    assert(fullCount("azure.signin", s"""{"records": [$signinRecord, $signinRecord]}""", ts).contains(2))
    assert(fullCount("azure.signin", """{"records": []}""", ts).contains(1))
    assert(fullCount("azure.signin", """{"records": [""", ts).contains(1))
    assert(Registry.programs.values.count(_.splits) > 3)
    assert(!Registry.programs("linux.rsyslog").splits && !Registry.programs("unknown").splits)
  }
}
