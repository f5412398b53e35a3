package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gen.Transcripts
import graft.pipeline.Pipeline

/** The row kernel's full-width output on every generated corpus must keep
  * the row count and order-independent fingerprint recorded in
  * `row_goldens.tsv`. The goldens were taken while a second, independent
  * typed kernel still existed and agreed with this one row for row, so a
  * change in any column of any row on any corpus fails here. */
class RowParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  import RowParitySpec._

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = session("graft-rowparity")
  override def afterAll(): Unit = spark.stop()

  private lazy val goldens: Map[String, (Long, BigDecimal)] = {
    val src = scala.io.Source.fromResource("row_goldens.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).map {
      case Array(name, rows, fp) => name -> (rows.toLong, BigDecimal(fp))
    }.toMap
    finally src.close()
  }

  private def assertGolden(name: String, input: (SparkSession, String) => DataFrame): Unit = {
    val got = fingerprint(Pipeline.parseDf(spark, input(spark, sf)))
    assert(goldens.get(name).contains(got), s"$name: got (rows, fingerprint) = $got, golden ${goldens.get(name)}")
  }

  test("row kernel matches its recorded golden on the main corpus") {
    spark.sparkContext.setLogLevel("ERROR")
    assertGolden("main", Transcripts.input)
  }

  test("row kernel matches its recorded golden on every side corpus") {
    assert(goldens.keySet == corpora.map(_._1).toSet + "main", "golden file and corpus list differ")
    corpora.foreach { case (name, input) => assertGolden(name, input) }
  }

  test("emitDropped materializes exactly the drop{}-ed turns as marker rows") {
    val input = Transcripts.input(spark, sf)
    val n = input.count()
    val plain = Pipeline.parseDf(spark, input).cache()
    val withDropped = Pipeline.parseRows(spark, input, emitDropped = true).cache()
    val markers = withDropped.filter(col("parse_rule") === "dropped")
    // markers have empty route_outputs (invisible to the router/explode)
    assert(markers.filter(size(col("route_outputs")) =!= 0).count() == 0)
    assert(markers.filter(col("parse_ok")).count() == 0)
    // input conservation in ONE pass: sub_idx=0 rows (incl. markers) == input
    assert(withDropped.filter(col("sub_idx") === 0).count() == n)
    // non-marker rows identical to the plain path
    val nonMarkers = withDropped.filter(col("parse_rule") =!= "dropped")
    assert(nonMarkers.exceptAll(plain).count() == 0 &&
      plain.exceptAll(nonMarkers).count() == 0)
    plain.unpersist(); withDropped.unpersist()
  }
}

object RowParitySpec {
  def session(name: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(name)
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (row count, sum of xxhash64 over every column of each row). The sum is
    * taken as decimal(38,0), which cannot overflow under ANSI mode. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Re-record the goldens from the sf0.001 input, after a deliberate change
    * of kernel output: `Test/runMain graft.RowParitySpec <sf0.001 dir> <tsv>`. */
  def main(args: Array[String]): Unit = {
    val Array(sf, out) = args
    val spark = session("graft-rowparity-record")
    spark.sparkContext.setLogLevel("ERROR")
    val lines = (("main", Transcripts.input _) +: corpora).map { case (name, input) =>
      val (rows, fp) = fingerprint(Pipeline.parseDf(spark, input(spark, sf)))
      s"$name\t$rows\t$fp"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ("# corpus\trows\tfingerprint (sf0.001, full-width parseDf)" +: lines).mkString("", "\n", "\n").getBytes)
    spark.stop()
  }

  /** The side corpora, one per generator besides the main input. */
  val corpora: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("csv", Transcripts.csvInput), ("xml", Transcripts.xmlInput),
    ("cisco", Transcripts.ciscoInput), ("okta", Transcripts.oktaInput),
    ("cloudtrail", Transcripts.ctInput), ("windows", Transcripts.winInput),
    ("proofpoint", Transcripts.ppInput), ("atp", Transcripts.atpInput),
    ("ppmessages", Transcripts.ppmInput), ("elb", Transcripts.elbInput),
    ("snowflake", Transcripts.sfInput), ("office", Transcripts.offInput),
    ("ise", Transcripts.iseInput), ("iis", Transcripts.iisInput),
    ("hdfs", Transcripts.hdfsInput), ("f5", Transcripts.f5Input),
    ("cloudfront", Transcripts.cfInput), ("netflow", Transcripts.nfInput),
    ("guardduty", Transcripts.gdInput), ("securityalert", Transcripts.saInput),
    ("linuxhost", Transcripts.lhInput), ("checkpoint", Transcripts.ckInput),
    ("github", Transcripts.ghInput), ("citrix", Transcripts.cxInput),
    ("meraki", Transcripts.mkInput), ("trap", Transcripts.ptInput),
    ("securityhub", Transcripts.shInput), ("a10", Transcripts.a10Input),
    ("snowfam", graft.rules.SnowflakeFamily.allInput),
    ("eh_insaudit", Transcripts.ehaInput), ("eh_insops", Transcripts.ehoInput),
    ("eh_azaudit", Transcripts.ehzInput), ("eh_risky", Transcripts.ehrInput),
    ("eh_email", Transcripts.ehmInput), ("eh_userrisk", Transcripts.ehuInput),
    ("eh_incident", Transcripts.ehiInput), ("eh_anomalies", Transcripts.ehnInput),
    ("eh_signin", Transcripts.ehsInput), ("symantec", Transcripts.symInput),
    ("infoblox", Transcripts.ibInput), ("juniper", Transcripts.jnInput),
    ("mispfeed", Transcripts.mfInput), ("suricata", Transcripts.soInput),
    ("apache", Transcripts.apInput), ("o365dlp", Transcripts.dlpInput),
    ("msgtrkg", Transcripts.mtInput), ("azurefw", Transcripts.fwInput),
    ("pod", Transcripts.podInput), ("zeek", Transcripts.zkInput),
    ("hxsmall", Transcripts.hxInput), ("beats", Transcripts.baInput),
    ("syncplicity", Transcripts.syInput), ("nistkafka", Transcripts.nkInput),
    ("gheoci", Transcripts.goInput), ("rsagg", Transcripts.rgInput),
    ("mcas", Transcripts.mcInput), ("cpops", Transcripts.chInput),
    ("as400", Transcripts.a4Input), ("vcnaix", Transcripts.vxInput),
    ("sap", Transcripts.spInput), ("mpki", Transcripts.mpInput),
    ("netscaler", Transcripts.ntInput), ("pulse", Transcripts.jpInput),
    ("tanium", Transcripts.tnInput), ("guardium", Transcripts.gdmInput),
    ("sdwan", Transcripts.sdInput), ("secmgr", Transcripts.shmInput),
    ("swg", Transcripts.swgInput), ("scp", Transcripts.scpInput),
    ("forescout", Transcripts.fsInput), ("dna", Transcripts.dnaInput),
    ("f5gtm", Transcripts.fgInput), ("lieberman", Transcripts.lbInput),
    ("tenable", Transcripts.tbInput), ("tenablevuln", Transcripts.tvInput),
    ("layer7", Transcripts.l7Input), ("ata", Transcripts.mataInput),
    ("spectracom", Transcripts.ntpInput), ("sdwanos", Transcripts.vosInput),
    ("a10waf", Transcripts.awInput), ("ciscorouter", Transcripts.crInput),
    ("ciscoapic", Transcripts.caInput), ("stealthwatch", Transcripts.swtInput),
    ("accellion", Transcripts.acInput), ("onapsis", Transcripts.onpInput),
    ("symantecdlp", Transcripts.sdlInput), ("ciscoaci", Transcripts.aciInput),
    ("ciscowlc", Transcripts.wlcInput), ("ehatp", Transcripts.eatInput),
    ("ehseccenter", Transcripts.ehcInput), ("graphsec", Transcripts.graInput),
    ("riverbednetim", Transcripts.rvbInput), ("awsapp", Transcripts.appInput),
    ("taniuminv", Transcripts.tinInput), ("virtlinux", Transcripts.vlInput),
    ("pingfed", Transcripts.pfInput), ("rvbaudit", Transcripts.rauInput),
    ("rvbvnes", Transcripts.rvnInput), ("rvbscportal", Transcripts.rscInput),
    ("rvbopnet", Transcripts.ropInput), ("ubiqbridge", Transcripts.ubbInput),
    ("ubiqctrl", Transcripts.ubcInput), ("ciscoap", Transcripts.cwaInput),
    ("ciscowaas", Transcripts.cwsInput), ("apacheaccess", Transcripts.apaInput),
    ("apacheaudit", Transcripts.apeInput), ("mwgproxy", Transcripts.mwgInput),
    ("iisflat", Transcripts.iifInput), ("jira", Transcripts.jirInput),
    ("jiraaudit", Transcripts.jiaInput), ("bomgar", Transcripts.bgrInput),
    ("tufin", Transcripts.tufInput), ("hpnnm", Transcripts.hpnInput),
    ("cloudguard", Transcripts.ocgInput), ("ociobject", Transcripts.oobInput),
    ("jamf", Transcripts.jmfInput), ("sapbtp", Transcripts.btpInput),
    ("o365dlpapi", Transcripts.odlInput), ("graphident", Transcripts.gipInput),
    ("scorecard", Transcripts.sscInput), ("adusers", Transcripts.aduInput),
    ("virtwin", Transcripts.vwInput), ("impala", Transcripts.impInput),
    ("tenablesc", Transcripts.tscInput), ("sapcc", Transcripts.sccInput),
    ("citrixadmin", Transcripts.ctaInput), ("awslb", Transcripts.albInput),
    ("skyhighatd", Transcripts.atdInput), ("preempt", Transcripts.preInput),
    ("scalaudit", Transcripts.sclInput), ("infobloxftp", Transcripts.ifxInput),
    ("winexport", Transcripts.wxpInput), ("forescoutinv", Transcripts.fsdInput))
}

/** The custom codegen Expression must equal the Catalyst higher-order
  * formula bit-for-bit (same sequential double fold) and actually run
  * inside whole-stage codegen. */
class CosineSimSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-cosine")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("CosineSim == higher-order-function formula on all embedding pairs") {
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") % 7 === col("b.vec_id") % 11) // arbitrary dense pairing
    val hof = expr(
      """aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
         / (SQRT(aggregate(a.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          * SQRT(aggregate(b.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""")
    val native = graft.functions.CosineSim(col("a.embedding"), col("b.embedding"))
    val diff = pairs.select((hof === native).as("eq")).filter(!col("eq")).count()
    assert(diff == 0, "codegen expression must be bit-identical to the HOF formula")
    // and it runs in whole-stage codegen (no fallback) — execute first so
    // AQE finalizes the plan (WholeStageCodegen only shows in the final plan)
    val out = pairs.select(native.as("s"))
    out.collect()
    // `*(n)` is the WholeStageCodegen marker in AQE's final-plan rendering
    val plan = out.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[cosine_sim""".r.findFirstIn(plan).isDefined, plan.take(800))
  }
}
