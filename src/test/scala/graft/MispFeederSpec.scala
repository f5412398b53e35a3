package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.MispFeeder
import graft.enrich.Dicts

/** The MISP feeder job's output must be bit-identical to the synthetic
  * store the round-2 consumers were verified against — this is what makes
  * swapping the broadcast load path onto the job a no-op for q19/q25/q27/
  * qx02 (VERDICT r2 #5). */
class MispFeederSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("misp-feeder-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("feeder-built store equals the verified synthetic store") {
    val fed = MispFeeder.storeFresh(spark)
    val ref = Dicts.buildMisp()
    assert(fed.keySet == ref.keySet)
    ref.foreach { case (ns, m) =>
      val f = fed(ns)
      assert(f.size == m.size, s"namespace $ns size")
      // pinpoint the first divergence instead of a megabyte diff
      m.iterator.foreach { case (k, v) =>
        assert(f.get(k) == v, s"namespace $ns key $k")
      }
    }
  }

  test("one misp table per JVM: the memoized store is the Dicts.build() instance") {
    assert(MispFeeder.store(spark) eq Dicts.build().misp)
  }
}
