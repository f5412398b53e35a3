package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.enrich.Dicts
import graft.gen.Transcripts
import graft.pipeline.RowKernel

/** `RowKernel.process` run directly over copied input rows of the main
  * corpus, with no plan node and no projection: every row it emits holds
  * exactly the columns its mask selects, and is a fresh object. */
class RowKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-rowkernel")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** The main corpus's input rows, as the kernel node reads them. */
  private lazy val input: Array[InternalRow] = {
    spark.sparkContext.setLogLevel("ERROR")
    Transcripts.input(spark, "/root/testdata/sf0.001").queryExecution.toRdd.map(_.copy()).collect()
  }
  private lazy val dicts = Dicts.build()

  private def run(cols: Seq[String]): Vector[InternalRow] =
    RowKernel.process(input.iterator, dicts, emitDropped = false,
      mask = if (cols == null) null else RowKernel.maskFor(cols)).toVector

  /** `rows`' values of `cols`, read from rows of exactly those columns. */
  private def values(rows: Vector[InternalRow], cols: Seq[String]): Vector[Seq[Any]] = {
    val sub = StructType(cols.map(RowKernel.schema(_)))
    rows.map { r => assert(r.numFields == cols.size); r.toSeq(sub) }
  }

  /** The full-width rows' values of `cols`. */
  private def fullValues(full: Vector[InternalRow], cols: Seq[String]): Vector[Seq[Any]] = {
    val ords = cols.map(RowKernel.schema.fieldIndex)
    full.map { r =>
      assert(r.numFields == RowKernel.schema.length)
      val all = r.toSeq(RowKernel.schema)
      ords.map(all)
    }
  }

  private lazy val full = run(null)

  test("a 3-column mask emits rows of those 3 columns, equal to the full rows'") {
    val cols = Seq("turn_idx", "parse_rule", "event_module")
    val rows = run(cols)
    assert(rows.nonEmpty && rows.size == full.size)
    assert(values(rows, cols) == fullValues(full, cols))
  }

  test("counted rows are distinct objects carrying their own turn's values") {
    val cols = Seq("role", "tool", "ts", "technology", "route_outputs") // column-table order
    val rows = run(cols)
    val distinct = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[InternalRow, java.lang.Boolean])
    rows.foreach(distinct.add)
    assert(distinct.size == rows.size)
    val got = values(rows, cols)
    assert(got == fullValues(full, cols))
    assert(got.distinct.size > 1)
  }
}
