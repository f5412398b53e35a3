package graft

import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.RowKernel

/** The kernel's output schema is derived from one column table
  * (`graft.model.Columns`); it must keep the names, types, nullability and
  * order recorded in `kernel_schema.json`; the columns a counted row can
  * hold are the five taken from the input row and the technology config. */
class KernelSchemaSpec extends AnyFunSuite {

  test("derived kernel schema equals the recorded golden") {
    val src = scala.io.Source.fromResource("kernel_schema.json")
    val golden = try DataType.fromJson(src.mkString).asInstanceOf[StructType] finally src.close()
    assert(RowKernel.schema.length == golden.length)
    RowKernel.schema.fields.zip(golden.fields).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"column $i")
    }
  }

  test("the counts column set is technology, role, tool, ts and route_outputs") {
    val names = Set("technology", "role", "tool", "ts", "route_outputs")
    val counted = RowKernel.schema.fieldNames.filter(c => RowKernel.countsOnly(Seq(c), emitDropped = false))
    assert(counted.toSet == names)
    assert(RowKernel.countsOnly(names, emitDropped = false))
    assert(!RowKernel.countsOnly(names, emitDropped = true), "a marker row needs the whole parse")
  }
}

object KernelSchemaSpec {
  /** Re-record the golden after a deliberate change of the output schema:
    * `Test/runMain graft.KernelSchemaSpec src/test/resources/kernel_schema.json`. */
  def main(args: Array[String]): Unit = {
    val Array(out) = args
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (RowKernel.schema.prettyJson + "\n").getBytes("UTF-8"))
  }
}
