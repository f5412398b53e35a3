package perfbench

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.gen.Transcripts

/** Seed-independent base table, made once per scale factor from the
  * generated `events.parquet`: the 6-technology transcript table
  * (`Transcripts.input`), plus the oracle SQL the checks replay in DuckDB.
  * run.py applies the seed (conversation renames and file order) on top. */
object Prep {
  def run(a: Args): Unit = {
    val spark = Main.session(a)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val dir = out.resolve("hot6").toString
    Transcripts.input(spark, a("events")).write.mode("overwrite").parquet(dir)
    Files.writeString(out.resolve("q05_sink_counts.sql"), SparkEntry.oracleSql("q05_sink_counts"))
    Main.writeJson(out.resolve("tables.json").toString,
      Map("hot6" -> spark.read.parquet(dir).count()))
    spark.stop()
  }
}
