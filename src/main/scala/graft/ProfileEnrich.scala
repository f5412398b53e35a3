package graft

import org.apache.spark.sql.SparkSession
import graft.enrich.{Dicts, Enrich}
import graft.model.Turn
import graft.pipeline.Engine
import graft.rules.{Dropped, Parsed}

/** Dev profiler (round-5 verdict item 1a): per-step wall time of the
  * enrichment chain over the real generated corpus, single-threaded so the
  * numbers are cache-local and host-noise-robust. `main` prints the time of
  * the production apply (`Engine.parseAndEnrich`), then [[stepSeconds]].
  * A development tool, not an entry point of the pipeline — run with
  * `sbt "runMain graft.ProfileEnrich"` (env SPARK_GRAFT_SF_DIR to pick sf).
  */
object ProfileEnrich {

  /** The turn's technology, parse outcome and enrichment context: exactly
    * what `Engine.parseAndEnrich` does before the enrichment chain. */
  private def parseTurn(t: Turn, dicts: Dicts): (graft.rules.TechnologyConfig, graft.rules.ParseOutcome, Enrich.Ctx) = {
    val (cfg, program) = Engine.techOf(t.tool)
    val ctx = Engine.parseCtx(t.ts.getTime)
    (cfg, Engine.parse(cfg, program, t.text, ctx, dicts), Enrich.Ctx(ctx.tsMillis, ctx.tsYear))
  }

  /** One warm + one measured pass: parse each turn, stamp the reference's
    * disable tags, then run every enrichment step under a per-step timer.
    * Returns ("enrich_parse" -> sec) followed by each chain step in
    * descending cost. Bench emits this next to the sf1 leg as the
    * component-level enrich attribution (round-5 verdict item 8). */
  def stepSeconds(turns: Array[Turn], dicts: Dicts): Vector[(String, Double)] = {
    val steps = Enrich.chain
    val stepNanos = new Array[Long](steps.length)
    var parseNanos = 0L
    def pass(measure: Boolean): Unit = {
      var ti = 0
      while (ti < turns.length) {
        val t = turns(ti)
        val p0 = System.nanoTime()
        val (cfg, outcome, ectx) = parseTurn(t, dicts)
        if (measure) parseNanos += System.nanoTime() - p0
        outcome match {
          case Dropped => ()
          case Parsed(events) =>
            events.foreach { e =>
              cfg.disabledEnrichments.foreach(n => e.addTag(s"disable_${n}_enrichment"))
              if (measure) {
                var si = 0
                while (si < steps.length) {
                  val n0 = System.nanoTime()
                  steps(si)._2(e, dicts, ectx)
                  stepNanos(si) += System.nanoTime() - n0
                  si += 1
                }
              } else steps.foreach(_._2(e, dicts, ectx))
            }
        }
        ti += 1
      }
    }
    pass(measure = false)
    pass(measure = true)
    ("enrich_parse" -> parseNanos / 1e9) +:
      steps.indices.sortBy(i => -stepNanos(i))
        .map(i => steps(i)._1 -> stepNanos(i) / 1e9).toVector
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-profile-enrich")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val turns: Array[Turn] = gen.Transcripts.input(spark, sfDir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[Turn]
      .collect()
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    println(s"turns: ${turns.length} from $sfDir")

    val dicts = Dicts.build()
    // the production apply: Engine.parseAndEnrich over every turn, with no
    // per-step timer; `events` keeps its results alive
    var events = 0L
    def fastApply(): Long = {
      events = 0L
      val t0 = System.nanoTime()
      turns.foreach { t =>
        val (cfg, program) = Engine.techOf(t.tool)
        val r = Engine.parseAndEnrich(cfg, program, t.text, t.ts.getTime, dicts)
        if (r != null) events += r.size
      }
      System.nanoTime() - t0
    }
    fastApply(); fastApply() // warm JIT
    val fast = fastApply()
    println(f"FAST-APPLY ${fast / 1e9}%.3f s  (${turns.length / (fast / 1e9)}%.0f turns/s single-thread, $events events)")
    val steps = stepSeconds(turns, dicts)
    val total = steps.map(_._2).sum
    println(f"STEPS ${total}%.3f s")
    steps.foreach { case (name, sec) => println(f"  $name%-26s $sec%8.3f s  ${100.0 * sec / total}%5.1f%%") }
  }
}
