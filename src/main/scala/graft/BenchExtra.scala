package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.Pipeline
import graft.gen.Transcripts

/** Optimization-round instrumentation main (guide §1.4/§1.5) — NOT part of
  * the frozen driver contract (Bench.scala is the measured harness; this is
  * the dev-side magnifying glass).
  *
  * Modes (args):
  *   time  [names...] — per-query seconds, count() (driver methodology) and
  *                      noop sink (full materialization), min-of-3 each
  *   plans <tag> [names...] — dump .explain("formatted") of each query to
  *                      plans/r06/<name>_<tag>.txt
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object BenchExtra {

  private def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mode = args.headOption.getOrElse("time")
    val rest = args.drop(if (mode == "plans") 2 else 1).toSet
    val tag = if (mode == "plans") args.lift(1).getOrElse("now") else ""

    val headline = Vector("q05_sink_counts", "q06_salted_counts", "q02_parse_core",
      "d01_exact_dedup", "d02_minhash_pairs", "d03_simhash", "d04_jaccard",
      "d05_cosine_topk", "d06_langid", "d07_quality", "d08_tokens",
      "d09_fingerprint", "d10_ann_ivf", "d10_ivf_assign", "d11_embed_neardup",
      "m01_multimodal", "r01_lineitem_agg", "r02_join_agg", "r03_window",
      "r04_sessionize", "r05_rank", "q05f_sink_counts_fast", "q05p_counts_projected")
    val all = SparkEntry.queries
    // explicit names may be ANY declared query (the tech-port q-family
    // included), not just the default instrumentation set
    val names = if (rest.nonEmpty) all.keys.filter(rest).toVector.sorted else headline

    val spark = session(cpus)
    // mirror Bench: fixed costs out of the per-query window
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val cDicts = timed(Pipeline.dictsBroadcast(spark))
    val cGen = timed(Transcripts.input(spark, sfDir).count())
    val cParse = timed(SparkEntry.parsed(spark, sfDir).count())
    System.err.println(f"[extra] dicts=$cDicts%.3f gen=$cGen%.3f parse_persist=$cParse%.3f")

    mode match {
      case "plans" =>
        val dir = new java.io.File("plans/r06"); dir.mkdirs()
        names.foreach { name =>
          all.get(name).foreach { fn =>
            // execute first so the dumped plan is the FINAL adaptive plan
            // (AQE applies exchange reuse / join rewrites at runtime; the
            // initial plan shows duplicated subtrees that never execute).
            // collect() drives df's OWN QueryExecution (a noop write would
            // execute a separate one and leave df's plan un-finalized).
            val df = fn(spark, sfDir)
            df.collect()
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val p = new java.io.PrintWriter(new java.io.File(dir, s"${name}_$tag.txt"))
            try p.write(txt) finally p.close()
            // the driver's Bench times .count() — its plan can differ
            // (column pruning above the join); dump that shape too
            val cdf = fn(spark, sfDir).groupBy().count()
            cdf.collect()
            val ctxt = cdf.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val cp = new java.io.PrintWriter(new java.io.File(dir, s"${name}_${tag}_count.txt"))
            try cp.write(ctxt) finally cp.close()
            System.err.println(s"[extra] wrote plans/r06/${name}_$tag.txt (+_count)")
          }
        }
      case "dicts" =>
        // decompose c_dicts_build_broadcast (guide §1): build vs misp-feeder
        // job vs broadcast serialization, in a SECOND session so the JVM is
        // warm — mirrors the state the frozen Bench's headline session is in
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        val s2 = session(cpus)
        def t(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        val tBuild = t(graft.enrich.Dicts.build())
        var store: Map[String, graft.enrich.FlatDict] = null
        val tStore = t { store = graft.pipeline.MispFeeder.store(s2) }
        val d = graft.enrich.Dicts.build().copy(misp = store)
        val tBc = t(s2.sparkContext.broadcast(d))
        val tBc2 = t(s2.sparkContext.broadcast(d))
        val tAll = t(Pipeline.dictsBroadcast(s2))
        println(f"""{"metric":"dicts","build":$tBuild%.3f,"store":$tStore%.3f,"broadcast":$tBc%.3f,"broadcast2":$tBc2%.3f,"dictsBroadcast_total":$tAll%.3f}""")
        s2.stop()
        return
      case "gen" =>
        // decompose c_generator_materialize: SQL parse+analyze of the large
        // generator CTE vs actual evaluation (driver-side planning is
        // single-threaded — guide §7.3)
        def t2(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        val tPlan1 = t2(Transcripts.input(spark, sfDir))
        val tPlan2 = t2(Transcripts.input(spark, sfDir))
        val tCount1 = t2(Transcripts.input(spark, sfDir).count())
        val tCount2 = t2(Transcripts.input(spark, sfDir).count())
        println(f"""{"metric":"gen","plan1":$tPlan1%.3f,"plan2":$tPlan2%.3f,"count1":$tCount1%.3f,"count2":$tCount2%.3f}""")
        return
      case "parse" =>
        // decompose c_parse_persist in a FRESH session (SparkEntry.parsed is
        // session-memoized): generator eval vs kernel vs columnar-cache build
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        val s3 = session(cpus)
        Pipeline.dictsBroadcast(s3)
        def t3(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        val tGen = t3(Transcripts.input(s3, sfDir).count())
        // toRdd: a DataFrame count() would prune the kernel to counts mode
        val tKernel = t3(Pipeline.parseDf(s3, Transcripts.input(s3, sfDir)).queryExecution.toRdd.count())
        val tPersist = t3(SparkEntry.parsed(s3, sfDir).count())
        val tCached = t3(SparkEntry.parsed(s3, sfDir).count())
        val tCached2 = t3(SparkEntry.parsed(s3, sfDir).count())
        val tQ05 = t3(Pipeline.sinkCounts(SparkEntry.parsed(s3, sfDir)).collect())
        val tQ05b = t3(Pipeline.sinkCounts(SparkEntry.parsed(s3, sfDir)).collect())
        println(f"""{"metric":"parse","gen_count":$tGen%.3f,"kernel_count":$tKernel%.3f,"persist_count":$tPersist%.3f,"cached_count":$tCached%.3f,"cached_count2":$tCached2%.3f,"q05":$tQ05%.3f,"q05b":$tQ05b%.3f}""")
        s3.stop()
        return
      case "ann" =>
        // recall@3 of the IVF approximate top-k vs exact brute force at
        // nprobe ∈ {1,4,8,16} — the quality dial of the d10 scale path
        // (round-5 verdict item 6; Bench.scala is frozen, so the curve
        // ships here and is cited in OPTIMIZATION_r06.md)
        val exact = graft.ml.Similarity.bruteTopK(spark, sfDir)
          .select("query_id", "neighbor_id")
        val exactN = exact.count()
        val curve = Seq(1, 4, 8, 16).map { np =>
          val approx = graft.ml.Similarity.ivfTopK(spark, sfDir, nprobe = np)
            .select("query_id", "neighbor_id")
          val hit = exact.intersect(approx).count()
          np -> (if (exactN == 0) 0.0 else hit.toDouble / exactN)
        }
        val cs = curve.map { case (np, r) => "\"" + np + f"\":$r%.3f" }.mkString("{", ",", "}")
        println(s"""{"metric":"ann_recall_curve","sf":"$sfDir","recall_at_3":$cs}""")
      case _ =>
        val results = names.flatMap { name =>
          all.get(name).map { fn =>
            spark.sparkContext.setJobDescription(s"extra:$name:count")
            val tCount = (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            spark.sparkContext.setJobDescription(s"extra:$name:noop")
            val tNoop = (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }.min
            spark.sparkContext.setJobDescription(null)
            (name, tCount, tNoop)
          }
        }
        val qs = results.map { case (k, c, n) =>
          "\"" + k + f"\":{" + f""""count":$c%.3f,"noop":$n%.3f}"""
        }.mkString("{", ",", "}")
        println(f"""{"metric":"extra","sf":"$sfDir","cpus":$cpus,"queries":$qs}""")
    }
    spark.stop()
  }
}
