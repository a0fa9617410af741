package graft
import graft.engine.GraftSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE stays ON (the honest cluster-representative config): measured
    // at sf0.1 its per-stage re-planning costs ~7% of the suite total
    // (25.2s off vs 27.0s on, 2-run averages) because every query here
    // is sub-GB — at real scale the skew/coalesce wins dominate.
    val spark = GraftSession.local(appName = "graft-bench")
    // Warmup: JVM JIT, whole-stage-codegen class compilation, and parquet
    // footer caches, off the clock. Every query runs once at the SMALLEST
    // scale factor (sf0.001) so each generated codegen class is compiled
    // before timing — the timed numbers then measure steady-state data
    // processing at the target SF, which is what a long-lived cluster
    // session sees (codegen compiles once per plan shape, not per batch).
    val warmDir = "/root/testdata/sf0.001"
    val warm = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))) warmDir else sfDir
    // Surface which warm-up regime ran: warming at the target SF also
    // warms the OS page cache for the timed run, so numbers from the two
    // regimes are not comparable (see BENCH_NOTES.md).
    System.err.println(s"bench warmup dir: $warm (target: $sfDir)")
    // SPARK_GRAFT_BENCH_ONLY=q74,q69: restrict the suite to the named
    // query prefixes — the targeted-profiling mode (a full pass is ~30s
    // of other queries between two timings of the one under study).
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(ks) =>
        val pre = ks.split(",").map(_.trim).filter(_.nonEmpty)
        SparkEntry.queries.filter { case (n, _) => pre.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    queries.foreach { case (_, fn) =>
      try { fn(spark, warm).count() } catch { case _: Throwable => () }
    }
    spark.catalog.clearCache() // warm-up caches must not alias timed ones
    // SPARK_GRAFT_BENCH_RUNS=N (default 1): time the whole suite N times
    // and report each query's MINIMUM across passes. Load contamination on
    // a shared box only ever ADDS time, so the per-query min is the
    // honest steady-state signal (single-shot runs have produced 3×
    // contaminated totals); the suite runs as whole passes, not N
    // back-to-back runs per query, so a transient load spike cannot
    // inflate one query in every pass. Caches clear between passes —
    // each pass pays its own derivations, like the single-shot form.
    // Default is 3: single-shot totals have measured 3× contaminated on
    // this box (r5/r6/r9 driver runs); min-of-3 is the steady-state
    // signal. Set SPARK_GRAFT_BENCH_RUNS=1 for a quick shot.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val passes = (1 to runs).map { pass =>
      val r = queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            // surface it AND keep it out of the min below: a fast
            // exception's time-to-failure is not a measurement, and with
            // min-of-N it would otherwise mask every successful pass
            System.err.println(s"bench pass $pass $name FAILED: $e")
            false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9
                 else Double.PositiveInfinity)
      }
      spark.catalog.clearCache()
      r
    }
    val results = queries.keys.map { name =>
      val m = passes.map(_(name)).min
      // every pass failed -> report the -1 failure convention, never inf
      name -> (if (m.isPosInfinity) -1.0 else m)
    }.toSeq
    renderLines(results, runs, sfDir).foreach(println)
    spark.stop()
  }

  /** The three stdout lines, in order: compact total / full per-query /
    * compact total AGAIN. The driver's artifact keeps only a bounded
    * stdout window (r10 stored a ~2000-char prefix; r11 showed it is a
    * TAIL — both BENCH_r10 and BENCH_r11 came back `parsed: null`
    * because the one compact line sat on the clipped side). Emitting
    * the compact line on BOTH sides of the ~95-entry per-query line
    * makes the total survive either truncation direction. A parser
    * matching `metric=="total"` must take ONE such line (they are
    * byte-identical), never sum them — the documented contract in
    * CLAUDE.md. Pinned by BenchOutputSpec against a 2000-char tail cut.
    */
  def renderLines(results: Seq[(String, Double)], runs: Int, sfDir: String): Seq[String] = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"n_queries":${results.size},"sf":"$sfDir"}"""
    Seq(
      compact,
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"sf":"$sfDir"}""",
      compact)
  }
}
