package perfbench

import graft.SparkEntry
import graft.queries.Tables
import org.apache.spark.sql.SparkSession

/** batch_suite: one client running the operator subset and the
  * serving-index operations in a fixed order, pass after pass, after a
  * codegen warm-up at the small scale. */
object Batch {

  /** Operator family of a `SparkEntry.queries` key. */
  def family(q: String): String = {
    import graft.queries._
    if (Relational.queries.contains(q)) "relational"
    else if (TextDedup.queries.contains(q)) "textdedup"
    else if (TextPipeline.queries.contains(q)) "textpipeline"
    else if (Curation.queries.contains(q)) "curation"
    else if (Similarity.queries.contains(q)) "similarity"
    else "bpe"
  }

  val Families = Seq("relational", "textdedup", "textpipeline", "curation", "similarity", "bpe")

  def run(spark: SparkSession, a: Args, rec: Recorder): Unit = {
    val order = Json.readLines(a("ops")).map(n => Json.str(n, "op"))
    val queries = order.filterNot(_.startsWith("index:"))
    val fns = SparkEntry.queries
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    Json.writeFile(s"${a.out}/oracle.json",
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) })

    // set-up: the small-scale codegen warm-up, table registration and the
    // serving indexes, built beside the warm-up
    var buildMs = 0.0
    var idx: IndexFamily.State = null
    val builder = new Thread(() => {
      val (ms, st) = Clock.timed(IndexFamily.build(spark, a("data"), s"${a.out}/index", a("index_ops")))
      buildMs = ms
      idx = st
    }, "bench-index-build")
    builder.start()
    val (warmMs, _) = Clock.timed(ClosedLoop.run(queries, a.cores - 1) { q =>
      try fns(q)(spark, a("warm")).count()
      catch { case e: Exception => rec.oob(false, s"warm-up $q: $e") }
    })
    builder.join()
    require(idx != null, "index build failed")
    spark.catalog.clearCache()
    Tables.loadAll(spark, a("data"))
    rec.info.put("warmup_s", warmMs / 1000)
    rec.info.put("build_s", buildMs / 1000)
    rec.info.put("setup_s", Clock.sinceJvmStart)

    /** Operation `i` of pass `n`; `keep` stores a query's result for the
      * oracle check. Returns whether its checks passed. */
    def step(n: Int, i: Int, op: String, keep: Boolean, t: Tracer): Boolean =
      try t.op(spark.sparkContext, n * 1000L + i, op) {
        if (op.startsWith("index:")) IndexFamily.run(idx, n, op.stripPrefix("index:"), rec, t)
        else {
          val rows = t.span(s"queries.${family(op)}")(fns(op)(spark, a("data")).toJSON.collect())
          if (keep) rec.responses.add(Map("query" -> op, "rows" -> rows.toSeq))
          true
        }
      } catch { case e: Exception => rec.check(false, s"$op failed: $e"); false }

    def cls(op: String) = if (op.startsWith("index:")) "index" else "query"

    if (a.trace) {
      // each operation twice back to back, caches cleared before each:
      // untraced (pass 1's index inputs) and traced with scheduler counts
      // (pass 0's), the untraced run first on even operations and second
      // on odd ones so JIT warming biases the ratio both ways
      val l = new OpListener
      val sc = spark.sparkContext
      sc.addSparkListener(l)
      val tr = new Tracer(true)
      val plain = new Tracer(false)
      val gc0 = Trace.gcMs
      val cg0 = Trace.codegenMs
      val overhead = order.zipWithIndex.map { case (op, i) =>
        def untraced() = { spark.catalog.clearCache(); Clock.timed(step(1, i, op, keep = false, plain)) }
        val before = if (i % 2 == 0) Some(untraced()) else None
        spark.catalog.clearCache()
        val (ms, ok) = Clock.timed(step(0, i, op, keep = false, tr))
        val (pm, _) = before.getOrElse(untraced())
        rec.sample(Sample(cls(op), op, ms, ok))
        ms / pm - 1.0
      }
      l.drain()
      val gcMs = Trace.gcMs - gc0
      val cgMs = Trace.codegenMs - cg0
      sc.removeSparkListener(l)
      val fam = tr.spans.toArray(Array.empty[Span]).groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(_.ms).sum / 1000 }
      val groups = order.indices.map(i => s"op-$i").toSet
      val layer = Families.map(f => s"queries.${f}_s" -> fam.getOrElse(s"queries.$f", 0.0)).toMap ++
        IndexFamily.layers(idx, tr) ++
        Map("queries.warmup_s" -> warmMs / 1000,
          "index.build_s" -> buildMs / 1000,
          "jvm.gc_ms" -> gcMs.toDouble,
          "jvm.codegen_compile_ms" -> cgMs,
          "trace.overhead_frac" -> Trace.median(overhead)) ++
        Trace.sparkLayer(l, groups, sc)
      layer.foreach { case (k, v) => rec.layers.put(k, v) }
      rec.info.put("self_ms", tr.selfTimes)
      Json.writeFile(s"${a.out}/spans.json", tr.toRows)
    } else {
      val untraced = new Tracer(false)
      val t0 = System.nanoTime()
      (0 until a("passes").toInt).foreach { n =>
        val (pms, _) = Clock.timed(order.zipWithIndex.foreach { case (op, i) =>
          val (ms, ok) = Clock.timed(step(n, i, op, keep = n == 0, untraced))
          rec.sample(Sample(cls(op), op, ms, ok))
        })
        spark.catalog.clearCache()
        rec.sample(Sample("pass", "pass", pms, ok = true))
      }
      rec.info.put("measure_s", (System.nanoTime() - t0) / 1e9)
    }
    IndexFamily.finish(idx, rec)
  }
}
