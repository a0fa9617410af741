package perfbench

import graft.GraftFinOpsEngine
import graft.api.ApiResponses
import graft.config.DataConfig
import graft.engine.{GraftEngine, SqlTranslator}
import graft.sources.PartitionCatalog
import graft.views.KpiViews
import org.apache.spark.sql.SparkSession

/** finops_api: a closed loop of clients sending the seeded FinOps request
  * mix to `GraftFinOpsEngine.serve()`. */
object Finops {

  final case class Op(id: Long, cls: String, method: String, path: String,
      body: String, sql: String)

  def ops(path: String): IndexedSeq[Op] = Json.readLines(path).map { n =>
    Op(n.get("id").asLong(), Json.str(n, "cls"), Json.str(n, "method"),
      Json.str(n, "path"), Json.str(n, "body"), Json.str(n, "sql"))
  }

  /** Responses the DuckDB side re-derives: ad-hoc SQL and the spend totals. */
  private val keptRoutes = Set("/api/v1/finops/spend/trend",
    "/api/v1/finops/spend/services/top")

  private def okBody(status: Int, body: String): Boolean =
    status == 200 && {
      val n = Json.read(body)
      val s = n.get("success")
      s == null || s.isNull || s.asBoolean()
    }

  def run(spark: SparkSession, a: Args, rec: Recorder): Unit = {
    val asOf = java.time.LocalDate.parse(a("reference_date"))
    val cfg = DataConfig(localDataPath = Some(a("data")), referenceDate = Some(asOf))
    val all = ops(a("ops"))

    /** Send `o` and check its status (a warm-up check counts on its own, a
      * measured one fails the operation's sample); a passing response that
      * DuckDB re-derives is kept. Returns whether the check passed. */
    def send(h: Http, o: Op, warmUp: Boolean): Boolean = {
      val (st, body) =
        try h.call(o.method, o.path, o.body)
        catch { case e: Exception => (-1, e.toString) }
      def why = s"op ${o.id} ${o.path} -> $st ${body.take(200)}"
      val ok = if (warmUp) rec.oob(okBody(st, body), why) else rec.check(okBody(st, body), why)
      if (ok && (o.cls == "adhoc" || keptRoutes.contains(o.path)))
        rec.responses.add(Map("op" -> o.id, "path" -> o.path, "sql" -> o.sql, "body" -> body))
      ok
    }

    // set-up: registration, the server, and the warm-up requests (one per
    // route and ad-hoc SQL shape, none of them measured; the view DAG is
    // built by the first kpi request)
    val eng = new GraftFinOpsEngine(cfg, spark)
    val srv = eng.serve(0)
    val warm = new Http(srv.boundPort)
    ClosedLoop.run(ops(a("warm_ops")), a.cores)(o => send(warm, o, warmUp = true))
    rec.info.put("setup_s", Clock.sinceJvmStart)

    if (a.trace) traced(spark, a, rec, eng, srv.boundPort, all, cfg, asOf)
    else {
      val h = new Http(srv.boundPort)
      val (wallMs, _) = Clock.timed(ClosedLoop.run(all, a.cores) { o =>
        val t0 = System.nanoTime()
        val ok = send(h, o, warmUp = false)
        rec.sample(Sample(o.cls, o.path.stripPrefix("/api/v1/finops/"), Clock.ms(t0), ok))
      })
      rec.info.put("measure_s", wallMs / 1000)
    }
    srv.stop()
  }

  /** In-process equivalent of each route, with a span around every call
    * into a layer's public function. */
  private def inProcess(o: Op, eng: GraftFinOpsEngine, ge: GraftEngine,
      t: Tracer, asOf: java.time.LocalDate): Any = {
    import ApiResponses.collectRows
    val f = eng.finops
    def rows(name: String)(df: => org.apache.spark.sql.DataFrame) =
      t.span(name)(collectRows(df))
    o.path.stripPrefix("/api/v1/finops/") match {
      case "kpi/summary" => t.span("views.kpi_summary")(f.kpi.comprehensiveSummary())
      case "kpi/dashboard-data" => t.span("analytics.dashboard")(Map(
        "invoice_summary" -> f.spend.invoiceSummary(),
        "top_services" -> collectRows(f.spend.topServices()),
        "top_regions" -> collectRows(f.spend.topRegions()),
        "idle_resources" -> collectRows(f.optimization.idleResources()),
        "tagging" -> f.allocation.complianceSummary(),
        "pricing_models" -> collectRows(f.discounts.pricingModelBreakdown()),
        "anomalies" -> collectRows(f.ai.detectAnomalies()),
        "trends" -> collectRows(f.ai.trendInsights())))
      case "spend/invoice/summary" => t.span("analytics.spend")(f.spend.invoiceSummary())
      case "spend/services/top" => rows("analytics.spend")(f.spend.topServices())
      case "spend/regions/top" => rows("analytics.spend")(f.spend.topRegions())
      case "spend/trend" => rows("analytics.spend")(f.spend.monthlySpend())
      case "spend/breakdown" => rows("analytics.spend")(f.spend.spendBreakdown())
      case "optimization/idle-resources" =>
        rows("analytics.optimization")(f.optimization.idleResources())
      case "allocation/tagging-compliance" =>
        t.span("analytics.allocation")(f.allocation.complianceSummary())
      case "discounts/usage-forecasting" =>
        rows("analytics.discounts")(f.discounts.usageForecastingDf())
      case "ai/anomaly-detection" => rows("analytics.ai")(f.ai.detectAnomalies())
      case "sql/query" =>
        t.span("engine.translate")(SqlTranslator.translate(
          SqlTranslator.injectLimit(o.sql, 1000), Some(asOf)))
        val df = t.span("engine.plan") {
          val d = ge.guardedQuery(o.sql, 1000).fold(e => sys.error(e), identity)
          d.queryExecution.executedPlan
          d
        }
        t.span("engine.exec")(collectRows(df))
      case other => sys.error(s"no in-process route for $other")
    }
  }

  /** Traced replay: the measured operations one at a time, each run three
    * times back to back — over HTTP, in-process untraced, and in-process
    * with spans and scheduler counts. HTTP minus untraced is the REST
    * layer's own time; traced over untraced is the tracing overhead. */
  private def traced(spark: SparkSession, a: Args, rec: Recorder,
      eng: GraftFinOpsEngine, port: Int, all: IndexedSeq[Op], cfg: DataConfig,
      asOf: java.time.LocalDate): Unit = {
    val sc = spark.sparkContext
    val tr = new Tracer(true)
    val l = new OpListener
    sc.addSparkListener(l)
    val ge = new GraftEngine(spark, Some(asOf))
    val http = new Http(port)

    // set-up layers, timed once more on the warm session
    val (regMs, _) = Clock.timed(PartitionCatalog.register(spark, a("data"), cfg))
    val (viewMs, _) = Clock.timed(KpiViews.registerAll(spark, asOf))
    val files = PartitionCatalog.discoverFiles(a("data"), cfg)
    val parts = PartitionCatalog.listAvailablePartitions(a("data"), cfg.exportType)
      .count(v => PartitionCatalog.inRange(v, cfg.dateStart, cfg.dateEnd))

    val gc0 = Trace.gcMs
    val cg0 = Trace.codegenMs
    val plain = new Tracer(false)
    val selfMs, jsonMs, bytes, overhead = scala.collection.mutable.ArrayBuffer.empty[Double]
    all.zipWithIndex.foreach { case (o, i) =>
      def viaHttp() = Clock.timed(http.call(o.method, o.path, o.body))
      // HTTP first on even operations and last on odd ones, so JIT warming
      // across the three runs biases the differences both ways
      val first = if (i % 2 == 0) Some(viaHttp()) else None
      val (pm, _) = Clock.timed(ApiResponses.toJson(
        plain.op(sc, o.id, o.path)(inProcess(o, eng, ge, plain, asOf))))
      val (ms, v) = Clock.timed(tr.op(sc, o.id, o.path)(inProcess(o, eng, ge, tr, asOf)))
      val (jm, _) = Clock.timed(tr.span("api.json")(ApiResponses.toJson(v)))
      val (hm, (st, body)) = first.getOrElse(viaHttp())
      val ok = rec.check(okBody(st, body), s"traced op ${o.id} ${o.path} -> $st")
      rec.sample(Sample(o.cls, o.path.stripPrefix("/api/v1/finops/"), ms + jm, ok))
      overhead += (ms + jm) / pm - 1.0
      selfMs += hm - pm
      jsonMs += jm
      bytes += body.getBytes("UTF-8").length
    }
    l.drain()
    val gcMs = Trace.gcMs - gc0
    val cgMs = Trace.codegenMs - cg0
    val groups = tr.spans.toArray(Array.empty[Span]).map(s => s"op-${s.op}").toSet
    sc.removeSparkListener(l)

    def med(name: String) = Trace.median(tr.durations(name))
    val layer = Map(
      "sources.register_ms" -> regMs,
      "sources.files_registered" -> files.size.toDouble,
      "sources.partitions_in_range" -> parts.toDouble,
      "engine.translate_us" -> med("engine.translate") * 1000,
      "engine.plan_ms" -> med("engine.plan"),
      "engine.exec_ms" -> med("engine.exec"),
      "views.register_ms" -> viewMs,
      "views.kpi_summary_ms" -> med("views.kpi_summary"),
      "analytics.spend_ms" -> med("analytics.spend"),
      "analytics.optimization_ms" -> med("analytics.optimization"),
      "analytics.allocation_ms" -> med("analytics.allocation"),
      "analytics.discounts_ms" -> med("analytics.discounts"),
      "analytics.ai_ms" -> med("analytics.ai"),
      "analytics.dashboard_ms" -> med("analytics.dashboard"),
      "api.finops_self_ms" -> Trace.median(selfMs.toSeq),
      "api.json_ms" -> Trace.median(jsonMs.toSeq),
      "api.resp_bytes" -> Trace.median(bytes.toSeq),
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.codegen_compile_ms" -> cgMs,
      "trace.overhead_frac" -> Trace.median(overhead.toSeq)
    ) ++ Trace.sparkLayer(l, groups, sc)
    layer.foreach { case (k, v) => rec.layers.put(k, v) }
    rec.info.put("self_ms", tr.selfTimes)
    Json.writeFile(s"${a.out}/spans.json", tr.toRows)
  }
}
