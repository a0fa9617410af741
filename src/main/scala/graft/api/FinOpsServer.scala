package graft.api

import com.sun.net.httpserver.HttpExchange
import graft.analytics.{FinOps, McpIntegration}
import graft.engine.GraftEngine
import org.apache.spark.sql.DataFrame

import java.nio.charset.StandardCharsets

/** HTTP binding for the FinOps analytics surface (reference
  * api/fastapi_app.py:1-225 and the api/endpoints modules). The reference serves
  * FastAPI + uvicorn; here the same route table is bound to the JDK's
  * built-in `com.sun.net.httpserver` so the library stays dependency-free
  * — any servlet/netty front end could serve the same handlers, since
  * every route returns a JSON string built by [[ApiResponses]].
  *
  * Deployment note: the server runs DRIVER-side on a cluster — each
  * request plans a Spark job and collects an API-sized (LIMIT-bounded)
  * result, exactly like the reference collects a DuckDB result. A repeated
  * GET of a route marked `cached` is answered from the [[ResponseCache]]
  * instead, until the CUR view is replaced (the reference memoizes its
  * analytics with a TTL, performance.py:140-281; here the registration
  * scopes the entries, so there is no TTL to tune). This assumes the data
  * behind the CUR view does not change while the view exists, as for the
  * views `GraftFinOpsEngine` registers over a fixed file list; a view over
  * a table that is written to keeps its identity and would be answered
  * stale. Requests run on 8 threads ([[Requests.bind]]), and their Spark
  * jobs share the session's scheduler (FIFO; graft sets no fair pools).
  */
final class FinOpsServer(finops: FinOps, engine: GraftEngine, port: Int = 0) {

  import ApiResponses.{collectRows, toJson}
  import Requests.{PayloadTooLarge, param}

  private val mcp = new McpIntegration(finops.spark, finops.table, finops.asOf)

  def boundPort: Int = binding.port

  def start(): Unit = binding.start()
  def stop(): Unit = binding.stop()

  // ---- helpers ---------------------------------------------------------

  private def df(frame: DataFrame): Map[String, Any] = {
    val rows = collectRows(frame)
    Map("success" -> true, "data" -> rows, "row_count" -> rows.size)
  }

  private def dparam(ex: HttpExchange, name: String, dflt: Double): Double =
    param(ex, name).map(_.toDouble).getOrElse(dflt)

  /** Request body, capped while streaming in ([[Requests.body]]). */
  private def body(ex: HttpExchange): String =
    Requests.body(ex, Requests.DefaultMaxBodyBytes)

  private def jsonField(raw: String, field: String): Option[String] = {
    val node = ApiResponses.readTree(raw).get(field)
    if (node == null || node.isNull) None else Some(node.asText())
  }

  // ---- route table (reference api/endpoints/*) -------------------------

  private type Handler = HttpExchange => Any

  /** A bound handler; `cached` marks a GET whose answer reads only the CUR
    * view and asOf, so its 200 bodies are served from [[ResponseCache]]
    * while the view keeps its identity. Routes that read the catalog or a
    * request body are `live`. */
  private final case class Route(handler: Handler, cached: Boolean)
  private def cached(h: Handler): Route = Route(h, cached = true)
  private def live(h: Handler): Route = Route(h, cached = false)

  private val responses = new ResponseCache(finops.spark, finops.table)

  /** Responses held for the current CUR view. */
  private[api] def cachedResponses: Int = responses.size

  private val routes: Map[(String, String), Route] = Map(
    ("GET", "/") -> live(_ => Map(
      "message" -> "FinOps Cost Analytics API", "version" -> "1.0.0",
      "health" -> "/health", "api_base" -> "/api/v1/finops")),
    ("GET", "/health") -> live(_ => Map(
      "status" -> "healthy", "version" -> "1.0.0",
      "engine_status" -> "operational", "data_source" -> "local")),

    // KPI (kpi_endpoints.py)
    ("GET", "/api/v1/finops/kpi/summary") -> cached(_ => finops.kpi.comprehensiveSummary()),
    ("GET", "/api/v1/finops/kpi/health-check") -> cached(_ => finops.healthCheck()),
    ("GET", "/api/v1/finops/kpi/executive-summary") -> cached(_ => finops.executiveSummary()),
    ("GET", "/api/v1/finops/kpi/dashboard-data") -> cached { _ =>
      // finops_engine.py:203-233 — every dashboard component in one call
      finops.dashboard().map {
        case (k, frame: DataFrame) => k -> collectRows(frame)
        case kv => kv
      }
    },

    // Spend (spend_endpoints.py)
    ("GET", "/api/v1/finops/spend/invoice/summary") -> cached(_ => finops.spend.invoiceSummary()),
    ("GET", "/api/v1/finops/spend/regions/top") -> cached(_ => df(finops.spend.topRegions())),
    ("GET", "/api/v1/finops/spend/services/top") -> cached(_ => df(finops.spend.topServices())),
    ("GET", "/api/v1/finops/spend/breakdown") -> cached { ex =>
      val dims = param(ex, "dimensions")
        .map(_.split(",").toSeq).getOrElse(Seq("region", "service"))
      df(finops.spend.spendBreakdown(dims))
    },
    ("GET", "/api/v1/finops/spend/trend") -> cached(_ => df(finops.spend.monthlySpend())),
    ("POST", "/api/v1/finops/spend/export") -> live { ex =>
      val raw = body(ex)
      finops.spend.exportSpendData(
        format = jsonField(raw, "format").getOrElse("csv"),
        dateStart = jsonField(raw, "start"),
        dateEnd = jsonField(raw, "end"))
    },

    // Optimization (optimization_endpoints.py)
    ("GET", "/api/v1/finops/optimization/idle-resources") ->
      cached(_ => df(finops.optimization.idleResources())),
    ("GET", "/api/v1/finops/optimization/rightsizing") ->
      cached(_ => df(finops.optimization.rightsizing())),
    ("GET", "/api/v1/finops/optimization/cross-service-migration") -> cached { _ =>
      val rows = collectRows(finops.optimization.crossServiceMigration())
      val annual = rows.map(r =>
        r("potential_monthly_savings").asInstanceOf[Double] * 12).sum
      Map("migration_opportunities" -> rows,
        "business_case" -> finops.optimization.migrationBusinessCase(annual),
        "roadmap" -> finops.optimization.migrationRoadmap(rows.nonEmpty))
    },
    ("GET", "/api/v1/finops/optimization/vpc-charges") -> cached { ex =>
      val rows = collectRows(
        finops.optimization.vpcOptimization(dparam(ex, "min_transfer_cost", 100.0)))
      val total = rows.map(_("potential_savings").asInstanceOf[Double]).sum
      Map("transfer_analysis" -> rows,
        "optimization_recommendations" -> finops.optimization.vpcRecommendations(total),
        "savings" -> math.rint(total * 100) / 100)
    },

    ("POST", "/api/v1/finops/optimization/implement-recommendation") -> live { ex =>
      val raw = body(ex)
      finops.optimization.implementRecommendation(
        recommendationId = jsonField(raw, "recommendation_id").getOrElse("unknown"),
        autoApprove = jsonField(raw, "auto_approve").exists(_.toBoolean))
    },

    // Allocation (allocation_endpoints.py)
    ("POST", "/api/v1/finops/allocation/tagging-rules") -> live { ex =>
      val node = ApiResponses.readTree(body(ex)).get("rules")
      val rules = if (node == null || !node.isArray) Seq.empty else {
        (0 until node.size()).map { i =>
          val r = node.get(i)
          def s(f: String, dflt: String) =
            Option(r.get(f)).filterNot(_.isNull).map(_.asText()).getOrElse(dflt)
          finops.allocation.TaggingRule(
            name = s("name", "Unnamed Rule"),
            tagKey = s("tag_key", ""), tagValue = s("tag_value", ""),
            criteriaService = Option(r.at("/criteria/service"))
              .filterNot(n => n.isMissingNode || n.isNull).map(_.asText()),
            enforcement = s("enforcement", "monitor"))
        }
      }
      val (created, affected) = finops.allocation.createTaggingRules(rules)
      Map("created_rules" -> created, "total_rules" -> created.size,
        "total_affected_resources" -> affected, "status" -> "success")
    },
    ("GET", "/api/v1/finops/allocation/account-hierarchy") -> cached { _ =>
      val rows = collectRows(finops.allocation.accountHierarchy())
      Map("accounts" -> rows.map(r => r +
          ("cost_center" -> finops.allocation.costCenterOf(
            r("linked_account_id").asInstanceOf[String]))),
        "allocation_rules" -> finops.allocation.allocationRules())
    },
    ("GET", "/api/v1/finops/allocation/tagging-compliance") ->
      cached(_ => finops.allocation.complianceSummary()),
    ("GET", "/api/v1/finops/allocation/cost-center-breakdown") -> cached { _ =>
      val rows = collectRows(finops.allocation.costCenterBreakdown())
      val envTotals = rows.groupBy(_("environment").asInstanceOf[String])
        .map { case (env, rs) =>
          env -> rs.map(_("allocated_cost").asInstanceOf[Double]).sum
        }
      Map("cost_centers" -> rows,
        "variances" -> finops.allocation.budgetVariances(envTotals))
    },
    ("GET", "/api/v1/finops/allocation/third-party-integration") -> cached { _ =>
      Map("integrations" -> finops.allocation.thirdPartyIntegrations(),
        "sync_status" -> finops.allocation.syncStatus())
    },

    // Discounts (discounts_endpoints.py)
    ("GET", "/api/v1/finops/discounts/current-agreements") -> cached { _ =>
      val rep = finops.discounts.currentAgreements()
      Map("agreements" -> rep.agreements,
        "utilization" -> Map(
          "average_utilization" -> rep.averageUtilization,
          "total_annual_commitment" -> rep.totalAnnualCommitment,
          "agreements_count" -> rep.agreements.size,
          "underutilized_agreements" -> rep.underutilizedCount),
        "renewals" -> finops.discounts.renewalTimeline(rep.agreements))
    },
    ("GET", "/api/v1/finops/discounts/negotiation-opportunities") -> cached { ex =>
      df(finops.discounts.negotiationOpportunities(
        dparam(ex, "min_annual_spend", 10000.0)))
    },
    ("GET", "/api/v1/finops/discounts/usage-forecasting") ->
      cached(_ => df(finops.discounts.usageForecastingDf())),
    ("POST", "/api/v1/finops/discounts/commitment-planning") -> live { _ =>
      // the reference's three default scenarios (discounts.py:373-378)
      val scenarios = Seq((1, "No Upfront", 70.0), (3, "No Upfront", 50.0),
        (1, "All Upfront", 80.0))
      val baseline = finops.spend.invoiceSummary().currentMonthSpend
      Map("simulation_results" -> scenarios.map { case (term, pay, cov) =>
        finops.discounts.simulateCommitment(baseline, cov, term, pay)
      })
    },

    // AI (ai_endpoints.py)
    ("GET", "/api/v1/finops/ai/anomaly-detection") ->
      cached(_ => df(finops.ai.detectAnomalies())),
    ("GET", "/api/v1/finops/ai/optimization-insights") -> cached { ex =>
      val rows = collectRows(
        finops.ai.optimizationInsights(dparam(ex, "min_avg_monthly_spend", 1000.0)))
      val withInsights = rows.map { r =>
        val ins = finops.ai.serviceInsight(r("service").asInstanceOf[String],
          r("pattern_type").asInstanceOf[String],
          r("growth_rate").asInstanceOf[Double])
        r ++ Map("ai_insights" -> ins.insights,
          "optimization_opportunities" -> ins.opportunities,
          "priority_score" -> ins.priority, "confidence" -> ins.confidence)
      }
      val spendByService = rows.map(r => r("service").asInstanceOf[String] ->
        r("avg_monthly_spend").asInstanceOf[Double]).toMap
      Map("insights" -> withInsights,
        "benchmarks" -> finops.ai.industryBenchmarks(spendByService),
        "pattern_analysis" -> finops.ai.patternSummary(rows.map(r =>
          (r("service").asInstanceOf[String], r("pattern_type").asInstanceOf[String],
            r("growth_rate").asInstanceOf[Double]))))
    },
    ("POST", "/api/v1/finops/ai/custom-analysis") -> live { ex =>
      val q = jsonField(body(ex), "query").getOrElse("")
      mcp.ask(q) match {
        case Right(frame) => df(frame) + ("intent" -> finops.ai.parseIntent(q))
        case Left(err) => Map("success" -> false, "error" -> err)
      }
    },
    ("GET", "/api/v1/finops/ai/forecasting") -> cached { _ =>
      val monthly = collectRows(finops.spend.monthlySpend())
        .map(_("total_spend").asInstanceOf[Double]).reverse // asc
      Map("forecast" -> finops.ai.mlForecast(monthly))
    },

    // MCP (mcp_endpoints.py)
    ("GET", "/api/v1/finops/mcp/resources") -> cached(_ => Map("resources" -> mcp.listResources())),
    ("GET", "/api/v1/finops/mcp/tools") -> cached(_ => Map("tools" -> mcp.listTools())),
    ("GET", "/api/v1/finops/mcp/stream-config") -> cached { _ =>
      Map("stream_config" -> mcp.streamConfig(),
        "event_schemas" -> mcp.eventSchemas(),
        "sample_events" -> mcp.sampleEvents())
    },
    ("POST", "/api/v1/finops/mcp/query") -> live { ex =>
      val q = jsonField(body(ex), "question").getOrElse("")
      mcp.ask(q) match {
        case Right(frame) => df(frame)
        case Left(err) => Map("success" -> false, "error" -> err)
      }
    },

    // SQL (sql_endpoints.py:89-312)
    ("POST", "/api/v1/finops/sql/query") -> live { ex =>
      val raw = body(ex)
      val sql = jsonField(raw, "query").getOrElse("")
      Raw(jsonField(raw, "max_rows").fold(Option(1000))(ApiResponses.parseMaxRows) match {
        case Some(maxRows) => ApiResponses.sqlQueryResponse(engine, sql, maxRows)
        case None => ApiResponses.validationError(
          s"max_rows must be an integer in 1..${ApiResponses.MaxRowsCap}", sql)
      })
    },
    ("GET", "/api/v1/finops/sql/schema") -> live { ex =>
      val table = param(ex, "table").getOrElse("CUR")
      Map("table" -> table, "columns" ->
        finops.spark.table(table).schema.fields
          .map(f => Map("name" -> f.name, "type" -> f.dataType.simpleString)).toSeq)
    },
    ("GET", "/api/v1/finops/sql/tables") -> live { _ =>
      Map("tables" -> finops.spark.catalog.listTables().collect()
        .map(_.name).toSeq.sorted)
    })

  /** Marker for handlers that already produced a JSON string. */
  private case class Raw(json: String)

  /** Route discovery — the stand-in for FastAPI's generated /docs:
    * GET /api/v1/finops/routes lists every bound (method, path). */
  private val allRoutes: Map[(String, String), Route] = routes +
    (("GET", "/api/v1/finops/routes") -> live(_ =>
      Map("routes" -> (routes.keys.toSeq :+ ("GET", "/api/v1/finops/routes"))
        .sortBy(r => (r._2, r._1))
        .map { case (m, p) => Map("method" -> m, "path" -> p) })))

  private def utf8(json: String): Array[Byte] = json.getBytes(StandardCharsets.UTF_8)

  private def render(value: Any): Array[Byte] = utf8(value match {
    case Raw(s) => s
    case v => toJson(v)
  })

  private val binding = Requests.bind(port) { (ex: HttpExchange) =>
    val path = ex.getRequestURI.getPath
    val (status, bytes) = allRoutes.get((ex.getRequestMethod, path)) match {
      case None =>
        404 -> utf8(toJson(Map("success" -> false, "error" -> "not found",
          "path" -> path)))
      case Some(route) =>
        try {
          def answer = render(route.handler(ex))
          200 -> (if (!route.cached) answer else
            responses(path, Option(ex.getRequestURI.getRawQuery).getOrElse(""))(answer))
        } catch {
          case e: PayloadTooLarge =>
            val (st, json) = Requests.tooLarge(e)
            st -> utf8(json)
          case e: Exception =>
            500 -> utf8(toJson(Map("success" -> false,
              "error" -> Option(e.getMessage).getOrElse(e.toString).take(500),
              "error_type" -> GraftEngine.classifyError(e))))
        }
    }
    Requests.respond(ex, status, bytes)
  }
}
