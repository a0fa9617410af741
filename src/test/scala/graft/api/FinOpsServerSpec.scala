package graft.api

import graft.SparkSpec
import graft.analytics.FinOps
import graft.engine.GraftEngine
import graft.fixtures.CurFixture
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** End-to-end HTTP tests: real server on an ephemeral port, real requests
  * through java.net, JSON envelopes asserted (reference api/fastapi_app.py
  * route table). */
class FinOpsServerSpec extends SparkSpec {

  private val asOf = LocalDate.of(2025, 7, 15)

  lazy val server: FinOpsServer = {
    restoreCur()
    val s = new FinOpsServer(
      new FinOps(spark, "CUR", asOf), new GraftEngine(spark, Some(asOf)))
    s.start()
    s
  }

  override def afterAll(): Unit = {
    try server.stop() finally super.afterAll()
  }

  private def request(method: String, path: String,
      body: Option[String] = None, port: => Int = server.boundPort): (Int, String) = {
    val url = URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (status, text)
  }

  private def get(path: String): (Int, String) = request("GET", path)

  private def restoreCur(): Unit = CurFixture.df(spark).createOrReplaceTempView("CUR")

  /** The answer of a server that has cached nothing yet. */
  private def uncached(path: String): (Int, String) = {
    val fresh = new FinOpsServer(new FinOps(spark, "CUR", asOf),
      new GraftEngine(spark, Some(asOf)))
    fresh.start()
    try request("GET", path, port = fresh.boundPort) finally fresh.stop()
  }

  /** `body`'s result and the Spark jobs started while it ran. The listener
    * bus delivers events asynchronously, so a marker job submitted
    * afterwards flushes it: once the marker's start arrives, every earlier
    * start has. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val markerKey = "graft.test.jobs.marker"
    val jobs = new AtomicInteger(0)
    val marked = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markerKey) != null)) marked.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val result = body
      sc.setLocalProperty(markerKey, "flush")
      try spark.range(1).count() finally sc.setLocalProperty(markerKey, null)
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  test("root and health endpoints answer") {
    val (s1, b1) = get("/")
    assert(s1 == 200 && b1.contains("FinOps Cost Analytics API"))
    val (s2, b2) = get("/health")
    assert(s2 == 200 && b2.contains("\"status\":\"healthy\""))
  }

  test("every GET route in the reference route table returns 200 JSON") {
    val routes = Seq(
      "/api/v1/finops/kpi/summary",
      "/api/v1/finops/kpi/health-check",
      "/api/v1/finops/kpi/executive-summary",
      "/api/v1/finops/kpi/dashboard-data",
      "/api/v1/finops/spend/trend",
      "/api/v1/finops/spend/breakdown?dimensions=region",
      "/api/v1/finops/spend/invoice/summary",
      "/api/v1/finops/spend/regions/top",
      "/api/v1/finops/spend/services/top",
      "/api/v1/finops/spend/breakdown",
      "/api/v1/finops/optimization/idle-resources",
      "/api/v1/finops/optimization/rightsizing",
      "/api/v1/finops/optimization/cross-service-migration",
      "/api/v1/finops/optimization/vpc-charges?min_transfer_cost=0",
      "/api/v1/finops/allocation/account-hierarchy",
      "/api/v1/finops/allocation/tagging-compliance",
      "/api/v1/finops/allocation/cost-center-breakdown",
      "/api/v1/finops/allocation/third-party-integration",
      "/api/v1/finops/discounts/current-agreements",
      "/api/v1/finops/discounts/negotiation-opportunities?min_annual_spend=0",
      "/api/v1/finops/discounts/usage-forecasting",
      "/api/v1/finops/ai/anomaly-detection",
      "/api/v1/finops/ai/optimization-insights?min_avg_monthly_spend=0",
      "/api/v1/finops/ai/forecasting",
      "/api/v1/finops/mcp/resources",
      "/api/v1/finops/mcp/tools",
      "/api/v1/finops/mcp/stream-config",
      "/api/v1/finops/sql/schema?table=CUR",
      "/api/v1/finops/sql/tables")
    routes.foreach { r =>
      val (status, body) = get(r)
      assert(status == 200, s"$r -> $status: ${body.take(200)}")
      assert(body.startsWith("{"), s"$r did not return a JSON object")
    }
  }

  test("kept-alive responses arrive without the ~40 ms delayed-ACK stall") {
    val p50 = KeepAlive.medianMs(server.boundPort, "/health")
    info(f"median $p50%.1f ms")
    assert(p50 < 20.0, s"median $p50 ms over one kept-alive connection")
  }

  test("vpc-charges composes analysis, recommendations, and total savings") {
    val (_, body) = get("/api/v1/finops/optimization/vpc-charges?min_transfer_cost=0")
    assert(body.contains("transfer_analysis"))
    assert(body.contains("Consolidate resources within same AZ"))
    assert(body.contains("\"savings\":"))
  }

  test("sql/query POST runs guarded SQL and returns the envelope") {
    val (status, body) = request("POST", "/api/v1/finops/sql/query",
      Some("""{"query": "SELECT product_servicecode, count(*) AS n FROM CUR GROUP BY 1 ORDER BY n DESC", "max_rows": 5}"""))
    assert(status == 200)
    assert(body.contains("\"success\":true"))
    assert(body.contains("\"row_count\":"))
    assert(body.contains("AmazonEC2"))
  }

  test("sql/query rejects non-SELECT statements via the firewall") {
    val (status, body) = request("POST", "/api/v1/finops/sql/query",
      Some("""{"query": "DROP TABLE CUR"}"""))
    assert(status == 200) // validation errors are in-envelope, like the reference
    assert(body.contains("\"success\":false"))
    assert(body.contains("VALIDATION_ERROR"))
  }

  test("sql/query maps analysis failures through the error taxonomy") {
    val (_, body) = request("POST", "/api/v1/finops/sql/query",
      Some("""{"query": "SELECT no_such_column FROM CUR"}"""))
    assert(body.contains("\"success\":false"))
    assert(body.contains("COLUMN_NOT_FOUND"))
  }

  test("sql/query caps the rows at max_rows whatever LIMIT the text holds") {
    spark.range(5000).selectExpr("id", "CAST(id AS STRING) AS name")
      .createOrReplaceTempView("cap_rows")
    Seq(
      "SELECT * FROM (SELECT * FROM cap_rows LIMIT 4000) t",
      "SELECT * FROM cap_rows WHERE name <> 'no limit'",
      "SELECT id FROM cap_rows UNION ALL (SELECT id FROM cap_rows LIMIT 3)"
    ).foreach { q =>
      val (status, body) = request("POST", "/api/v1/finops/sql/query",
        Some(s"""{"query": "$q", "max_rows": 10}"""))
      assert(status == 200 && body.contains("\"success\":true"), s"$q -> ${body.take(300)}")
      val n = ApiResponses.readTree(body).get("row_count").asLong()
      assert(n <= 10, s"$q returned $n rows")
    }
  }

  test("sql/query rejects a max_rows outside 1..10000 as a validation error") {
    Seq("0", "-1", "\"abc\"", "10001").foreach { m =>
      val (status, body) = request("POST", "/api/v1/finops/sql/query",
        Some(s"""{"query": "SELECT 1 AS one", "max_rows": $m}"""))
      assert(status == 200, s"max_rows=$m -> $status")
      assert(body.contains("\"success\":false") &&
        body.contains("VALIDATION_ERROR"), s"max_rows=$m -> $body")
    }
  }

  test("mcp/query routes natural-language questions") {
    val (status, body) = request("POST", "/api/v1/finops/mcp/query",
      Some("""{"question": "top services by spend"}"""))
    assert(status == 200)
    assert(body.contains("\"success\":true"))
  }

  test("ai/custom-analysis returns data plus parsed intent") {
    val (status, body) = request("POST", "/api/v1/finops/ai/custom-analysis",
      Some("""{"query": "why did spend spike yesterday?"}"""))
    assert(status == 200)
    assert(body.contains("\"intent\":\"anomalies\""))
  }

  test("commitment-planning POST simulates the default scenarios") {
    val (status, body) = request("POST", "/api/v1/finops/discounts/commitment-planning",
      Some("{}"))
    assert(status == 200)
    assert(body.contains("simulation_results"))
  }

  test("spend/export POST returns deterministic export metadata") {
    val (status, body) = request("POST", "/api/v1/finops/spend/export",
      Some("""{"format": "xlsx", "start": "2025-07-01"}"""))
    assert(status == 200)
    assert(body.contains("/exports/spend_data_2025-07-15.xlsx"))
    assert(body.contains("\"recordCount\":"))
  }

  test("tagging-rules POST creates rules with impact estimates") {
    val (status, body) = request("POST", "/api/v1/finops/allocation/tagging-rules",
      Some("""{"rules": [
        {"name": "envs", "tag_key": "Environment", "tag_value": "prod",
         "criteria": {"service": "EC2"}},
        {"tag_key": "Team", "tag_value": "data"}]}"""))
    assert(status == 200)
    assert(body.contains("\"total_rules\":2"))
    assert(body.contains("\"total_affected_resources\":200")) // 150 (EC2) + 50 (default)
    assert(body.contains("Unnamed Rule"))
  }

  test("implement-recommendation POST tracks approval state") {
    val (status, body) = request("POST",
      "/api/v1/finops/optimization/implement-recommendation",
      Some("""{"recommendation_id": "r42", "auto_approve": true}"""))
    assert(status == 200)
    assert(body.contains("impl_r42_"))
    assert(body.contains("\"status\":\"scheduled\""))
    assert(body.contains("\"approvalRequired\":false"))
  }

  test("executive summary formats leadership insights") {
    val (_, body) = get("/api/v1/finops/kpi/executive-summary")
    assert(body.contains("Current monthly spend"))
    assert(body.contains("Cost health score"))
    assert(body.contains("\"summaryDate\":\"2025-07-15\""))
  }

  test("concurrent requests share the session and all succeed") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val paths = Seq(
        "/api/v1/finops/spend/services/top",
        "/api/v1/finops/spend/regions/top",
        "/api/v1/finops/optimization/idle-resources",
        "/api/v1/finops/allocation/tagging-compliance",
        "/api/v1/finops/discounts/negotiation-opportunities?min_annual_spend=0",
        "/api/v1/finops/ai/anomaly-detection")
      val results = Await.result(
        Future.traverse(paths)(p => Future(get(p))), 120.seconds)
      results.foreach { case (status, body) =>
        assert(status == 200 && body.startsWith("{"))
      }
    } finally pool.shutdown()
  }

  test("route listing advertises the full bound surface") {
    val (status, body) = get("/api/v1/finops/routes")
    assert(status == 200)
    assert(body.contains("/api/v1/finops/kpi/summary"))
    assert(body.contains("/api/v1/finops/sql/query"))
    assert(body.contains("/api/v1/finops/mcp/stream-config"))
  }

  test("malformed JSON body maps to a 500 error envelope, not a hang") {
    val (status, body) = request("POST", "/api/v1/finops/sql/query",
      Some("{not json"))
    assert(status == 500)
    assert(body.contains("\"success\":false"))
  }

  test("a request body over the byte cap answers 413 while streaming in") {
    // streamed, not buffered client-side: the server must cut the read at
    // the cap instead of buffering whatever a POST carries
    val n = Requests.DefaultMaxBodyBytes + 1
    val url = URI.create(
      s"http://127.0.0.1:${server.boundPort}/api/v1/finops/sql/query").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setFixedLengthStreamingMode(n)
    val out = conn.getOutputStream
    val chunk = Array.fill[Byte](64 * 1024)(' '.toByte)
    var left = n
    while (left > 0) {
      val k = math.min(left, chunk.length.toLong).toInt
      out.write(chunk, 0, k)
      left -= k
    }
    out.close()
    val status = conn.getResponseCode
    val text = new String(conn.getErrorStream.readAllBytes(),
      StandardCharsets.UTF_8)
    conn.disconnect()
    assert(status == 413, text)
    assert(text.contains("\"success\":false"), text)
    val (s2, b2) = get("/health")
    assert(s2 == 200 && b2.contains("\"status\":\"healthy\""))
  }

  test("unknown path returns a 404 envelope") {
    val (status, body) = get("/api/v1/finops/nope")
    assert(status == 404)
    assert(body.contains("\"error\":\"not found\""))
  }

  test("unknown table on sql/schema maps to a 500 with error type") {
    val (status, body) = get("/api/v1/finops/sql/schema?table=NOPE")
    assert(status == 500)
    assert(body.contains("\"success\":false"))
  }

  test("a repeated cached GET returns an identical body and runs no Spark job") {
    val path = "/api/v1/finops/kpi/summary"
    val (s1, b1) = get(path)
    val ((s2, b2), jobs) = jobsDuring(get(path))
    assert(s1 == 200 && s2 == 200)
    assert(b1 == b2)
    assert(jobs == 0)
    assert(server.cachedResponses > 0)
  }

  test("after the CUR view is replaced, a cached route returns the new answer") {
    val path = "/api/v1/finops/spend/trend"
    val (_, before) = get(path)
    CurFixture.df(spark).filter(col("line_item_usage_account_id") === "222222222222")
      .createOrReplaceTempView("CUR")
    try {
      val (status, after) = get(path)
      assert(status == 200)
      assert(after != before)
      assert(after == uncached(path)._2)
    } finally restoreCur()
    assert(get(path)._2 == before)
  }

  test("a failing route is not kept: it answers again once the view is back") {
    val path = "/api/v1/finops/spend/services/top"
    spark.catalog.dropTempView("CUR")
    try {
      val (status, body) = get(path)
      assert(status == 500, body)
      assert(body.contains("\"success\":false"))
    } finally restoreCur()
    val (status, body) = get(path)
    assert(status == 200, body)
    assert(body.contains("AmazonEC2") && !body.contains("\"row_count\":0"))
  }

  test("sql/tables lists a view registered after an earlier request") {
    assert(!get("/api/v1/finops/sql/tables")._2.contains("late_view"))
    spark.range(3).createOrReplaceTempView("late_view")
    try assert(get("/api/v1/finops/sql/tables")._2.contains("late_view"))
    finally spark.catalog.dropTempView("late_view")
  }

  test("query strings beyond the cap through one route leave room for another route") {
    (0 until ResponseCache.MaxEntries + 20).foreach { i =>
      val (status, body) = get(s"/api/v1/finops/mcp/tools?n=$i")
      assert(status == 200 && body.contains("sql_query"), body)
    }
    assert(server.cachedResponses == ResponseCache.MaxEntries)
    // a route first asked after the cap filled is still kept: its repeat runs no job
    val path = "/api/v1/finops/spend/breakdown?dimensions=service"
    val (status, first) = get(path)
    assert(status == 200, first)
    val ((_, again), jobs) = jobsDuring(get(path))
    assert(again == first)
    assert(jobs == 0)
    assert(server.cachedResponses == ResponseCache.MaxEntries)
  }
}
