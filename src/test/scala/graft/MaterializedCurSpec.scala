package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.analytics.FinOps
import graft.api.FinOpsServer
import graft.config.DataConfig
import graft.engine.GraftEngine
import graft.fixtures.CurFixture
import graft.sources.{MockRemoteFileSystem, PartitionCatalog}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The local-backed mock filesystem under the `s3a` scheme and one fixed
  * bucket, so `forceS3` resolves to a root the specs can read. */
class MockS3aFileSystem extends MockRemoteFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: URI = URI.create(s"s3a://${MockS3aFileSystem.Bucket}/")
}

object MockS3aFileSystem {
  val Bucket = "graft-cur"
}

/** The CUR the engine materializes at registration: it answers every
  * route the benchmark sends exactly like the lazy parquet view, plans
  * cached column batches instead of a parquet scan, is sized by one pure
  * rule, and follows a root change. */
class MaterializedCurSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val asOf = LocalDate.of(2025, 7, 15)

  private lazy val root: String = {
    val d = Files.createTempDirectory("cur_materialized").toString
    CurFixture.writePartitioned(spark, d)
    d
  }

  private def config: DataConfig =
    DataConfig(localDataPath = Some(root), referenceDate = Some(asOf))

  /** Drop the copy a test's engine made, so later tests (and specs) see the
    * session as they would without it. */
  private def release(): Unit = spark.table("CUR").unpersist(blocking = true)

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  // the dashboard routes and one ad-hoc query per SQL shape of the
  // benchmark's finops_api mix, with literals from the fixture
  private val routes = Seq("kpi/summary", "kpi/dashboard-data",
    "spend/invoice/summary", "spend/services/top", "spend/regions/top",
    "spend/trend", "spend/breakdown", "optimization/idle-resources",
    "allocation/tagging-compliance", "discounts/usage-forecasting",
    "ai/anomaly-detection")
  private val shapes = Seq(
    """SELECT line_item_usage_account_id AS account,
      |ROUND(SUM(line_item_unblended_cost), 6) AS cost, COUNT(*) AS n
      |FROM CUR WHERE billing_period BETWEEN '2024-09' AND '2025-03'
      |AND product_servicecode = 'AmazonEC2' GROUP BY line_item_usage_account_id
      |ORDER BY account""",
    """SELECT billing_period AS period, ROUND(SUM(line_item_unblended_cost), 6) AS cost
      |FROM CUR WHERE line_item_usage_account_id = '222222222222'
      |AND billing_period BETWEEN '2024-11' AND '2025-06'
      |AND line_item_unblended_cost > 0.01000
      |GROUP BY billing_period ORDER BY period""",
    """SELECT product_region AS region, COUNT(DISTINCT line_item_resource_id) AS resources,
      |ROUND(SUM(pricing_public_on_demand_cost), 6) AS od
      |FROM CUR WHERE product_servicecode = 'AmazonRDS'
      |AND line_item_usage_account_id = '333333333333'
      |AND billing_period BETWEEN '2024-06' AND '2025-07' GROUP BY product_region
      |ORDER BY region""").map(_.stripMargin.replace('\n', ' '))

  private val json = new ObjectMapper()

  private def call(port: Int, method: String, path: String,
      body: Option[String]): String = {
    val conn = URI.create(s"http://127.0.0.1:$port/api/v1/finops/$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val status = conn.getResponseCode
    val text = new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    assert(status == 200, s"$path -> $status $text")
    text
  }

  private def answers(port: Int): Seq[JsonNode] =
    (routes.map(r => call(port, "GET", r, None)) ++
      shapes.map(q => call(port, "POST", "sql/query",
        Some(json.writeValueAsString(Map("query" -> q).asJava)))))
      .map(json.readTree)

  /** JSON equality without `execution_time_ms`, doubles to 1e-9 relative
    * (a summation order may differ between the two plans). */
  private def same(a: JsonNode, b: JsonNode): Boolean =
    if (a.isObject && b.isObject) {
      def keys(n: JsonNode) = n.fieldNames().asScala.toSet - "execution_time_ms"
      keys(a) == keys(b) && keys(a).forall(k => same(a.get(k), b.get(k)))
    } else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => same(a.get(i), b.get(i)))
    else if (a.isNumber && b.isNumber)
      math.abs(a.asDouble - b.asDouble) <=
        1e-9 * math.max(1.0, math.max(math.abs(a.asDouble), math.abs(b.asDouble)))
    else a == b

  test("every finops_api route and SQL shape answers the same over the materialized CUR") {
    val lazyView = PartitionCatalog.register(spark, root, config)
    assert(!cached(lazyView))
    val lazySrv = new FinOpsServer(new FinOps(spark, "CUR", asOf),
      new GraftEngine(spark, Some(asOf)))
    lazySrv.start()
    val want = try answers(lazySrv.boundPort) finally lazySrv.stop()

    val srv = new GraftFinOpsEngine(config, spark).serve(0)
    try {
      assert(cached(spark.table("CUR")), "the engine did not materialize the CUR")
      val got = answers(srv.boundPort)
      (routes ++ shapes).zip(want.zip(got)).foreach { case (what, (w, g)) =>
        assert(same(w, g), s"$what differs:\nlazy $w\nmaterialized $g")
      }
    } finally {
      srv.stop()
      release()
    }
  }

  test("the engine's CUR plans an in-memory relation and no parquet scan") {
    new GraftFinOpsEngine(config, spark).ensureRegistered()
    try {
      assert(spark.table("CUR").queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }.nonEmpty)
      val filtered = spark.sql(shapes.head)
      filtered.collect()
      val plan = filtered.queryExecution.executedPlan
      assert(collect(plan) { case f: FileSourceScanExec => f }.isEmpty, plan)
      // the billing_period range reaches the cached scan, which skips
      // batches outside it by their statistics
      val scans = collect(plan) { case s: InMemoryTableScanExec => s }
      assert(scans.nonEmpty, plan)
      assert(scans.exists(_.predicates.exists(
        _.references.exists(_.name == "billing_period"))), plan)
    } finally release()
  }

  test("the size rule materializes up to half the free storage at the measured expansion") {
    val free = 3L << 30
    val limit = free / 2 / GraftFinOpsEngine.CachedBytesPerListedByte
    assert(GraftFinOpsEngine.fitsInMemory(limit, free))
    assert(!GraftFinOpsEngine.fitsInMemory(limit + 1, free))
    assert(!GraftFinOpsEngine.fitsInMemory(100L << 40, free), "a 100 TB export")
    assert(!GraftFinOpsEngine.fitsInMemory(1L, 0L))
    assert(GraftFinOpsEngine.freeStorageBytes(spark) > 0)
  }

  test("a root change releases the old copy: only the new root's relation stays cached") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3aFileSystem].getName)
    hc.setBoolean("fs.s3a.impl.disable.cache", true)
    try {
      val e = new GraftFinOpsEngine(config.copy(
        s3Bucket = Some(MockS3aFileSystem.Bucket), s3Prefix = Some(root.stripPrefix("/"))),
        spark)
      val n = e.query("SELECT count(*) AS n FROM CUR").head().getLong(0)
      assert(n == CurFixture.rows.size)
      assert(e.query("SELECT count(*) AS n FROM CUR", forceS3 = true).head().getLong(0) == n)
      val probe = config.copy(tableName = "CUR_ROOT_PROBE")
      val local = PartitionCatalog.register(spark, root, probe)
      val remote = PartitionCatalog.register(spark,
        s"s3a://${MockS3aFileSystem.Bucket}/${root.stripPrefix("/")}", probe)
      assert(!cached(local), "the previous root's copy is still cached")
      assert(cached(remote), "the new root was not materialized")
      remote.unpersist(blocking = true)
      spark.catalog.dropTempView("CUR_ROOT_PROBE")
    } finally {
      hc.unset("fs.s3a.impl")
      hc.unset("fs.s3a.impl.disable.cache")
    }
  }

  test("after a root change, a cached route's answer follows the new root") {
    // the s3a root holds one account's rows, so its answers differ
    val other = Files.createTempDirectory("cur_materialized_s3").toString
    CurFixture.df(spark).filter(col("line_item_usage_account_id") === "222222222222")
      .withColumnRenamed("billing_period", "BILLING_PERIOD")
      .write.mode("overwrite").partitionBy("BILLING_PERIOD").parquet(other)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[MockS3aFileSystem].getName)
    hc.setBoolean("fs.s3a.impl.disable.cache", true)
    try {
      val e = new GraftFinOpsEngine(config.copy(
        s3Bucket = Some(MockS3aFileSystem.Bucket), s3Prefix = Some(other.stripPrefix("/"))),
        spark)
      val srv = e.serve(0)
      try {
        val local = call(srv.boundPort, "GET", "spend/trend", None)
        assert(call(srv.boundPort, "GET", "spend/trend", None) == local)
        e.ensureRegistered(forceS3 = true)
        val remote = call(srv.boundPort, "GET", "spend/trend", None)
        assert(remote != local, "the route still answers from the previous root")
        val fresh = new FinOpsServer(new FinOps(spark, "CUR", asOf),
          new GraftEngine(spark, Some(asOf)))
        fresh.start()
        try assert(remote == call(fresh.boundPort, "GET", "spend/trend", None))
        finally fresh.stop()
      } finally {
        srv.stop()
        release()
      }
    } finally {
      hc.unset("fs.s3a.impl")
      hc.unset("fs.s3a.impl.disable.cache")
    }
  }
}
