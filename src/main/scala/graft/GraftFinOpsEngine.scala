package graft

import graft.analytics.{FinOps, McpIntegration}
import graft.config.DataConfig
import graft.engine.{Catalog, GraftEngine, GraftSession}
import graft.sources.{MirrorDownloader, PartitionCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The top-level engine — the 1:1 surface of the reference's
  * `FinOpsEngine` (finops_engine.py): construct with a [[DataConfig]],
  * data registers lazily on first use with local-vs-remote source
  * selection, and every capability hangs off one object:
  *
  * {{{
  * val engine = GraftFinOpsEngine(DataConfig(localDataPath = Some("/data/cur"),
  *   dateStart = Some("2025-04"), dateEnd = Some("2025-07")))
  * engine.query("SELECT ... FROM CUR ...")        // SQL or .sql file
  * engine.finops.healthCheck()                     // analytics modules
  * engine.downloadDataLocally()                    // S6 mirror
  * }}}
  *
  * Differences from the reference, by design (SURVEY.md §4): one
  * long-lived SparkSession instead of a connection per query; results
  * are DataFrames the caller collects. Like the reference, the pruned
  * export is materialized once — per registration, not per query, and
  * only when it fits: [[ensureRegistered]] persists the registered view
  * as an in-memory columnar relation when [[GraftFinOpsEngine.fitsInMemory]]
  * accepts its listed bytes, so every later route and ad-hoc query scans
  * cached column batches instead of decoding parquet again. An export
  * too large for the storage memory keeps the lazy, partition-pruned
  * view.
  */
final class GraftFinOpsEngine(
    val config: DataConfig,
    val spark: SparkSession,
    val pricingSource: graft.pricing.PricingSource = new graft.pricing.MockPricingSource) {

  private val engine = new GraftEngine(spark, config.referenceDate)

  /** THE one deliberate wall-clock seam in the library: the config-driven
    * engine mirrors the reference's "today when no date injected"
    * behavior, resolved ONCE at first use so every module and API table
    * this engine builds shares a single consistent date (a session
    * straddling midnight must not hand different days to finops vs mcp
    * vs the spot-history table). Every other entry point — the analytics
    * constructors, [[graft.pricing.PricingTables.registerApiTables]],
    * spotPriceHistory — REQUIRES an explicit asOf; inject
    * `config.referenceDate` for reproducible runs. */
  private lazy val resolvedAsOf: java.time.LocalDate =
    config.referenceDate.getOrElse(java.time.LocalDate.now())
  // root the current registration was made over; None = not yet registered.
  // The reference honors force_s3 per query (duckdb_engine.py:246-266), so
  // source selection re-resolves on every call and re-registers only when
  // the resolved root actually changes.
  @volatile private var registeredRoot: Option[String] = None
  // the registered view this engine persisted; None = the view is lazy
  private var materialized: Option[DataFrame] = None

  /** Source selection + registration (duckdb_engine.py:246-266), re-run
    * whenever the requested forceS3 resolves to a different root. Each
    * registration then materializes the view once when it fits
    * ([[materialize]]); a root change releases the previous root's copy
    * without blocking, so requests already planned over it recompute
    * from the files and stay correct. */
  def ensureRegistered(forceS3: Boolean = false): Unit = synchronized {
    val root = PartitionCatalog.chooseRoot(config, forceS3)
      .getOrElse(throw new IllegalStateException(
        "no data source configured: set localDataPath or s3Bucket"))
    if (!registeredRoot.contains(root)) {
      val reg = PartitionCatalog.registerListed(spark, root, config)
      materialized.foreach(_.unpersist(blocking = false))
      materialized = materialize(reg)
      registerApiTables()
      registeredRoot = Some(root)
    }
  }

  /** Persist the registered view (MEMORY_AND_DISK) and force it with one
    * count, when the export fits; otherwise leave it lazy. Re-registering
    * the same files elsewhere in the session keeps hitting this copy: the
    * cache matches plans, not view names. */
  private def materialize(reg: PartitionCatalog.Registered): Option[DataFrame] =
    if (!GraftFinOpsEngine.fitsInMemory(reg.listedBytes,
        GraftFinOpsEngine.freeStorageBytes(spark))) None
    else {
      reg.view.persist()
      reg.view.count()
      Some(reg.view)
    }

  /** "When API data sources are enabled, these tables are automatically
    * available" (reference README.md:583-592): one delegation to the
    * [[graft.pricing.PricingTables.registerApiTables]] seam, flags from
    * [[DataConfig]]. The source is wrapped in a
    * [[graft.pricing.CachingPricingSource]] honoring
    * `apiCacheMaxAgeDays` (the reference's refresh knob) so a live
    * client pays each lookup once per window. Spot history pins to
    * `referenceDate` — the DETERMINISTIC mode; today's date is used
    * only when none is injected, matching the analytics modules'
    * convention (inject referenceDate for reproducible spot joins). */
  // built ONCE so the TTL cache survives re-registrations (forceS3 root
  // flips re-run registerApiTables; a fresh wrapper each time would
  // re-pay every live-API lookup per toggle)
  private lazy val cachedPricingSource: graft.pricing.PricingSource =
    if (config.apiCacheMaxAgeDays > 0)
      new graft.pricing.CachingPricingSource(pricingSource,
        config.apiCacheMaxAgeDays)
    else pricingSource

  private def registerApiTables(): Unit = {
    if (config.enablePricingApi || config.enableSavingsPlansApi) {
      graft.pricing.PricingTables.registerApiTables(spark, cachedPricingSource,
        config.pricingApiInstanceTypes, config.pricingApiRegions,
        asOf = resolvedAsOf,
        savingsPlanArns = config.savingsPlanArns,
        enablePricing = config.enablePricingApi,
        enableSavingsPlans = config.enableSavingsPlansApi,
        includeRates = config.savingsPlansIncludeRates)
    }
  }

  /** The workhorse (finops_engine.py:147-168): SQL text or `.sql` file,
    * through the dialect translator, against the registered table. */
  def query(sqlOrFile: String, forceS3: Boolean = false): DataFrame = {
    ensureRegistered(forceS3)
    engine.query(sqlOrFile)
  }

  /** Guarded ad-hoc endpoint (sql_endpoints.py semantics). */
  def guardedQuery(sql: String, maxRows: Int = 1000): Either[String, DataFrame] = {
    ensureRegistered()
    engine.guardedQuery(sql, maxRows)
  }

  def schema(): Map[String, String] = {
    ensureRegistered()
    Catalog.schema(spark, config.tableName)
  }

  def sample(n: Int = 10): DataFrame = {
    ensureRegistered()
    Catalog.sample(spark, config.tableName, n)
  }

  /** S6: mirror the remote export locally (data_downloader.py). */
  def downloadDataLocally(sourceRoot: String, overwrite: Boolean = false): MirrorDownloader.DownloadReport =
    MirrorDownloader.downloadDataLocally(sourceRoot, config, overwrite)

  /** S7: size/cost estimate before downloading. */
  def estimateDownloadSize(sourceRoot: String): MirrorDownloader.DownloadEstimate =
    MirrorDownloader.estimateDownloadSize(sourceRoot, config)

  /** The seven analytics modules (finops_engine.py module accessors). */
  lazy val finops: FinOps = {
    ensureRegistered()
    new FinOps(spark, config.tableName,
      resolvedAsOf)
  }

  /** MCP-style NL/tooling surface. */
  lazy val mcp: McpIntegration = {
    ensureRegistered()
    new McpIntegration(spark, config.tableName,
      resolvedAsOf)
  }

  /** Start the REST layer over this engine — the analogue of the
    * reference's `FinOpsAPI(engine)` + uvicorn (fastapi_app.py:225-260).
    * Binds every reference route; port 0 picks an ephemeral port
    * (`serve().boundPort`). Caller stops it with `.stop()`. */
  def serve(port: Int = 8000): graft.api.FinOpsServer = {
    ensureRegistered()
    val s = new graft.api.FinOpsServer(finops, engine, port)
    s.start()
    s
  }
}

object GraftFinOpsEngine {

  /** Cached bytes per listed byte of a CUR export, rounded up from the
    * measured expansion: the benchmark's 600k-row, 83-partition parquet
    * export lists 45.1 MB and caches as 304.4 MB of column batches (6.7x).
    * A gzip CSV export is sized by the same ratio (not measured). */
  private[graft] val CachedBytesPerListedByte: Long = 8

  /** The materialization rule: the expanded copy may take at most half of
    * the free storage memory. The other half stays with the queries'
    * execution memory, which may evict cached blocks beyond Spark's
    * default 0.5 storage share (MEMORY_AND_DISK moves an evicted block to
    * local disk, so a misjudged size costs time, not correctness). */
  private[graft] def fitsInMemory(listedBytes: Long, freeStorageBytes: Long): Boolean =
    listedBytes <= freeStorageBytes / 2 / CachedBytesPerListedByte

  /** Storage memory the block managers that hold cached blocks report as
    * free: the driver's in local mode, the executors' on a cluster. */
  private[graft] def freeStorageBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val status = sc.getExecutorMemoryStatus
    val holders =
      if (sc.isLocal) status
      else status.toMap - org.apache.spark.SparkEnv.get.blockManager.blockManagerId.hostPort
    holders.values.map(_._2).sum
  }

  def apply(config: DataConfig,
      spark: SparkSession = GraftSession.local()): GraftFinOpsEngine =
    new GraftFinOpsEngine(config, spark)
}
