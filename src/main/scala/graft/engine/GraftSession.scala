package graft.engine

import org.apache.spark.sql.SparkSession

/** The one place graft builds a session, with scale-oriented defaults.
  *
  * The reference engine (de_polars/engine/duckdb_engine.py:16-376) opens a
  * fresh in-memory DuckDB per query and eagerly materializes the whole
  * dataset. We do the opposite, Spark-first: one long-lived session, lazy
  * temp views over parquet, and Catalyst/AQE doing pruning + join planning.
  *
  * Defaults are chosen for cluster-scale behavior, tested on local[N]:
  *   - AQE on (runtime shuffle coalescing, broadcast conversion, skew-join
  *     splitting) — at 100 TB the same plans re-optimize per stage.
  *   - shuffle.partitions matched to parallelism locally; on a real cluster
  *     AQE coalesces from a high initial number, so this knob is safe.
  *   - UTC session timezone for deterministic date semantics.
  *   - graft's functions installed at build time ([[graft.functions.GraftExtensions]]).
  */
object GraftSession {

  /** The settings every graft session carries, local or cluster — one
    * table, so [[local]] and [[clusterDefaults]] cannot drift apart. */
  private val shared: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName,
    // Static conf, default 100 entries: a long-lived analytics session
    // runs hundreds of distinct plan shapes; at the default the codegen
    // class cache thrashes and queries silently re-pay janino compilation
    // (measured: q31 8.7 s evicted vs 2.9 s warm). Size to the working set.
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(
      cores: Int = defaultParallelism,
      shufflePartitions: Int = -1,
      appName: String = "graft"): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else math.max(cores, 8)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config(shared)
      .config("spark.sql.shuffle.partitions", sp.toString)
      // Test tables carry TIMESTAMP(NANOS) parquet columns (TESTDATA.md);
      // read them as Long once session-wide instead of mutating the conf
      // inside table loaders.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cluster-deployment builder settings, as code instead of a wiki page.
    * Returns the conf map to merge into spark-defaults / the builder for a
    * 100 TB deployment of this library: the shared settings plus
    *
    *  - shuffle.partitions high (AQE coalesces DOWN at runtime; it cannot
    *    split an under-partitioned stage UP) — ~2-3x total cores.
    *  - maxPartitionBytes default 128m for relational scans, but LOWERED
    *    for binary-media tables (multimodal module) so one task does not
    *    decode 128 MB of media serially while the rest idle.
    *  - skewJoin + advisory sizes let AQE split hot partitions; the
    *    explicit SkewTools salting covers pre-aggregation skew AQE cannot.
    */
  def clusterDefaults(totalCores: Int, binaryHeavy: Boolean = false): Map[String, String] =
    shared ++ Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
      "spark.sql.shuffle.partitions" -> (totalCores * 3).toString,
      "spark.sql.files.maxPartitionBytes" -> (if (binaryHeavy) "16m" else "128m"),
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")
}
