package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File

/** Table registration: parquet files/dirs → named lazy temp views.
  *
  * Reference behavior: `CREATE OR REPLACE TABLE t AS SELECT * FROM
  * read_parquet([files...])` (duckdb_engine.py:151-157,174-180) — an EAGER
  * full materialization into RAM before any query runs. We deliberately do
  * NOT copy that: a temp view over the parquet scan gives identical query
  * results while letting Catalyst push filters/projections into the scan
  * (check `.explain`: PushedFilters / ReadSchema), which is the only viable
  * shape at 100 TB.
  */
object Catalog {

  /** Register one parquet path (file, dir, or multi-path) as a temp view. */
  def registerParquet(spark: SparkSession, name: String, paths: Seq[String]): DataFrame = {
    val df = spark.read.parquet(paths: _*)
    df.createOrReplaceTempView(name)
    df
  }

  /** Register every `<table>.parquet` under `dir` as a temp view named by
    * file stem. This is the test-data entry point: `registerDir(spark,
    * "/root/testdata/sf0.01")` yields views lineitem/orders/....
    */
  def registerDir(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty)
    fs.filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val name = f.getName.stripSuffix(".parquet")
        name -> registerParquet(spark, name, Seq(f.getAbsolutePath))
      }.toMap
  }

  /** The identity of the temp view `name` names now: the catalog's raw plan
    * object, which every `createOrReplaceTempView` replaces (a
    * re-registration, a root change). None when `name` is not a temp view,
    * which has no identity to compare. Anything derived from a temp view
    * stays valid while [[sameView]] holds for the identity read before the
    * derivation started. */
  def viewIdentity(spark: SparkSession, name: String): Option[AnyRef] =
    spark.sessionState.catalog.getRawTempView(name)

  /** Whether `name` still names the temp view whose identity was `seen`.
    * Identities are fresh objects, so a replaced view never matches again. */
  def sameView(spark: SparkSession, name: String, seen: AnyRef): Boolean =
    viewIdentity(spark, name).exists(_ eq seen)

  /** Cheap schema description, mirroring DuckDBEngine.schema()
    * (duckdb_engine.py:315-327) — but free in Spark: no LIMIT-0 probe. */
  def schema(spark: SparkSession, table: String): Map[String, String] =
    spark.table(table).schema.fields
      .map(f => f.name -> f.dataType.simpleString).toMap

  /** First-n sample, mirroring DuckDBEngine.sample(). */
  def sample(spark: SparkSession, table: String, n: Int = 10): DataFrame =
    spark.table(table).limit(n)
}
