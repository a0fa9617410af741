package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** The query workhorse, mirroring `FinOpsEngine.query` / `DuckDBEngine.query`
  * (finops_engine.py:147-168, duckdb_engine.py:234-313) Spark-first:
  *
  *   - `.sql`-suffixed argument → load file contents (S5).
  *   - dialect translation (SqlTranslator) before `spark.sql`.
  *   - results stay lazy DataFrames; callers decide when to collect.
  *
  * Unlike the reference there is no per-query connection, no Arrow/pandas
  * conversion fallback, and no materialization per query — Catalyst plans
  * each query over the registered view, which scans the cached columnar
  * copy when [[graft.GraftFinOpsEngine]] materialized it at registration
  * and the pruned parquet files with pushdown otherwise.
  */
class GraftEngine(val spark: SparkSession,
    referenceDate: Option[java.time.LocalDate] = None) {

  /** Execute SQL text or a `.sql` file path. */
  def query(sqlOrFile: String): DataFrame = {
    val sql =
      if (sqlOrFile.trim.endsWith(".sql")) loadSqlFile(sqlOrFile.trim)
      else sqlOrFile
    spark.sql(SqlTranslator.translate(sql, referenceDate))
  }

  /** Guarded ad-hoc endpoint semantics (sql_endpoints.py:89-233): firewall +
    * a row cap. Returns Left(reason) on rejected SQL. The cap is a Limit on
    * the plan, not LIMIT text: the reference's text injection skips any
    * query that says LIMIT anywhere (a subquery, a string literal, one
    * UNION branch) and returns it uncapped. */
  def guardedQuery(sql: String, maxRows: Int = 1000): Either[String, DataFrame] =
    SqlTranslator.validateReadOnly(sql).map { ok =>
      spark.sql(SqlTranslator.translate(ok, referenceDate)).limit(maxRows)
    }

  /** Load a SQL file, trying absolute then cwd-relative path
    * (finops_engine.py:152-160). */
  def loadSqlFile(path: String): String = {
    val p = Paths.get(path)
    val resolved =
      if (Files.exists(p)) p
      else Paths.get(System.getProperty("user.dir")).resolve(path)
    new String(Files.readAllBytes(resolved), "UTF-8")
  }

  def schema(table: String): Map[String, String] = Catalog.schema(spark, table)
  def sample(table: String, n: Int = 10): DataFrame = Catalog.sample(spark, table, n)
}

object GraftEngine {
  /** Error taxonomy for API responses (sql_endpoints.py:214-233), keyed
    * off Spark's error classes with the reference's message-sniffing as
    * fallback. */
  def classifyError(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").toLowerCase
    if (msg.contains("table_or_view_not_found") || msg.contains("not found") ||
      msg.contains("does not exist")) "TABLE_NOT_FOUND"
    else if (msg.contains("parse_syntax_error") || msg.contains("syntax error") ||
      msg.contains("parser error")) "SQL_SYNTAX_ERROR"
    else if (msg.contains("unresolved_column") || msg.contains("cannot resolve") ||
      msg.contains("bind")) "COLUMN_NOT_FOUND"
    else "EXECUTION_ERROR"
  }
}
