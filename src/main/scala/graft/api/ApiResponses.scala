package graft.api

import graft.engine.GraftEngine
import org.apache.spark.sql.DataFrame
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** API response shaping (reference api/endpoints/sql_endpoints.py:89-233):
  * the JSON envelope the REST surface returns — rows, schema dict, row
  * count, execution ms, metadata, and the error taxonomy on failure. The
  * HTTP binding itself is out of scope (reference parity is the shapes,
  * SURVEY.md §7.2 item 9); any server can serve these strings.
  */
object ApiResponses {

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    // java.time as ISO-8601 strings (expiration dates in the discounts API)
    .registerModule(new com.fasterxml.jackson.datatype.jsr310.JavaTimeModule)
    .disable(com.fasterxml.jackson.databind.SerializationFeature.WRITE_DATES_AS_TIMESTAMPS)

  final case class QueryResponse(
      success: Boolean,
      rows: Seq[Map[String, Any]],
      schema: Map[String, String],
      row_count: Long,
      execution_time_ms: Double,
      metadata: Map[String, Any])

  final case class ErrorResponse(
      success: Boolean,
      error: String,
      error_type: String,
      query_metadata: Map[String, Any])

  /** The largest `max_rows` an ad-hoc query may ask for — the
    * reference's own bound (sql_endpoints.py:19). */
  private[api] val MaxRowsCap = 10000

  /** A requested `max_rows`, when it is an integer in 1..[[MaxRowsCap]]. */
  private[api] def parseMaxRows(raw: String): Option[Int] =
    raw.toIntOption.filter(n => n >= 1 && n <= MaxRowsCap)

  /** The in-envelope rejection of a request before any SQL runs. */
  private[api] def validationError(reason: String, sql: String): String =
    toJson(ErrorResponse(success = false, error = reason,
      error_type = "VALIDATION_ERROR",
      query_metadata = Map("query_length" -> sql.length)))

  /** Execute guarded SQL and build the success/error envelope
    * (sql_endpoints.py:150-233). guardedQuery caps the plan at `maxRows`,
    * so the collect is API-sized. */
  def sqlQueryResponse(engine: GraftEngine, sql: String,
      maxRows: Int = 1000): String = {
    val t0 = System.nanoTime()
    def ms: Double = math.rint((System.nanoTime() - t0) / 1e4) / 100.0
    // analysis errors throw from spark.sql (inside guardedQuery) eagerly,
    // so the whole pipeline sits under one handler
    try {
      engine.guardedQuery(sql, maxRows) match {
        case Left(reason) => validationError(reason, sql)
        case Right(df) =>
          val rows = collectRows(df)
          toJson(QueryResponse(success = true, rows = rows,
            schema = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap,
            row_count = rows.size.toLong,
            execution_time_ms = ms,
            metadata = Map("query_length" -> sql.length, "max_rows" -> maxRows)))
      }
    } catch {
      case e: Exception =>
        toJson(ErrorResponse(success = false,
          error = Option(e.getMessage).getOrElse(e.toString).take(500),
          error_type = GraftEngine.classifyError(e),
          query_metadata = Map("query_length" -> sql.length,
            "execution_time_ms" -> ms)))
    }
  }

  /** Rows as name->value maps (exports.py to_dicts shape). */
  def collectRows(df: DataFrame): Seq[Map[String, Any]] = {
    val names = df.columns
    df.collect().toSeq.map { r =>
      names.zipWithIndex.map { case (n, i) =>
        n -> (r.get(i) match {
          case null => null
          case t: java.sql.Timestamp => t.toString
          case d: java.sql.Date => d.toString
          case other => other
        })
      }.toMap
    }
  }

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** Parse a JSON request body (server-side request decoding). */
  def readTree(raw: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(raw)
}
