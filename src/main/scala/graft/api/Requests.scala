package graft.api

import com.sun.net.httpserver.HttpExchange

import java.nio.charset.StandardCharsets

/** Request-side helpers shared by the REST servers ([[FinOpsServer]],
  * [[ServingServer]]): the capped body reader, its 413 mapping and
  * query-parameter lookup. */
object Requests {

  /** Default request-body byte cap: generous for a full 10k-row batch of
    * documents or 64-dim embedding JSON, or any SQL text, while bounding
    * what a single request can make the driver buffer. */
  val DefaultMaxBodyBytes: Long = 64L * 1024 * 1024

  /** Bound on the post-413 courtesy drain — enough for any in-flight
    * client write buffer, far from an unbounded read of a hostile
    * stream. */
  private[api] val DrainCapBytes: Long = 4L * 1024 * 1024

  /** A request over a size limit — answered with HTTP 413 ([[tooLarge]]). */
  private[api] final class PayloadTooLarge(msg: String)
    extends RuntimeException(msg)

  /** Request body, capped at `maxBytes` WHILE STREAMING IN, so no request
    * makes the driver buffer more than the cap before any check.
    *
    * On a cap trip the remaining bytes are DRAINED (bounded) and the
    * stream closed before the 413 goes out: com.sun.net.httpserver resets
    * the connection on an unread request body, so a client still writing
    * could otherwise never read the 413 that tells it why (r18 advisor).
    * The drain is bounded — a client streaming forever still gets cut,
    * just without the courtesy status. */
  private[api] def body(ex: HttpExchange, maxBytes: Long): String = {
    val in = ex.getRequestBody
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size().toLong + n > maxBytes) {
        var drained = 0L
        try {
          var d = in.read(buf)
          while (d >= 0 && drained < DrainCapBytes) {
            drained += d
            d = in.read(buf)
          }
          in.close()
        } catch { case _: java.io.IOException => () } // best-effort drain
        throw new PayloadTooLarge(
          s"request body exceeds $maxBytes bytes — split it into smaller " +
            "requests")
      }
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }

  /** The 413 response (status, JSON envelope) for a [[PayloadTooLarge]]. */
  private[api] def tooLarge(e: PayloadTooLarge): (Int, String) =
    413 -> ApiResponses.toJson(Map("success" -> false,
      "error" -> e.getMessage.take(500)))

  /** Query parameter `name`, URL-decoded. */
  private[api] def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, "UTF-8")
      }
}
