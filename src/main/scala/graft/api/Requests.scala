package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}

/** Transport and request helpers shared by the REST servers
  * ([[FinOpsServer]], [[ServingServer]]): the one JDK `HttpServer`
  * binding, the JSON response writer, the capped body reader, its 413
  * mapping and query-parameter lookup. */
object Requests {

  /** The JDK's switch for `TCP_NODELAY` on accepted connections. */
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** Request threads per server: few on purpose, since each request runs
    * its Spark jobs on the driver and the jobs share Spark's scheduler. */
  private val RequestThreads = 8

  /** A bound loopback server and its request pool. */
  private[graft] final class Binding(server: HttpServer, pool: ExecutorService) {
    def port: Int = server.getAddress.getPort
    def start(): Unit = server.start()
    def stop(): Unit = {
      server.stop(0)
      pool.shutdown()
    }
  }

  /** Bind `handler` on 127.0.0.1:`port` (0 = ephemeral) with a fixed pool
    * of [[RequestThreads]]. Every JDK `HttpServer` in graft is created
    * here.
    *
    * Without `TCP_NODELAY` every response on a kept-alive connection
    * reaches the client ~40 ms late: the JDK writes the headers and the
    * body as two TCP writes, and Nagle holds the body back until the
    * client's delayed ACK arrives (uvicorn, the reference's server, sets
    * `TCP_NODELAY` on every socket). The JDK reads its switch once, when
    * the JVM creates its first `HttpServer`, so it is set here before
    * that, unless already set (`-Dsun.net.httpserver.nodelay=false`
    * keeps the JDK default). */
  private[graft] def bind(port: Int)(handler: HttpHandler): Binding = {
    System.getProperties.putIfAbsent(NoDelay, "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val pool = Executors.newFixedThreadPool(RequestThreads)
    server.setExecutor(pool)
    server.createContext("/", handler)
    new Binding(server, pool)
  }

  /** Send `bytes` as the JSON response with `status` and close `ex`. */
  private[api] def respond(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

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
