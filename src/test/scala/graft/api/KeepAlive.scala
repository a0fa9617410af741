package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Latency of sequential GETs over ONE kept-alive HTTP/1.1 connection, the
  * way the benchmark's client and most REST clients send them. A server
  * that writes headers and body as two TCP writes without `TCP_NODELAY`
  * shows ~40 ms per response here (Nagle waits for the delayed ACK),
  * however little work the route does. */
object KeepAlive {

  /** Median milliseconds of `n` sequential 200 GETs of `path`. */
  def medianMs(port: Int, path: String, n: Int = 21): Double = {
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val ms = Seq.fill(n) {
      val t0 = System.nanoTime()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 200, r.body)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(n / 2)
  }
}
