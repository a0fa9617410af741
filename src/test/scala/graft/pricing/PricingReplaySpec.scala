package graft.pricing

import com.sun.net.httpserver.{HttpExchange, HttpHandler}
import com.fasterxml.jackson.databind.json.JsonMapper
import graft.api.Requests
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Recorded-response replay for the REAL [[AwsPricingClient]]: a loopback
  * JDK `HttpServer` (bound by [[Requests.bind]], like every JDK server in
  * graft, so the JVM's first server never fixes `TCP_NODELAY` off) serves captured Price List response SHAPES (the
  * double-encoded PriceList, NextToken pagination, AWS-style error
  * bodies), and the client's actual network path — SigV4 signing, send,
  * page walk, parse, error mapping — runs end-to-end with zero egress.
  * This shrinks the never-exercised surface of the zero-egress sandbox to
  * the TLS handshake alone ([[AwsSigV4]]'s math is separately pinned to
  * the documented worked example).
  */
class PricingReplaySpec extends AnyFunSuite {

  private val mapper = JsonMapper.builder().build()

  /** A PriceList ITEM (inner JSON, later string-encoded like the API). */
  private def item(usd: String, vcpu: String = "2"): String =
    s"""{"product":{"attributes":{"vcpu":"$vcpu","memory":"8 GiB",
       |"physicalProcessor":"Intel Xeon"}},
       |"terms":{"OnDemand":{"T1":{"priceDimensions":{"D1":{"unit":"Hrs",
       |"pricePerUnit":{"USD":"$usd"}}}}}}}""".stripMargin.replace("\n", "")

  private def page(items: Seq[String], token: Option[String]): String = {
    val list = items.map(mapper.writeValueAsString).mkString(",")
    val tok = token.map(t => s""","NextToken":"$t"""").getOrElse("")
    s"""{"FormatVersion":"aws_v1","PriceList":[$list]$tok}"""
  }

  /** Serve `responses` in order (status, body), recording each request's
    * headers and body; then run `run` against the bound port. */
  private def withReplayServer(responses: Seq[(Int, String)])(
      run: (AwsPricingClient, mutable.Buffer[(Map[String, String], String)]) => Unit): Unit = {
    val seen = mutable.Buffer.empty[(Map[String, String], String)]
    val remaining = mutable.Queue(responses: _*)
    val server = Requests.bind(0)(new HttpHandler {
      // requests run on the binding's pool: one at a time over the queue
      override def handle(ex: HttpExchange): Unit = synchronized {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val headers = ex.getRequestHeaders.entrySet().iterator()
        val hm = mutable.Map.empty[String, String]
        while (headers.hasNext) {
          val e = headers.next()
          hm(e.getKey.toLowerCase) = e.getValue.get(0)
        }
        seen += ((hm.toMap, body))
        val (status, resp) =
          if (remaining.nonEmpty) remaining.dequeue()
          else (500, """{"message":"no more recorded responses"}""")
        val bytes = resp.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/x-amz-json-1.1")
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val client = new AwsPricingClient(
        AwsSigV4.Credentials("AKIDEXAMPLE", "wJalrXUtnFEMI", None),
        endpointOverride = Some(s"http://127.0.0.1:${server.port}"),
        clock = () => java.time.ZonedDateTime.of(2026, 1, 15, 12, 0, 0, 0,
          java.time.ZoneOffset.UTC))
      run(client, seen)
    } finally server.stop()
  }

  test("onDemandPrice walks NextToken pagination and parses the second page") {
    // page 1: zero-price SKU + a cursor; page 2: the real price — the
    // parsed result proves BOTH that pagination was followed and that
    // zero prices are skipped by the nested walk
    withReplayServer(Seq(
      200 -> page(Seq(item("0")), Some("cursor-2")),
      200 -> page(Seq(item("0.096")), None))) { (client, seen) =>
      val p = client.onDemandPrice("m5.large", "us-east-1", "Linux", "Shared")
      assert(p.contains(0.096))
      assert(seen.size == 2, "client should have fetched exactly two pages")
      // follow-up request carries the cursor; the first must not
      assert(!seen(0)._2.contains("NextToken"))
      assert(seen(1)._2.contains(""""NextToken":"cursor-2""""))
      // the signed request survives the wire intact
      val (h1, b1) = seen(0)
      assert(b1.contains(""""ServiceCode":"AmazonEC2""""))
      assert(b1.contains(""""Field":"instanceType","Value":"m5.large""""))
      assert(h1("x-amz-target") == "AWSPriceListService.GetProducts")
      assert(h1("authorization").startsWith(
        "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20260115/us-east-1/pricing/aws4_request"))
      assert(h1("content-type") == "application/x-amz-json-1.1")
    }
  }

  test("rdsPrice and instanceAttributes parse their recorded shapes") {
    withReplayServer(Seq(
      200 -> page(Seq(item("0.171")), None),
      200 -> page(Seq(item("0.096", vcpu = "8")), None))) { (client, seen) =>
      assert(client.rdsPrice("db.m5.large", "us-east-1", "PostgreSQL").contains(0.171))
      assert(seen.head._2.contains(""""ServiceCode":"AmazonRDS""""))
      val attrs = client.instanceAttributes("m5.2xlarge")
      assert(attrs.contains(InstanceAttrs(8, 8.0, "Intel Xeon")))
    }
  }

  test("non-200 responses map to an error naming the status, not a hang or None") {
    withReplayServer(Seq(
      400 -> """{"__type":"ValidationException","message":"bad filter"}""")) {
      (client, _) =>
        val e = intercept[RuntimeException] {
          client.onDemandPrice("m5.large", "us-east-1", "Linux", "Shared")
        }
        assert(e.getMessage.contains("400"))
        assert(e.getMessage.contains("ValidationException"))
    }
  }

  test("pagination stops at MaxPages even if the server keeps paging") {
    val endless = (1 to AwsPricingClient.MaxPages + 5).map(i =>
      200 -> page(Seq(item("0")), Some(s"cursor-$i")))
    withReplayServer(endless) { (client, seen) =>
      val p = client.onDemandPrice("m5.large", "us-east-1", "Linux", "Shared")
      assert(p.isEmpty)
      assert(seen.size == AwsPricingClient.MaxPages,
        s"expected the MaxPages bound, got ${seen.size} requests")
    }
  }

  test("an empty PriceList yields None without error") {
    withReplayServer(Seq(200 -> """{"FormatVersion":"aws_v1","PriceList":[]}""")) {
      (client, _) =>
        assert(client.onDemandPrice("m5.large", "us-east-1", "Linux", "Shared").isEmpty)
    }
  }
}
