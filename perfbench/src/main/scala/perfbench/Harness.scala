package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One timed operation: its class (`route`/`adhoc`, `read`/`write`,
  * `query`, `pass`), the concrete kind, latency and whether the response
  * passed its in-process checks. */
final case class Sample(cls: String, kind: String, ms: Double, ok: Boolean)

/** Output collection shared by every workload: samples, check failures,
  * responses kept for the DuckDB comparison, and per-layer numbers. */
final class Recorder {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val failures = new ConcurrentLinkedQueue[String]()
  val oobChecks = new AtomicLong(0)
  val oobFailures = new AtomicLong(0)
  val responses = new ConcurrentLinkedQueue[Map[String, Any]]()
  val layers = scala.collection.concurrent.TrieMap.empty[String, Double]
  val info = scala.collection.concurrent.TrieMap.empty[String, Any]

  def sample(s: Sample): Unit = samples.add(s)

  /** One output check of a timed operation (its failure fails the
    * operation's sample); records why it failed, if it did. */
  def check(ok: Boolean, why: => String): Boolean = {
    if (!ok && failures.size < 50) failures.add(why)
    ok
  }

  /** An output check outside the timed operations (warm-up, read-back,
    * fresh attach): counted on its own in `attempted`/`failed`. */
  def oob(ok: Boolean, why: => String): Boolean = {
    oobChecks.incrementAndGet()
    if (!ok) {
      oobFailures.incrementAndGet()
      if (failures.size < 50) failures.add(why)
    }
    ok
  }

  def toJson: Map[String, Any] = Map(
    "samples" -> samples.asScala.toSeq.map(s =>
      Seq(s.cls, s.kind, s.ms, if (s.ok) 1 else 0)),
    "oob_checks" -> oobChecks.get(),
    "oob_failures" -> oobFailures.get(),
    "failures" -> failures.asScala.toSeq,
    "layers" -> layers.toMap,
    "info" -> info.toMap)
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): JsonNode = mapper.readTree(s)
  def readLines(path: String): IndexedSeq[JsonNode] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(read).toIndexedSeq
  def writeFile(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), write(v))
  def str(n: JsonNode, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText()).getOrElse("")
}

/** Loopback HTTP calls returning (status, body). */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def call(method: String, path: String, body: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(120))
    val req =
      if (method == "POST")
        b.header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      else b.GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

object Clock {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    (ms(t0), a)
  }
}

/** Closed-loop load: each client thread sends its next operation only
  * after the previous one completed. */
object ClosedLoop {

  /** Run `f` over `items` in list order on `clients` threads. */
  def run[A](items: Seq[A], clients: Int)(f: A => Unit): Unit = {
    val next = new AtomicInteger(0)
    val ts = (0 until math.max(1, math.min(clients, items.size))).map { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < items.size) { f(items(k)); k = next.getAndIncrement() }
      }, s"bench-client-$i")
      t.start()
      t
    }
    ts.foreach(_.join())
  }
}
