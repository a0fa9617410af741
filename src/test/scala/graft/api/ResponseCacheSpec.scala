package graft.api

import graft.SparkSpec
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

/** The response cache's rules, on its own: entries live while the view
  * keeps its identity, failures and answers over a replaced view are never
  * kept, and the least recently used entry makes room for a new one. */
class ResponseCacheSpec extends SparkSpec {

  private val view = "RESPONSE_CACHE_VIEW"

  private def register(): Unit = spark.range(5).createOrReplaceTempView(view)

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def text(b: Array[Byte]): String = new String(b, StandardCharsets.UTF_8)

  override def afterAll(): Unit =
    try spark.catalog.dropTempView(view) finally super.afterAll()

  test("a kept body is served until the view is replaced") {
    register()
    val cache = new ResponseCache(spark, view)
    val calls = new AtomicInteger(0)
    def ask() = text(cache("/p", "a=1")(bytes(s"answer ${calls.incrementAndGet()}")))
    assert(ask() == "answer 1")
    assert(ask() == "answer 1")
    assert(text(cache("/p", "a=2")(bytes("other"))) == "other", "the query string is part of the key")
    assert(cache.size == 2)
    register()
    assert(ask() == "answer 2")
    assert(cache.size == 1, "a replaced view drops every entry")
  }

  test("a failure reaches its requester and is not kept") {
    register()
    val cache = new ResponseCache(spark, view)
    val e = intercept[IllegalStateException](
      cache("/p", "")(throw new IllegalStateException("boom")))
    assert(e.getMessage == "boom")
    assert(cache.size == 0)
    assert(text(cache("/p", "")(bytes("ok"))) == "ok")
  }

  test("an answer computed while the view was replaced is returned, not kept") {
    register()
    val cache = new ResponseCache(spark, view)
    val got = cache("/p", "") { register(); bytes("stale") }
    assert(text(got) == "stale")
    assert(cache.size == 0)
    assert(text(cache("/p", "")(bytes("fresh"))) == "fresh")
  }

  test("a table that is not a temp view is never cached") {
    spark.catalog.dropTempView(view)
    val cache = new ResponseCache(spark, view)
    assert(text(cache("/p", "")(bytes("one"))) == "one")
    assert(text(cache("/p", "")(bytes("two"))) == "two")
    assert(cache.size == 0)
  }

  test("past the cap, a new key evicts the least recently used one") {
    register()
    val cache = new ResponseCache(spark, view)
    (0 until ResponseCache.MaxEntries).foreach(i => cache("/a", s"n=$i")(bytes(s"a$i")))
    assert(cache.size == ResponseCache.MaxEntries)
    // n=0 is used again, so n=1 is now the least recently used
    assert(text(cache("/a", "n=0")(bytes("recomputed"))) == "a0")
    assert(text(cache("/b", "")(bytes("b"))) == "b")
    assert(cache.size == ResponseCache.MaxEntries)
    assert(text(cache("/b", "")(bytes("recomputed"))) == "b", "the new key is kept")
    assert(text(cache("/a", "n=0")(bytes("recomputed"))) == "a0")
    assert(text(cache("/a", "n=1")(bytes("a1 again"))) == "a1 again", "the eldest was evicted")
  }
}
