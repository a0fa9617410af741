package graft.api

import graft.SparkSpec
import graft.queries.{DedupIndex, Tables, VectorIndex}
import org.apache.spark.sql.functions._

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** End-to-end HTTP tests for the serving-index REST surface (r15 verdict
  * item 5), mirroring FinOpsServerSpec: real server on an ephemeral port,
  * real requests through java.net, envelopes asserted — including the
  * ingest-gate loop (verdicts + append_admitted), knn, stats, maintain,
  * and the bounded-heap property over the sf0.1-built indexes. */
class ServingServerSpec extends SparkSpec {

  private val Sf01 = "/root/testdata/sf0.1"

  private lazy val server: ServingServer = {
    // sf0.1 indexes (5k docs / 2k vectors) — the "scale" fixture of this
    // box; the serving contract under test is that envelopes are
    // REQUEST-proportional, never index-proportional
    val docs = Tables.load(spark, Sf01, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, Sf01, "embeddings")
      .select("vec_id", "embedding")
    val td = java.nio.file.Files.createTempDirectory("srv_txt").toString
    val vd = java.nio.file.Files.createTempDirectory("srv_vec").toString
    DedupIndex.build(docs.filter(col("doc_id") % 10 =!= 3), "doc_id",
      "text", td, prefix = "srv_txt")
    VectorIndex.build(emb.filter(col("vec_id") % 7 =!= 3), "vec_id",
      "embedding", vd, minCos = 0.35, prefix = "srv_vec")
    val s = new ServingServer(spark, "srv_txt", "srv_vec")
    s.start()
    s
  }

  override def afterAll(): Unit = {
    try server.stop() finally super.afterAll()
  }

  private def request(method: String, path: String,
      body: Option[String] = None): (Int, String) = {
    val url = URI.create(s"http://127.0.0.1:${server.boundPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (status, text)
  }

  private def docJson(r: org.apache.spark.sql.Row): String =
    s"""{"doc_id": ${r.getLong(0)}, "text": ${ApiResponses.toJson(r.getString(1))}}"""

  private def vecJson(r: org.apache.spark.sql.Row): String = {
    val e = r.getSeq[Float](1).mkString("[", ",", "]")
    s"""{"vec_id": ${r.getLong(0)}, "embedding": $e}"""
  }

  test("health and route discovery answer") {
    val (s1, b1) = request("GET", "/health")
    assert(s1 == 200 && b1.contains("\"text_index\":true") &&
      b1.contains("\"vector_index\":true"), b1)
    val (s2, b2) = request("GET", "/api/v1/serving/routes")
    assert(s2 == 200 && b2.contains("/api/v1/serving/dedup/ingest") &&
      b2.contains("/api/v1/serving/vector/knn"), b2)
  }

  test("kept-alive responses arrive without the ~40 ms delayed-ACK stall") {
    val p50 = KeepAlive.medianMs(server.boundPort, "/api/v1/serving/routes")
    info(f"median $p50%.1f ms")
    assert(p50 < 20.0, s"median $p50 ms over one kept-alive connection")
  }

  test("dedup ingest gate: verdicts over HTTP; append_admitted closes the loop") {
    val docs = Tables.load(spark, Sf01, "documents").select("doc_id", "text")
    // one exact copy of a corpus doc (re-idded) + one novel doc
    val corpusDoc = docs.filter(col("doc_id") % 10 =!= 3).head()
    val novel = docs.filter(col("doc_id") % 10 === 3).head()
    val payload =
      s"""{"docs": [
         |{"doc_id": 900001, "text": ${ApiResponses.toJson(corpusDoc.getString(1))}},
         |${docJson(novel)}
         |], "append_admitted": true}""".stripMargin
    val (s1, b1) = request("POST", "/api/v1/serving/dedup/ingest", Some(payload))
    assert(s1 == 200, b1)
    assert(b1.contains("\"verdict\":\"exact_dup\"") &&
      b1.contains("\"verdict\":\"new\"") && b1.contains("\"appended\":1"), b1)

    // the appended doc now gates its own twin: a SECOND request carrying
    // an exact copy reads exact_dup against the appended id
    val twin = s"""{"docs": [
      |{"doc_id": 900002, "text": ${ApiResponses.toJson(novel.getString(1))}}
      |]}""".stripMargin
    val (s2, b2) = request("POST", "/api/v1/serving/dedup/ingest", Some(twin))
    assert(s2 == 200 && b2.contains("\"verdict\":\"exact_dup\"") &&
      b2.contains(s"""\"partner_id\":${novel.getLong(0)}"""), b2)
  }

  test("vector ingest and knn serve off the attached index") {
    val emb = Tables.load(spark, Sf01, "embeddings")
      .select("vec_id", "embedding")
    val corpusVec = emb.filter(col("vec_id") % 7 =!= 3).head()
    val copy = s"""{"vec_id": 910001, "embedding": ${
      corpusVec.getSeq[Float](1).mkString("[", ",", "]")}}"""
    val (s1, b1) = request("POST", "/api/v1/serving/vector/ingest",
      Some(s"""{"vectors": [$copy], "min_cos": 0.999}"""))
    assert(s1 == 200 && b1.contains("\"verdict\":\"near_dup\"") &&
      b1.contains(s"""\"partner_id\":${corpusVec.getLong(0)}"""), b1)

    val (s2, b2) = request("POST", "/api/v1/serving/vector/knn",
      Some(s"""{"queries": [$copy], "k": 3}"""))
    assert(s2 == 200 && b2.contains("\"row_count\":3") &&
      b2.contains(s"""\"vec_id\":${corpusVec.getLong(0)}"""),
      s"top-3 must contain the exact twin: $b2")
  }

  test("stats and maintain expose the operational surface") {
    for (side <- Seq("dedup", "vector")) {
      val (s1, b1) = request("GET", s"/api/v1/serving/$side/stats")
      assert(s1 == 200 && b1.contains("\"tombstones\":") &&
        b1.contains("\"committedWaveCount\":"), s"$side stats: $b1")
      val (s2, b2) = request("GET", s"/api/v1/serving/$side/maintain")
      assert(s2 == 200 && b2.contains("\"action\":") &&
        b2.contains("\"recommendedGrain\":"), s"$side maintain: $b2")
    }
    // the drift-immunity switch is reachable over HTTP
    val (s3, b3) = request("GET",
      "/api/v1/serving/vector/maintain?serves_ann=false")
    assert(s3 == 200 && b3.contains("\"action\":"), b3)

    // lease/staging/reader telemetry rides the stats envelope (r17
    // verdict item 7): plant one of each on the text index dir and read
    // the AGES back over HTTP — no hand-listing the store
    val d = graft.queries.DedupIndex.location(spark, "srv_txt")
    import graft.operators.Bucketing
    val w = Bucketing.acquireWave(spark, d, Seq("hashes"))
    val token = Bucketing.registerReader(spark, d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$d/.stage_w$w"))
    try {
      val (s4, b4) = request("GET", "/api/v1/serving/dedup/stats")
      assert(s4 == 200 &&
        b4.contains(s"""{"wave":$w,"age_ms":""") &&
        b4.contains(s"""{"name":".stage_w$w","age_ms":""") &&
        b4.contains(s"""{"token":"$token","age_ms":""") &&
        b4.contains("\"writer_live_ttl_ms\":"), s"telemetry missing: $b4")
    } finally {
      Bucketing.releaseWave(spark, d, w)
      Bucketing.unregisterReader(spark, d, token)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/.stage_w$w"), true)
    }
    // clean again: empty telemetry arrays, not absent fields
    val (s5, b5) = request("GET", "/api/v1/serving/dedup/stats")
    assert(s5 == 200 && b5.contains("\"lease_ages_ms\":[]") &&
      b5.contains("\"staging_ages_ms\":[]") &&
      b5.contains("\"reader_ages_ms\":[]"), b5)
  }

  test("bad requests answer 400; unknown routes 404") {
    val (s1, b1) = request("POST", "/api/v1/serving/dedup/ingest",
      Some("""{"docs": []}"""))
    assert(s1 == 400 && b1.contains("non-empty"), s"$s1 $b1")
    val (s2, _) = request("GET", "/api/v1/serving/nope")
    assert(s2 == 404)
  }

  test("maintain/run executes one maintenance round over HTTP: no-op when clean, in-place reclaim for planted garbage") {
    // clean index: recommendation "none", nothing acted, no out_dir needed
    val (s1, b1) = request("POST", "/api/v1/serving/dedup/maintain/run",
      Some("{}"))
    assert(s1 == 200 && b1.contains("\"acted\":false") &&
      b1.contains("\"action\":\"none\""), s"$s1 $b1")

    // plant crash garbage: an uncommitted (abandoned) wave directory —
    // garbage-only state recommends the in-place reclaim, which needs no
    // out_dir and must leave the live index serving identically
    val td = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("srv_txt_hashes"))
      .location).getParent.toString
    val fs = new org.apache.hadoop.fs.Path(td)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val garbage = new org.apache.hadoop.fs.Path(s"$td/hashes/wave=99")
    fs.mkdirs(garbage)
    fs.create(new org.apache.hadoop.fs.Path(garbage, "part-junk.parquet"))
      .close()
    val (s2, b2) = request("GET", "/api/v1/serving/dedup/maintain")
    assert(s2 == 200 && b2.contains("\"action\":\"reclaim\""), b2)
    val (s3, b3) = request("POST", "/api/v1/serving/dedup/maintain/run",
      Some("{}"))
    assert(s3 == 200 && b3.contains("\"acted\":true") &&
      b3.contains("\"action\":\"reclaim\""), s"$s3 $b3")
    assert(!fs.exists(garbage), "reclaim did not remove the planted wave")
    val (s4, b4) = request("POST", "/api/v1/serving/dedup/maintain/run",
      Some("{}"))
    assert(s4 == 200 && b4.contains("\"acted\":false"), s"$s4 $b4")
  }

  test("oversized ingest/knn arrays answer 413 before any planning (r16 verdict item 4)") {
    server // ensure the shared indexes are built and attached
    val tiny = new ServingServer(spark, "srv_txt", "srv_vec",
      maxIngestRows = 3)
    tiny.start()
    def at(path: String, body: String): (Int, String) = {
      val url = URI.create(
        s"http://127.0.0.1:${tiny.boundPort}$path").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
      val status = conn.getResponseCode
      val stream =
        if (status < 400) conn.getInputStream else conn.getErrorStream
      val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      conn.disconnect()
      (status, text)
    }
    try {
      val four = (1 to 4).map(i =>
        s"""{"doc_id": ${940000 + i}, "text": "cap probe doc $i"}""")
      val (s1, b1) = at("/api/v1/serving/dedup/ingest",
        s"""{"docs": [${four.mkString(",")}]}""")
      assert(s1 == 413 && b1.contains("limit 3"), s"$s1 $b1")
      // at the cap: normal service
      val (s2, _) = at("/api/v1/serving/dedup/ingest",
        s"""{"docs": [${four.take(3).mkString(",")}]}""")
      assert(s2 == 200)
      val vec = (1 to 4).map(i =>
        s"""{"vec_id": ${950000 + i}, "embedding": [${
          Seq.fill(64)("0.1").mkString(",")}]}""")
      val (s3, b3) = at("/api/v1/serving/vector/knn",
        s"""{"queries": [${vec.mkString(",")}], "k": 1}""")
      assert(s3 == 413 && b3.contains("limit 3"), s"$s3 $b3")
      val (s4, b4) = at("/api/v1/serving/vector/ingest",
        s"""{"vectors": [${vec.mkString(",")}]}""")
      assert(s4 == 413 && b4.contains("limit 3"), s"$s4 $b4")
    } finally tiny.stop()
  }

  test("request bodies over the byte cap answer 413 while streaming in (r17 advisor)") {
    server // shared indexes attached
    // the ROW cap counts array elements only after the body is fully
    // buffered and tree-parsed — one huge row still allocated unboundedly;
    // the byte cap rejects while reading, before Jackson sees a byte
    val tiny = new ServingServer(spark, "srv_txt", "srv_vec",
      maxBodyBytes = 4096)
    tiny.start()
    def at(path: String, body: String): (Int, String) = {
      val url = URI.create(
        s"http://127.0.0.1:${tiny.boundPort}$path").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
      val status = conn.getResponseCode
      val stream =
        if (status < 400) conn.getInputStream else conn.getErrorStream
      val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      conn.disconnect()
      (status, text)
    }
    try {
      val hugeRow = s"""{"docs": [{"doc_id": 970001, "text": "${
        "x" * 8192}"}]}"""
      val (s1, b1) = at("/api/v1/serving/dedup/ingest", hugeRow)
      assert(s1 == 413 && b1.contains("bytes"), s"$s1 $b1")
      // under the cap: normal service
      val (s2, _) = at("/api/v1/serving/dedup/ingest",
        """{"docs": [{"doc_id": 970002, "text": "small probe doc"}]}""")
      assert(s2 == 200)
    } finally tiny.stop()
  }

  test("maintain/run validates out_dir against the SAME recommendation it acts on") {
    // a rewrite-shaped rec (tombstone fraction past the compact trigger)
    // with no out_dir must answer 400 from the validated rec — the old
    // shape recomputed the rec after validating, so a flip between the
    // two passes acted with an empty outDir and died inside Spark path
    // parsing as a 500 (r17 advisor)
    val docs = Tables.load(spark, Sf01, "documents").select("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("cap_txt").toString
    val fixture = docs.limit(15).localCheckpoint(true)
    DedupIndex.build(fixture, "doc_id", "text", d, prefix = "cap_txt")
    val rmIds = fixture.limit(3).collect().map(_.getLong(0)).toSeq
    DedupIndex.remove(spark, rmIds, "cap_txt") // 3/15 = 0.2 ≥ 0.1
    val srv = new ServingServer(spark, "cap_txt", "srv_vec")
    srv.start()
    def at(method: String, path: String,
        body: Option[String]): (Int, String) = {
      val url = URI.create(
        s"http://127.0.0.1:${srv.boundPort}$path").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod(method)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
      }
      val status = conn.getResponseCode
      val stream =
        if (status < 400) conn.getInputStream else conn.getErrorStream
      val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      conn.disconnect()
      (status, text)
    }
    try {
      val (sm, bm) = at("GET", "/api/v1/serving/dedup/maintain", None)
      assert(sm == 200 && bm.contains("\"action\":\"compact\""), bm)
      val (s1, b1) = at("POST", "/api/v1/serving/dedup/maintain/run",
        Some("{}"))
      assert(s1 == 400 && b1.contains("out_dir"), s"$s1 $b1")
      val out = java.nio.file.Files.createTempDirectory("cap_txt_out")
        .toString
      val (s2, b2) = at("POST", "/api/v1/serving/dedup/maintain/run",
        Some(s"""{"out_dir": ${ApiResponses.toJson(out)}}"""))
      assert(s2 == 200 && b2.contains("\"acted\":true") &&
        b2.contains("\"action\":\"compact\""), s"$s2 $b2")
      // compacted: tombstones materialized, next round is a no-op
      val (s3, b3) = at("POST", "/api/v1/serving/dedup/maintain/run",
        Some("{}"))
      assert(s3 == 200 && b3.contains("\"acted\":false"), s"$s3 $b3")
    } finally srv.stop()
  }

  test("retire and quarantine are reachable over HTTP with guard semantics (409 on live readers)") {
    import graft.operators.Bucketing
    val docs = Tables.load(spark, Sf01, "documents").select("doc_id", "text")
    val a = java.nio.file.Files.createTempDirectory("rq_txt_a").toString
    val b = java.nio.file.Files.createTempDirectory("rq_txt_b").toString
    val prefix = "rq_txt"
    DedupIndex.build(docs.limit(40), "doc_id", "text", a, prefix = prefix)
    val batch = docs.limit(60).orderBy(col("doc_id").desc).limit(5)
      .select((col("doc_id") + 980000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(batch, "doc_id", "text", prefix) // wave 1
    DedupIndex.compact(spark, b, prefix) // strands a; history folds to {0}
    val srv = new ServingServer(spark, prefix, "srv_vec")
    srv.start()
    def at(method: String, path: String,
        body: Option[String]): (Int, String) = {
      val url = URI.create(
        s"http://127.0.0.1:${srv.boundPort}$path").toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod(method)
      body.foreach { bo =>
        conn.setDoOutput(true)
        conn.getOutputStream.write(bo.getBytes(StandardCharsets.UTF_8))
      }
      val status = conn.getResponseCode
      val stream =
        if (status < 400) conn.getInputStream else conn.getErrorStream
      val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      conn.disconnect()
      (status, text)
    }
    try {
      // stats surface the stranded prior over HTTP
      val (s0, b0) = at("GET", "/api/v1/serving/dedup/stats", None)
      assert(s0 == 200 && b0.contains("rq_txt_a"), b0)
      // a JUST-stranded prior: the minimum-stranded-age grace answers 409
      // before any marker is even consulted (RetireSpec owns the full
      // grace semantics; here it proves the REST mapping)
      val (sg, bg) = at("POST", "/api/v1/serving/dedup/retire",
        Some("""{"force": true}"""))
      assert(sg == 409 && bg.contains("minimum-stranded-age"), s"$sg $bg")
      spark.conf.set("spark.graft.retireGraceMs", "0")
      // a live reader on the old copy: retire answers 409, nothing deleted
      val token = Bucketing.registerReader(spark, a)
      val (s1, b1) = at("POST", "/api/v1/serving/dedup/retire", Some("{}"))
      assert(s1 == 409 && b1.contains("_reader_"), s"$s1 $b1")
      Bucketing.unregisterReader(spark, a, token)
      val (s2, b2) = at("POST", "/api/v1/serving/dedup/retire", Some("{}"))
      assert(s2 == 200 && b2.contains("\"retired_count\":1"), s"$s2 $b2")
      assert(!new java.io.File(a).exists())

      // quarantine: grow a wave, retire it marker-only over HTTP
      val batch2 = docs.limit(80).orderBy(col("doc_id").desc).limit(4)
        .select((col("doc_id") + 985000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      DedupIndex.append(batch2, "doc_id", "text", prefix) // wave 1 of b
      val (s3, b3) = at("POST", "/api/v1/serving/dedup/quarantine",
        Some("""{"wave": 1}"""))
      assert(s3 == 200 && b3.contains("\"quarantined_wave\":1") &&
        b3.contains("\"committed_waves\":[0]"), s"$s3 $b3")
      // a missing wave number is a 400, not a 500
      val (s4, b4) = at("POST", "/api/v1/serving/dedup/quarantine",
        Some("""{"wave": 77}"""))
      assert(s4 == 400, s"$s4 $b4")
    } finally {
      spark.conf.unset("spark.graft.retireGraceMs")
      srv.stop()
    }
  }

  /** Post-GC used heap, stabilized (FinOpsServerScaleSpec's meter). */
  private def usedHeap(): Long = {
    val r = Runtime.getRuntime
    def once(): Long = {
      System.gc(); Thread.sleep(200); System.gc()
      r.totalMemory() - r.freeMemory()
    }
    var prev = once()
    var best = prev
    var i = 0
    while (i < 8) {
      val cur = once()
      best = math.min(best, cur)
      if (math.abs(cur - prev) < 16L * 1024 * 1024) i = 8
      else { prev = cur; i += 1 }
    }
    best
  }

  test("serving endpoints stay bounded-heap and request-proportional over the sf0.1 indexes") {
    val docs = Tables.load(spark, Sf01, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, Sf01, "embeddings")
      .select("vec_id", "embedding")
    // warm off the meter (first-probe codegen + file listings)
    request("GET", "/health")
    val docRows = docs.filter(col("doc_id") % 10 === 3).limit(8)
      .collect().zipWithIndex.map { case (r, i) =>
        s"""{"doc_id": ${920000 + i}, "text": ${ApiResponses.toJson(r.getString(1))}}"""
      }
    val vecRows = emb.filter(col("vec_id") % 7 === 3).limit(4)
      .collect().zipWithIndex.map { case (r, i) =>
        s"""{"vec_id": ${930000 + i}, "embedding": ${
          r.getSeq[Float](1).mkString("[", ",", "]")}}"""
      }
    request("POST", "/api/v1/serving/dedup/ingest",
      Some(s"""{"docs": [${docRows.mkString(",")}]}"""))
    request("POST", "/api/v1/serving/vector/knn",
      Some(s"""{"queries": [${vecRows.mkString(",")}], "k": 5}"""))
    val before = usedHeap()
    val bodies = Seq(
      request("POST", "/api/v1/serving/dedup/ingest",
        Some(s"""{"docs": [${docRows.mkString(",")}]}""")),
      request("POST", "/api/v1/serving/vector/ingest",
        Some(s"""{"vectors": [${vecRows.mkString(",")}]}""")),
      request("POST", "/api/v1/serving/vector/knn",
        Some(s"""{"queries": [${vecRows.mkString(",")}], "k": 5}""")),
      request("GET", "/api/v1/serving/dedup/stats"),
      request("GET", "/api/v1/serving/vector/maintain"))
    bodies.foreach { case (status, b) =>
      assert(status == 200, s"$status: ${b.take(200)}")
      // request-proportional: a handful of docs/vectors → small envelope
      assert(b.length < 100000, s"envelope is ${b.length} bytes")
    }
    val after = usedHeap()
    val deltaMb = (after - before) / (1024.0 * 1024.0)
    info(f"post-GC heap delta across 5 serving endpoints: $deltaMb%.1f MB")
    assert(deltaMb < 256.0,
      f"serving path retained $deltaMb%.1f MB over the sf0.1 indexes")
  }

  // LAST on purpose: appends a wave to the shared vector index
  test("knn honors as_of_wave over HTTP: an appended vector is invisible at the build horizon") {
    val emb = Tables.load(spark, Sf01, "embeddings")
      .select("vec_id", "embedding")
    val novel = emb.filter(col("vec_id") % 7 === 3).head()
    val row = s"""{"vec_id": 940001, "embedding": ${
      novel.getSeq[Float](1).mkString("[", ",", "]")}}"""
    val (sA, bA) = request("POST", "/api/v1/serving/vector/ingest",
      Some(s"""{"vectors": [$row], "min_cos": 0.999, "append_admitted": true}"""))
    assert(sA == 200 && bA.contains("\"appended\":1"), bA)
    // latest horizon: the appended vector is its own twin's top-1
    val (s1, b1) = request("POST", "/api/v1/serving/vector/knn",
      Some(s"""{"queries": [$row], "k": 1}"""))
    assert(s1 == 200 && b1.contains("\"vec_id\":940001"), b1)
    // build-time horizon: it never existed
    val (s0, b0) = request("POST", "/api/v1/serving/vector/knn",
      Some(s"""{"queries": [$row], "k": 1, "as_of_wave": 0}"""))
    assert(s0 == 200 && !b0.contains("\"vec_id\":940001"), b0)
  }
}
