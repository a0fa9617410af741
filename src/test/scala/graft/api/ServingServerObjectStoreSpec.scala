package graft.api

import graft.SparkSpec
import graft.operators.Bucketing
import graft.queries.{DedupIndex, Tables, VectorIndex}
import org.apache.spark.sql.functions._

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** The operator RUNBOOK as one executable test (r18 verdict item 5):
  * ServingServerSpec covers the retire/quarantine endpoints on local FS;
  * this spec composes the FULL damaged-wave lifecycle over HTTP on the
  * object-store substrate — manifest-mode indexes on `mos://`
  * ([[graft.sources.MockObjectStoreFileSystem]]: no directory rename,
  * conditional-put create), a wave damaged by a lost manifested key, the
  * audit surfacing it via `/maintain` with the recovery lever named,
  * quarantine via REST, recovery by re-ingest via `/ingest`, the
  * history folded by a compact via `/maintain/run`, and the stranded
  * old copy reclaimed via `/retire`. */
class ServingServerObjectStoreSpec extends SparkSpec {

  private def withMos[A](body: => A): A = {
    spark.sparkContext.hadoopConfiguration.set("fs.mos.impl",
      classOf[graft.sources.MockObjectStoreFileSystem].getName)
    body
  }

  private def exists(p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  test("full REST lifecycle on mos://: damage -> audit -> quarantine -> re-ingest -> compact -> retire") {
    withMos {
      val tLocal = java.nio.file.Files.createTempDirectory("srvmos_t").toString
      val vLocal = java.nio.file.Files.createTempDirectory("srvmos_v").toString
      val td = "mos://" + tLocal
      val vd = "mos://" + vLocal
      val (tp, vp) = ("srvmos_txt", "srvmos_vec")
      val docs = Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text")
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      val corpus = docs.filter(col("doc_id") % 10 =!= 3).limit(60)
        .localCheckpoint(true)
      DedupIndex.build(corpus, "doc_id", "text", td, prefix = tp)
      VectorIndex.build(emb.filter(col("vec_id") % 7 =!= 3), "vec_id",
        "embedding", vd, minCos = 0.35, prefix = vp)

      val srv = new ServingServer(spark, tp, vp)
      srv.start()
      def at(method: String, path: String,
          body: Option[String] = None): (Int, String) = {
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
      def docJson(id: Long, r: org.apache.spark.sql.Row): String =
        s"""{"doc_id": $id, "text": ${ApiResponses.toJson(r.getString(1))}}"""

      try {
        // both manifest-mode indexes answer over HTTP on the no-rename
        // store
        val (sh, bh) = at("GET", "/health")
        assert(sh == 200 && bh.contains("\"text_index\":true") &&
          bh.contains("\"vector_index\":true"), bh)
        assert(at("GET", "/api/v1/serving/vector/stats")._1 == 200)

        // INGEST two novel docs with append_admitted: wave 1 publishes
        // through per-file moves + a manifest commit
        val novel = docs.filter(col("doc_id") % 10 === 3).take(2)
        val payload = s"""{"docs": [${docJson(900001L, novel(0))},
          |${docJson(900002L, novel(1))}], "append_admitted": true}"""
          .stripMargin
        val (s1, b1) = at("POST", "/api/v1/serving/dedup/ingest",
          Some(payload))
        assert(s1 == 200 && b1.contains("\"appended\":2"), b1)
        def probeTwins(): String = {
          val twins = s"""{"docs": [${docJson(910001L, novel(0))},
            |${docJson(910002L, novel(1))}]}""".stripMargin
          at("POST", "/api/v1/serving/dedup/ingest", Some(twins))._2
        }
        assert(probeTwins().contains("\"verdict\":\"exact_dup\""),
          "appended wave not serving")

        // DAMAGE wave 1: one manifested key vanishes (torn replication);
        // the audit inside GET /maintain flags data loss and names the
        // recovery lever
        val victim = Bucketing.waveManifest(spark, td, 1).get.keySet.head
        assert(new java.io.File(s"$tLocal/$victim").delete())
        Seq("hashes", "bands", "shingles")
          .foreach(t => spark.catalog.refreshTable(s"${tp}_$t"))
        val (s2, b2) = at("GET", "/api/v1/serving/dedup/maintain")
        assert(s2 == 200 && b2.contains("INTEGRITY") &&
          b2.contains("quarantineWave(1)"), b2)

        // QUARANTINE over REST: the wave leaves the committed set and
        // its (partial) content stops serving immediately
        val (s3, b3) = at("POST", "/api/v1/serving/dedup/quarantine",
          Some("""{"wave": 1}"""))
        assert(s3 == 200 && b3.contains("\"committed_waves\":[0]"), b3)
        assert(probeTwins().contains("\"verdict\":\"new\""),
          "quarantined wave still serving")

        // RE-INGEST from source: the content left the committed horizon,
        // so it re-admits as novel (wave 2) and serves again
        val (s4, b4) = at("POST", "/api/v1/serving/dedup/ingest",
          Some(payload))
        assert(s4 == 200 && b4.contains("\"appended\":2"), b4)
        assert(probeTwins().contains("\"verdict\":\"exact_dup\""),
          "re-ingested content not serving")
        assert(Bucketing.committedWaves(spark, td) == Seq(0, 2))

        // a takedown pushes the tombstone fraction past the compact
        // threshold; /maintain/run folds the history into a fresh mos://
        // location — purging the quarantined remnant — and flips serving
        val removed = corpus.orderBy("doc_id").limit(7).collect()
        DedupIndex.remove(spark, removed.map(_.getLong(0)).toSeq, tp)
        val (s5, b5) = at("GET", "/api/v1/serving/dedup/maintain")
        assert(s5 == 200 && b5.contains("\"action\":\"compact\""), b5)
        val out = "mos://" +
          java.nio.file.Files.createTempDirectory("srvmos_t2").toString
        val (s6, b6) = at("POST", "/api/v1/serving/dedup/maintain/run",
          Some(s"""{"out_dir": "$out"}"""))
        assert(s6 == 200 && b6.contains("\"acted\":true"), b6)
        assert(Bucketing.committedWaves(spark, out) == Seq(0))
        assert(Bucketing.quarantinedWaves(spark, out).isEmpty)
        assert(Bucketing.verifyWaveManifests(spark, out).isEmpty,
          "compacted artifact audits dirty")

        // RETIRE the stranded old copy over REST: the just-flipped prior
        // answers 409 under the stranded-age grace; aged (grace 0 here),
        // the delete proceeds and the store is clean
        val (s7, b7) = at("GET", "/api/v1/serving/dedup/stats")
        assert(s7 == 200 && b7.contains(tLocal.split("/").last), b7)
        val (s8, b8) = at("POST", "/api/v1/serving/dedup/retire",
          Some("""{"force": true}"""))
        assert(s8 == 409 && b8.contains("minimum-stranded-age"),
          s"$s8 $b8")
        spark.conf.set("spark.graft.retireGraceMs", "0")
        val (s9, b9) = at("POST", "/api/v1/serving/dedup/retire",
          Some("{}"))
        assert(s9 == 200 && b9.contains("\"retired_count\":1"), s"$s9 $b9")
        assert(!exists(td), "old mos:// location survived the retire")

        // the compacted index serves the survivors and honors the
        // takedown: appended twins still dedup, and a tombstoned doc
        // never serves as anyone's partner (an exact twin of a removed
        // doc may still near-dup against a LIVE similar doc — the
        // documented degrade semantics — but not against the removed id)
        assert(probeTwins().contains("\"verdict\":\"exact_dup\""))
        val removedTwin = s"""{"docs": [${docJson(920001L, removed(0))}]}"""
        val (sA, bA) = at("POST", "/api/v1/serving/dedup/ingest",
          Some(removedTwin))
        assert(sA == 200 &&
          !bA.contains(s"\"partner_id\":${removed(0).getLong(0)}"), bA)
      } finally {
        spark.conf.unset("spark.graft.retireGraceMs")
        srv.stop()
      }
    }
  }
}
