package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** Indexes written before every wave marker carried a manifest body have
  * EMPTY `_wave_W` markers. They must keep working under the one publish
  * protocol: attach falls back to `RECOVER PARTITIONS`, a new append
  * commits a manifest beside the empty markers, probes serve the same
  * results, and the garbage sweep never deletes a committed file of an
  * inventory-less wave. Simulated by truncating every marker of a fresh
  * index to 0 bytes. */
class EmptyMarkerCompatSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  /** Truncate every `_wave_N` marker under `dir` to 0 bytes. */
  private def emptyMarkers(dir: String): Seq[Int] = {
    val ws = Bucketing.committedWaves(spark, dir)
    ws.foreach(w => java.nio.file.Files.write(
      java.nio.file.Path.of(dir, s"_wave_$w"), Array.emptyByteArray))
    ws
  }

  /** Every data file under `dir/<sub>/wave=<w>` for each committed wave. */
  private def committedFiles(dir: String, subs: Seq[String]): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (for {
      w <- Bucketing.committedWaves(spark, dir)
      sub <- subs
      wd = new org.apache.hadoop.fs.Path(s"$dir/$sub/wave=$w")
      if fs.exists(wd)
      f <- Bucketing.listFileStatuses(fs, wd)
    } yield f.getPath.toUri.getPath).toSet
  }

  /** Sweep with the writer TTL at 0 (nothing in flight is protected). */
  private def reclaim(dir: String, subs: Seq[String]): Seq[String] = {
    spark.conf.set("spark.graft.writerLiveTtlMs", "0")
    try Bucketing.reclaimGarbage(spark, dir, subs)
    finally spark.conf.unset("spark.graft.writerLiveTtlMs")
  }

  test("text index with empty markers attaches, takes a manifest append, serves the same verdicts, and reclaims nothing committed") {
    val subs = Seq("hashes", "bands", "shingles")
    val d = java.nio.file.Files.createTempDirectory("emk_txt").toString
    DedupIndex.build(docs.filter(col("doc_id") % 10 =!= 3).limit(80),
      "doc_id", "text", d, prefix = "emk_t1")
    val old = docs.filter(col("doc_id") % 40 === 3).limit(5)
      .select((col("doc_id") + 980000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(old, "doc_id", "text", "emk_t1") // wave 1
    val twins = docs.filter(col("doc_id") % 10 =!= 3).limit(80)
      .filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
      .union(old.select((col("doc_id") + 50000L).as("doc_id"), col("text")))
      .localCheckpoint(true)
    def probe(pfx: String) = DedupIndex
      .incrementalDedup(twins, "doc_id", "text", pfx)
      .collect().map(_.toString).sorted.toSeq
    val before = probe("emk_t1")
    assert(before.exists(_.contains("exact_dup")), s"fixture: $before")

    assert(emptyMarkers(d) == Seq(0, 1))
    assert(Bucketing.waveManifest(spark, d, 0).isEmpty)
    // attach: no manifests to derive partitions from → RECOVER fallback
    DedupIndex.attach(spark, d, "emk_t2")
    assert(Bucketing.catalogWaves(spark, "emk_t2_hashes") == Set(0, 1))
    assert(probe("emk_t2") == before, "empty-marker attach diverged")

    // a new append commits a manifest beside the empty markers
    val fresh = docs.filter(col("doc_id") % 40 === 13).limit(5)
      .select((col("doc_id") + 990000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(fresh, "doc_id", "text", "emk_t2")
    assert(Bucketing.committedWaves(spark, d) == Seq(0, 1, 2))
    assert(Bucketing.waveManifest(spark, d, 1).isEmpty &&
      Bucketing.waveManifest(spark, d, 2).isDefined, "markers not mixed")
    assert(probe("emk_t2") == before, "mixed-marker index diverged")
    val freshTwins = fresh.select((col("doc_id") + 50000L).as("doc_id"),
      col("text"))
    assert(DedupIndex.incrementalDedup(freshTwins, "doc_id", "text",
      "emk_t2").collect().forall(_.getString(1) == "exact_dup"),
      "the manifest append does not serve")
    // a fresh attach of the mixed index still falls back and still serves
    DedupIndex.attach(spark, d, "emk_t3")
    assert(Bucketing.catalogWaves(spark, "emk_t3_hashes") == Set(0, 1, 2))
    assert(probe("emk_t3") == before)

    // the sweep skips inventory-less waves and deletes nothing committed
    val committed = committedFiles(d, subs)
    assert(reclaim(d, subs).isEmpty)
    assert(committedFiles(d, subs) == committed)
    assert(Bucketing.verifyWaveManifests(spark, d).isEmpty)
  }

  test("vector index with empty markers attaches, takes a manifest append, serves the same knn, and reclaims nothing committed") {
    val subs = Seq("vecs", "bands", "cells", "pqcodes")
    val d = java.nio.file.Files.createTempDirectory("emk_vec").toString
    VectorIndex.build(emb.filter(col("vec_id") % 7 =!= 3), "vec_id",
      "embedding", d, minCos = 0.35, prefix = "emk_v1")
    val old = emb.filter(col("vec_id") % 14 === 3).limit(6)
      .select((col("vec_id") + 980000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(old, "vec_id", "embedding", "emk_v1") // wave 1
    val queries = emb.filter(col("vec_id") % 14 === 3).limit(6)
      .select((col("vec_id") + 50000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def knn(pfx: String) = VectorIndex
      .knn(queries, "vec_id", "embedding", k = 1, pfx)
      .collect().map(_.toString).sorted.toSeq
    def verdicts(pfx: String) = VectorIndex
      .incrementalDedup(queries, "vec_id", "embedding", pfx, minCos = 0.999)
      .collect().map(_.toString).sorted.toSeq
    val knnBefore = knn("emk_v1")
    val verdictsBefore = verdicts("emk_v1")
    assert(knnBefore.nonEmpty &&
      verdictsBefore.exists(_.contains("near_dup")),
      s"fixture: $knnBefore $verdictsBefore")

    assert(emptyMarkers(d) == Seq(0, 1))
    VectorIndex.attach(spark, d, "emk_v2")
    assert(Bucketing.catalogWaves(spark, "emk_v2_cells") == Set(0, 1))
    assert(knn("emk_v2") == knnBefore, "empty-marker attach: knn diverged")
    assert(verdicts("emk_v2") == verdictsBefore)

    val fresh = emb.filter(col("vec_id") % 14 === 10).limit(6)
      .select((col("vec_id") + 990000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(fresh, "vec_id", "embedding", "emk_v2")
    assert(Bucketing.committedWaves(spark, d) == Seq(0, 1, 2))
    assert(Bucketing.waveManifest(spark, d, 0).isEmpty &&
      Bucketing.waveManifest(spark, d, 2).isDefined, "markers not mixed")
    assert(verdicts("emk_v2") == verdictsBefore,
      "mixed-marker index diverged")
    assert(knn("emk_v2") == knnBefore, "mixed-marker index: knn diverged")

    val committed = committedFiles(d, subs)
    assert(reclaim(d, subs).isEmpty)
    assert(committedFiles(d, subs) == committed)
    assert(Bucketing.verifyWaveManifests(spark, d).isEmpty)
  }
}
