package graft.queries

import graft.SparkSpec
import graft.operators.{Bucketing, IndexLifecycle, WaveStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-wave CACHED stats (r18 verdict item 2): `stats()` paid a
  * data-proportional occupancy aggregate per call; waves are immutable,
  * so each wave's contribution is now computed once (at wave commit,
  * pruned to the wave), persisted under `_wavestats/`, and FOLDED at read
  * time. The contract here is PARITY: the folded numbers equal the live
  * full-table aggregate over the committed waves (computed here, the
  * oracle) across the whole lifecycle — appends, an at-least-once REPLAY
  * (duplicate rows under a fresh wave, twin-detected by id fingerprint),
  * tombstones, quarantine and restore, carried waves after an online
  * compact, and a same-dir rebuild (which must reset the sidecar history
  * with the wave numbers). */
class StatsFoldSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  /** Table `sub` of `l` restricted to the committed waves. */
  private def committedTable(l: IndexLifecycle.Layout, sub: String): DataFrame = {
    val cws = IndexLifecycle.census(spark, l).committedWaves
    spark.table(l.table(sub))
      .where(col("wave").isin(cws.map(Integer.valueOf): _*))
  }

  /** `s` with its doc/hash/band numbers from the live full-table
    * aggregate instead of the fold. */
  private def fullTextStats(prefix: String,
      s: DedupIndex.IndexStats): DedupIndex.IndexStats = {
    val l = DedupIndex.layout(prefix)
    val nDocs = committedTable(l, "shingles")
      .agg(count_distinct(col("doc_id"))).head().getLong(0)
    val hashes = committedTable(l, "hashes")
      .agg(count_distinct(col("ch"))).head().getLong(0)
    val occ = committedTable(l, "bands")
      .groupBy("b", "h").agg(count_distinct(col("doc_id")).as("n"))
      .agg(count(lit(1)), max("n"), avg("n")).head()
    // an empty index (degenerate but attachable) aggregates to nulls
    val maxN = if (occ.isNullAt(1)) 0L else occ.getLong(1)
    val meanN = if (occ.isNullAt(2)) 0.0 else occ.getDouble(2)
    s.copy(docs = nDocs, liveDocs = nDocs - s.tombstones,
      distinctHashes = hashes, bandBuckets = occ.getLong(0),
      maxBandBucket = maxN, meanBandBucket = meanN,
      bandSkew = if (meanN == 0.0) 0.0 else maxN / meanN)
  }

  /** `s` with its cell occupancy from the live aggregate over the
    * committed cells table instead of the fold. */
  private def fullVecStats(prefix: String,
      s: VectorIndex.IndexStats): VectorIndex.IndexStats = {
    val occ = committedTable(VectorIndex.layout(prefix), "cells")
      .groupBy("cell").agg(count_distinct(col("vec_id")).as("n"))
      .agg(sum("n"), count(lit(1)), max("n"), avg("n")).head()
    // an empty index (degenerate but attachable) aggregates to nulls
    val total = if (occ.isNullAt(0)) 0L else occ.getLong(0)
    val maxN = if (occ.isNullAt(2)) 0L else occ.getLong(2)
    val meanN = if (occ.isNullAt(3)) 0.0 else occ.getDouble(3)
    s.copy(totalRows = total, liveRows = total - s.tombstones,
      appendedRows = math.max(0L, total - s.corpusRowsAtBuild),
      cells = occ.getLong(1), maxCellRows = maxN, meanCellRows = meanN,
      cellSkew = if (meanN == 0.0) 0.0 else maxN / meanN)
  }

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
      s"$what drifted: folded=$a full=$b")

  private def assertTextParity(prefix: String, where: String): Unit = {
    val folded = DedupIndex.stats(spark, prefix)
    val full = fullTextStats(prefix, folded)
    assert(folded.copy(meanBandBucket = 0, bandSkew = 0) ==
      full.copy(meanBandBucket = 0, bandSkew = 0),
      s"[$where] folded=$folded full=$full")
    assertClose(folded.meanBandBucket, full.meanBandBucket,
      s"[$where] meanBandBucket")
    assertClose(folded.bandSkew, full.bandSkew, s"[$where] bandSkew")
  }

  private def assertVecParity(prefix: String, where: String): Unit = {
    val folded = VectorIndex.stats(spark, prefix)
    val full = fullVecStats(prefix, folded)
    assert(folded.copy(meanCellRows = 0, cellSkew = 0) ==
      full.copy(meanCellRows = 0, cellSkew = 0),
      s"[$where] folded=$folded full=$full")
    assertClose(folded.meanCellRows, full.meanCellRows,
      s"[$where] meanCellRows")
    assertClose(folded.cellSkew, full.cellSkew, s"[$where] cellSkew")
  }

  private def exists(p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  test("text: folded stats match the full aggregate across append, replay, tombstone, quarantine") {
    val dir = java.nio.file.Files.createTempDirectory("sf_txt").toString
    val prefix = "sf_txt"
    val corpus = docs.filter(col("doc_id") % 10 < 6).limit(120)
    DedupIndex.build(corpus, "doc_id", "text", dir, prefix = prefix)
    assertTextParity(prefix, "after build")
    // one sidecar per committed wave, persisted beside the markers
    assert(WaveStats.read(spark, dir, 0).nonEmpty,
      "wave-0 sidecar missing after the first folded stats call")

    val b1 = docs.filter(col("doc_id") % 10 === 7).limit(10)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val b2 = docs.filter(col("doc_id") % 10 === 8).limit(8)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(b1, "doc_id", "text", prefix)
    DedupIndex.append(b2, "doc_id", "text", prefix)
    assertTextParity(prefix, "after two appends")

    // at-least-once REPLAY: re-appending b1 writes its shingle/band rows
    // again under a fresh wave (the hashes anti-join suppresses that
    // table) — the fold must twin-detect the wave and count b1 once,
    // exactly as the full aggregate's cross-wave DISTINCT does
    DedupIndex.append(b1, "doc_id", "text", prefix)
    val cws = Bucketing.committedWaves(spark, dir)
    assert(cws.size == 4, s"replay fixture: $cws")
    assertTextParity(prefix, "after replay twin")

    DedupIndex.remove(spark, Seq(700001L), prefix)
    assertTextParity(prefix, "after tombstone")

    // quarantine drops the wave from the committed set — the fold keys
    // on that set, so the sidecar goes unused without any invalidation
    val quarantined = cws.max
    Bucketing.quarantineWave(spark, dir, quarantined)
    (Seq("hashes", "bands", "shingles")).foreach { sub =>
      spark.catalog.refreshTable(s"${prefix}_$sub")
    }
    assertTextParity(prefix, "under quarantine")
    Bucketing.unquarantineWave(spark, dir, quarantined)
    assertTextParity(prefix, "after unquarantine")
  }

  test("text: carried waves after an online compact fold at the new location") {
    val a = java.nio.file.Files.createTempDirectory("sf_oc_a").toString
    val b = java.nio.file.Files.createTempDirectory("sf_oc_b").toString
    val prefix = "sf_oc"
    DedupIndex.build(docs.limit(60), "doc_id", "text", a, prefix = prefix)
    val b1 = docs.filter(col("doc_id") % 10 === 7).limit(6)
      .select((col("doc_id") + 710000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val b2 = docs.filter(col("doc_id") % 10 === 8).limit(6)
      .select((col("doc_id") + 810000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(b1, "doc_id", "text", prefix)
    val h = Bucketing.committedWaves(spark, a).max
    DedupIndex.append(b2, "doc_id", "text", prefix)
    // fold waves <= h into b's wave 0; b2's wave carries over as-is
    DedupIndex.compact(spark, b, prefix, upToWave = h)
    val cws = Bucketing.committedWaves(spark, b)
    assert(cws.size == 2, s"carry fixture: $cws")
    assertTextParity(prefix, "after online compact with a carried wave")
  }

  test("vector: folded stats match the full aggregate across append and replay") {
    val dir = java.nio.file.Files.createTempDirectory("sf_vec").toString
    val prefix = "sf_vec"
    VectorIndex.build(emb.filter(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", dir, minCos = 0.35, prefix = prefix)
    assertVecParity(prefix, "after build")
    val batch = emb.filter(col("vec_id") % 10 === 0).limit(12)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(batch, "vec_id", "embedding", prefix)
    assertVecParity(prefix, "after append")
    VectorIndex.append(batch, "vec_id", "embedding", prefix) // replay twin
    assert(Bucketing.committedWaves(spark, dir).size == 3)
    assertVecParity(prefix, "after replay twin")
  }

  test("sidecars are built at wave COMMIT — a first stats() pays no backfill (r20)") {
    // the r19 probe measured the LAZY backfill at 8.8 s for the 5M-doc
    // decade's wave 0 — worse on the read path than the full aggregate
    // the sidecars replace. Commit-time builds move that pass to the
    // write side; the read side must find the sidecar ALREADY persisted.
    val dir = java.nio.file.Files.createTempDirectory("sf_cm").toString
    val prefix = "sf_cm"
    DedupIndex.build(docs.limit(60), "doc_id", "text", dir, prefix = prefix)
    assert(WaveStats.read(spark, dir, 0).nonEmpty,
      "wave-0 sidecar missing right after build")
    val b1 = docs.filter(col("doc_id") % 10 === 7).limit(6)
      .select((col("doc_id") + 720000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(b1, "doc_id", "text", prefix)
    val w = Bucketing.committedWaves(spark, dir).max
    assert(w > 0, s"append fixture did not commit a wave")
    assert(WaveStats.read(spark, dir, w).nonEmpty,
      s"wave-$w sidecar missing right after append commit")
    // the commit-built numbers are the lazy path's numbers: parity holds
    assertTextParity(prefix, "commit-built sidecars")
    // vector twin
    val vdir = java.nio.file.Files.createTempDirectory("sf_cmv").toString
    val vprefix = "sf_cmv"
    VectorIndex.build(emb.filter(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", vdir, minCos = 0.35, prefix = vprefix)
    assert(WaveStats.read(spark, vdir, 0).nonEmpty,
      "vector wave-0 sidecar missing right after build")
    val vb = emb.filter(col("vec_id") % 10 === 0).limit(12)
      .select((col("vec_id") + 910000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(vb, "vec_id", "embedding", vprefix)
    val vw = Bucketing.committedWaves(spark, vdir).max
    assert(WaveStats.read(spark, vdir, vw).nonEmpty,
      s"vector wave-$vw sidecar missing right after append commit")
    assertVecParity(vprefix, "commit-built sidecars")
  }

  test("a same-dir rebuild resets the sidecar history with the wave numbers") {
    val dir = java.nio.file.Files.createTempDirectory("sf_rb").toString
    val prefix = "sf_rb"
    DedupIndex.build(docs.limit(50), "doc_id", "text", dir, prefix = prefix)
    DedupIndex.stats(spark, prefix)
    assert(exists(s"$dir/_wavestats"), "sidecars not persisted")
    // rebuild the SAME dir from a different corpus: wave 0 is reused by
    // number — a stale sidecar would be trusted for data it never saw
    DedupIndex.build(docs.limit(25), "doc_id", "text", dir, prefix = prefix)
    assertTextParity(prefix, "after same-dir rebuild")
    val folded = DedupIndex.stats(spark, prefix)
    assert(folded.docs == 25, s"stale sidecar served: $folded")
  }
}
