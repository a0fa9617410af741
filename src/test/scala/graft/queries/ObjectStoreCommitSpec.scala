package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The OBJECT-STORE commit protocol end to end (r16 verdict item 1): the
  * wave machinery previously assumed atomic create/rename, which S3-class
  * stores do not give. Every wave publishes by per-FILE moves into the
  * live `wave=W` prefixes (atomic per object), then ONE conditional-put
  * `_wave_W` MANIFEST listing the wave's keys — with readers unchanged
  * (visibility is still the marker name). Exercised on
  * [[graft.sources.MockObjectStoreFileSystem]] (`mos://`), which FORBIDS
  * directory-rename-as-publish and emulates conditional-put create, so
  * any protocol path still relying on the rename primitive throws instead
  * of silently passing on the rename-atomic local FS; the manifest cases
  * run on a plain local directory too, since the same protocol is the
  * only one on every filesystem. */
class ObjectStoreCommitSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  private def withMos[A](body: => A): A = {
    spark.sparkContext.hadoopConfiguration.set("fs.mos.impl",
      classOf[graft.sources.MockObjectStoreFileSystem].getName)
    body
  }

  /** Every data file currently on disk under `dir/<sub>/wave=<w>`,
    * relative to `dir` — the ground truth a manifest must match. */
  private def filesOfWave(dir: String, w: Int): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = fs.makeQualified(root).toUri
    val out = scala.collection.mutable.Set.empty[String]
    fs.listStatus(root)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".")
        && !st.getPath.getName.startsWith("_"))
      .foreach { sub =>
        val wd = new org.apache.hadoop.fs.Path(sub.getPath, s"wave=$w")
        if (fs.exists(wd)) {
          val it = fs.listFiles(wd, true)
          while (it.hasNext) {
            val f = it.next().getPath
            if (!f.getName.startsWith(".") && !f.getName.startsWith("_"))
              out += rootUri.relativize(fs.makeQualified(f).toUri).getPath
          }
        }
      }
    out.toSet
  }

  test("text index lifecycle on mos://: build, concurrent appends, crash, reclaim, compact — no directory rename, manifests exact") {
    withMos {
      val local = java.nio.file.Files.createTempDirectory("mos_txt").toString
      val d = "mos://" + local
      val prefix = "mos_txt"
      val corpus = docs.filter(col("doc_id") % 10 =!= 3)
      DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
      assert(Bucketing.committedWaves(spark, d) == Seq(0))
      // the build's manifest lists exactly the wave-0 files on disk
      val m0 = Bucketing.waveManifest(spark, d, 0)
      assert(m0.isDefined, "manifest mode must write a manifest body")
      assert(m0.get.keySet == filesOfWave(d, 0),
        s"manifest diverged from disk:\n${m0.get.keySet}\n${filesOfWave(d, 0)}")

      // two CONCURRENT appenders: disjoint leased waves, per-file-move
      // publish (a directory rename would throw on this FS), exact
      // manifests for both
      val b1 = docs.filter(col("doc_id") % 40 === 3).limit(8)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val b2 = docs.filter(col("doc_id") % 40 === 13).limit(8)
        .select((col("doc_id") + 910000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val f1 = Future(DedupIndex.append(b1, "doc_id", "text", prefix))
      val f2 = Future(DedupIndex.append(b2, "doc_id", "text", prefix))
      Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
      assert(Bucketing.committedWaves(spark, d) == Seq(0, 1, 2))
      assert(Bucketing.leasedWaves(spark, d).isEmpty)
      Seq(1, 2).foreach { w =>
        val m = Bucketing.waveManifest(spark, d, w)
        assert(m.isDefined && m.get.keySet == filesOfWave(d, w),
          s"wave $w manifest wrong")
      }
      val st1 = DedupIndex.stats(spark, prefix)
      assert(st1.docs == corpus.count() + b1.count() + b2.count() &&
        st1.stagingDirs == 0 && st1.abandonedWaves == 0, s"$st1")
      // both writers' content serves
      for ((b, off) <- Seq((b1, 900000L), (b2, 910000L))) {
        val twins = b.select((col("doc_id") + 50000L).as("doc_id"),
          col("text"))
        val got = DedupIndex
          .incrementalDedup(twins, "doc_id", "text", prefix).collect()
        assert(got.nonEmpty && got.forall(r =>
          r.getString(1) == "exact_dup" &&
            r.getLong(2) >= off && r.getLong(2) < off + 10000L),
          s"writer at $off lost content: ${got.take(4).mkString(";")}")
      }

      // TAKEDOWN on the object store: the tombstone publish is per-file
      // renames from private staging (appendFilesByRenameTo — the
      // first-tombstone table creation included), all mos-legal
      val removedIds = b1.limit(2).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      DedupIndex.remove(spark, removedIds, prefix)
      assert(DedupIndex.stats(spark, prefix).tombstones == 2)
      val removedTwins = b1.limit(2)
        .select((col("doc_id") + 60000L).as("doc_id"), col("text"))
      val afterRm = DedupIndex
        .incrementalDedup(removedTwins, "doc_id", "text", prefix).collect()
      assert(afterRm.forall(r => r.getString(1) == "new" ||
          !removedIds.contains(r.getLong(2))),
        s"a removed id still serves as partner: ${afterRm.mkString(";")}")

      // CRASH mid-append (1 of 3 tables published): reader unchanged;
      // the garbage is PRECISELY reclaimable without a compact — the
      // manifest-less wave dirs go, committed bytes stay
      // %40==23 ⊂ the out-of-corpus %10==3 slice, disjoint from b1/b2
      val wave = docs.filter(col("doc_id") % 40 === 23).limit(5)
        .select((col("doc_id") + 920000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val twins = wave.select((col("doc_id") + 50000L).as("doc_id"),
        col("text"))
      def probe() = DedupIndex
        .incrementalDedup(twins, "doc_id", "text", prefix)
        .collect().map(_.toString).sorted.toSeq
      val before = probe()
      assert(before.forall(_.contains("new")), s"fixture: $before")
      val staged = DedupIndex.appendStaged(wave, "doc_id", "text", prefix,
        maxTables = 1)
      assert(staged == 3)
      assert(probe() == before, "torn read on mos://")
      assert(DedupIndex.stats(spark, prefix).abandonedWaves == 1)
      spark.conf.set("spark.graft.writerLiveTtlMs", "0") // spec killed it
      val reclaimed =
        try Bucketing.reclaimGarbage(spark, d,
          Seq("hashes", "bands", "shingles"))
        finally spark.conf.unset("spark.graft.writerLiveTtlMs")
      assert(reclaimed.exists(_.contains("wave=3")),
        s"abandoned wave not reclaimed: $reclaimed")
      assert(DedupIndex.stats(spark, prefix).abandonedWaves == 0)
      assert(probe() == before, "reclaim changed verdicts")
      assert(Bucketing.waveManifest(spark, d, 0).get.keySet ==
        filesOfWave(d, 0), "reclaim touched committed files")

      // compact into another mos:// location: verdicts carry over, the
      // compacted history restarts at a manifested wave 0
      val out = "mos://" +
        java.nio.file.Files.createTempDirectory("mos_txt_c").toString
      DedupIndex.compact(spark, out, prefix, force = true)
      assert(Bucketing.committedWaves(spark, out) == Seq(0))
      assert(Bucketing.waveManifest(spark, out, 0).get.keySet ==
        filesOfWave(out, 0))
      assert(probe() == before, "compaction changed verdicts on mos://")
    }
  }

  /** The substrates the manifest cases run on — the object-store mock
    * and a plain local directory (the same protocol publishes on both) —
    * as (scheme, test-name suffix). */
  private val substrates = Seq("mos" -> "", "file" -> " (file://)")

  /** A fresh index directory on `scheme`: (local path, index URI). */
  private def indexDir(scheme: String, tag: String): (String, String) = {
    val local = java.nio.file.Files.createTempDirectory(tag).toString
    (local, s"$scheme://$local")
  }

  for ((scheme, suffix) <- substrates)
  test("manifest-precise sweep: a stray file inside a committed wave is deleted, listed keys survive" + suffix) {
    withMos {
      val (local, d) = indexDir(scheme, s"${scheme}_stray")
      val prefix = s"${scheme}_stray"
      val corpus = docs.filter(col("doc_id") % 10 =!= 3).limit(50)
      DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
      // plant a stray (a torn multipart upload, an overwritten-wave
      // remnant): it is NOT in wave 0's manifest, and a table scan that
      // listed it would read it as parquet — the sweep protects both
      // bytes and correctness
      val stray = new java.io.File(
        s"$local/hashes/wave=0/part-stray-not-in-manifest.parquet")
      java.nio.file.Files.write(stray.toPath, "junk".getBytes)
      // the audit sees it (and only it) before the sweep
      val audit = Bucketing.verifyWaveManifests(spark, d)
      assert(audit.map(a => (a.wave, a.missing.size, a.strays)) ==
        Seq((0, 0, Seq("hashes/wave=0/part-stray-not-in-manifest.parquet"))),
        s"$audit")
      // the decision layer folds the audit in: stray-only garbage →
      // the cheap in-place reclaim, not a rewrite
      val rec = Maintenance.forText(spark, prefix)
      assert(rec.action == "reclaim" &&
        rec.reasons.exists(_.contains("stray key")), s"$rec")
      val reclaimed = Bucketing.reclaimGarbage(spark, d,
        Seq("hashes", "bands", "shingles"))
      assert(reclaimed.size == 1 &&
        reclaimed.head.endsWith("part-stray-not-in-manifest.parquet"),
        s"$reclaimed")
      assert(Bucketing.waveManifest(spark, d, 0).get.keySet ==
        filesOfWave(d, 0), "sweep touched manifested keys")
      assert(Bucketing.verifyWaveManifests(spark, d).isEmpty,
        "post-sweep audit must be clean")
      // a LISTED key going missing is the loud half of the audit
      val victim = Bucketing.waveManifest(spark, d, 0).get.keySet.head
      val vp = new java.io.File(s"$local/$victim")
      assert(vp.delete(), s"fixture: could not delete $vp")
      // refresh the cached listings so the decision layer's stats pass
      // sees the post-loss filesystem instead of failing mid-scan
      Seq("hashes", "bands", "shingles")
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
      val lost = Bucketing.verifyWaveManifests(spark, d)
      assert(lost.size == 1 && lost.head.missing == Seq(victim) &&
        lost.head.strays.isEmpty, s"$lost")
      // data loss is a WARNING, never an automated action — a rewrite
      // would bake the loss in
      val recLost = Maintenance.forText(spark, prefix)
      assert(recLost.warnings.exists(_.contains("INTEGRITY")) &&
        recLost.action == "none", s"$recLost")
    }
  }

  test("quarantineWave retires a damaged wave: probes skip it, files stay for forensics, re-ingest recovers") {
    withMos {
      val local = java.nio.file.Files.createTempDirectory("mos_quar").toString
      val d = "mos://" + local
      val prefix = "mos_quar"
      val corpus = docs.filter(col("doc_id") % 10 =!= 3).limit(60)
      DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
      val batch = docs.filter(col("doc_id") % 40 === 3).limit(6)
        .select((col("doc_id") + 940000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      DedupIndex.append(batch, "doc_id", "text", prefix)
      val twins = batch.select((col("doc_id") + 50000L).as("doc_id"),
        col("text")).localCheckpoint(true)
      def probe() = DedupIndex
        .incrementalDedup(twins, "doc_id", "text", prefix)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(probe().forall(_._2 == "exact_dup"), "fixture: wave 1 serves")

      // DAMAGE wave 1: delete one manifested key — the audit flags data
      // loss and the advisory names the recovery lever
      val victim = Bucketing.waveManifest(spark, d, 1).get.keySet.head
      assert(new java.io.File(s"$local/$victim").delete())
      Seq("hashes", "bands", "shingles")
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
      val lost = Bucketing.verifyWaveManifests(spark, d)
      assert(lost.size == 1 && lost.head.wave == 1 &&
        lost.head.missing == Seq(victim), s"$lost")
      val rec = Maintenance.forText(spark, prefix)
      assert(rec.warnings.exists(w => w.contains("INTEGRITY") &&
        w.contains("quarantineWave(1)")), s"$rec")

      // QUARANTINE: marker-level, zero data movement; the wave leaves
      // the committed set and probes stop serving its (partial) content
      Bucketing.quarantineWave(spark, d, 1)
      assert(Bucketing.committedWaves(spark, d) == Seq(0))
      assert(Bucketing.quarantinedWaves(spark, d) == Seq(1))
      assert(probe().forall(_._2 == "new"),
        "a quarantined wave still serves")
      // the audit is silent (wave 1 left the committed set) and the
      // advisory flips to the quarantine-hygiene note
      assert(Bucketing.verifyWaveManifests(spark, d).isEmpty)
      val rec2 = Maintenance.forText(spark, prefix)
      assert(rec2.warnings.exists(_.contains("quarantined wave(s)")) &&
        !rec2.warnings.exists(_.contains("INTEGRITY")), s"$rec2")
      // stats: the retained files are neither live nor abandoned garbage
      val st = DedupIndex.stats(spark, prefix)
      assert(st.abandonedWaves == 0 && st.quarantinedWaveCount == 1,
        s"$st")

      // FORENSICS: reclaim must NOT delete the quarantined wave's files
      spark.conf.set("spark.graft.writerLiveTtlMs", "0")
      val reclaimed =
        try Bucketing.reclaimGarbage(spark, d,
          Seq("hashes", "bands", "shingles"))
        finally spark.conf.unset("spark.graft.writerLiveTtlMs")
      assert(!reclaimed.exists(_.contains("wave=1")),
        s"reclaim deleted quarantined forensics: $reclaimed")
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$d/shingles/wave=1")), "quarantined files gone")

      // the reverse lever: restore puts the wave back in the committed
      // set (an accidental quarantine is one marker move away from
      // undone), and the audit re-flags the missing key — then
      // re-quarantine for the real recovery below
      Bucketing.unquarantineWave(spark, d, 1)
      assert(Bucketing.committedWaves(spark, d) == Seq(0, 1))
      assert(Bucketing.verifyWaveManifests(spark, d)
        .exists(a => a.wave == 1 && a.missing == Seq(victim)))
      Bucketing.quarantineWave(spark, d, 1)
      assert(Bucketing.committedWaves(spark, d) == Seq(0))

      // RECOVERY: the content left the committed horizon, so re-ingest
      // from source is admitted as novel and serves again
      DedupIndex.append(batch, "doc_id", "text", prefix)
      assert(Bucketing.committedWaves(spark, d) == Seq(0, 2))
      assert(probe().forall(_._2 == "exact_dup"),
        "re-ingested content not serving")

      // compact purges the quarantined remnant physically
      val out = "mos://" +
        java.nio.file.Files.createTempDirectory("mos_quar_c").toString
      DedupIndex.compact(spark, out, prefix)
      assert(Bucketing.quarantinedWaves(spark, out).isEmpty)
      assert(probe().forall(_._2 == "exact_dup"),
        "compaction lost the recovered content")
    }
  }

  for ((scheme, suffix) <- substrates)
  test("attach derives partitions from wave manifests — no listing walk, quarantine-aware" + suffix) {
    withMos {
      val (local, d) = indexDir(scheme, s"${scheme}_att")
      val p1 = s"${scheme}_att1"
      DedupIndex.build(docs.filter(col("doc_id") % 10 =!= 3).limit(60),
        "doc_id", "text", d, prefix = p1)
      assert(Bucketing.verifyWaveManifests(spark, d).isEmpty)
      val batch = docs.filter(col("doc_id") % 40 === 3).limit(5)
        .select((col("doc_id") + 950000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      DedupIndex.append(batch, "doc_id", "text", p1) // wave 1
      assert(Seq(0, 1).forall(Bucketing.waveManifest(spark, d, _).isDefined))
      assert(Bucketing.verifyWaveManifests(spark, d).isEmpty)
      val twins = batch.select((col("doc_id") + 50000L).as("doc_id"),
        col("text")).localCheckpoint(true)
      def probe(pfx: String) = DedupIndex
        .incrementalDedup(twins, "doc_id", "text", pfx)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val v1 = probe(p1)
      assert(v1.forall(_._2 == "exact_dup"), s"fixture: $v1")

      // DISCRIMINATOR: an abandoned (uncommitted) wave directory — the
      // listing-based RECOVER would register its partitions; the
      // manifest derivation must not see it
      val junk = new java.io.File(s"$local/hashes/wave=9/pch=0")
      assert(junk.mkdirs())
      java.nio.file.Files.write(
        new java.io.File(junk, "part-junk.parquet").toPath,
        Array[Byte](1, 2, 3))

      // fresh-prefix attach (a new session's catalog shape): partitions
      // come from the manifests — committed waves only, probes identical
      val p2 = s"${scheme}_att2"
      DedupIndex.attach(spark, d, p2)
      assert(Bucketing.catalogWaves(spark, s"${p2}_hashes") == Set(0, 1),
        "manifest-derived partitions must cover exactly the committed " +
          s"waves: ${Bucketing.catalogWaves(spark, s"${p2}_hashes")}")
      assert(probe(p2) == v1, "manifest-attached probe diverged")

      // quarantined waves' retained manifests register too: an attach
      // taken DURING quarantine serves the wave the moment it is
      // restored — no re-attach, no recover
      Bucketing.quarantineWave(spark, d, 1)
      val p3 = s"${scheme}_att3"
      DedupIndex.attach(spark, d, p3)
      assert(Bucketing.catalogWaves(spark, s"${p3}_hashes") == Set(0, 1))
      assert(probe(p3).forall(_._2 == "new"),
        "a quarantined wave served through a fresh attach")
      Bucketing.unquarantineWave(spark, d, 1)
      assert(probe(p3) == v1,
        "restored wave not serving through the quarantine-time attach")
    }
  }

  test("file:// publish cycle: build, append, remove and compact commit manifests that audit clean") {
    // the protocol is the same on local disk: every marker written on
    // the way carries a manifest body and the audit stays empty
    def audited(dir: String, step: String): Unit = {
      val cws = Bucketing.committedWaves(spark, dir)
      assert(cws.nonEmpty && cws.forall(w =>
        Bucketing.waveManifest(spark, dir, w).isDefined),
        s"empty marker after $step: $cws")
      assert(Bucketing.verifyWaveManifests(spark, dir).isEmpty,
        s"audit not clean after $step: " +
          Bucketing.verifyWaveManifests(spark, dir))
    }
    val (_, td) = indexDir("file", "file_cyc_t")
    DedupIndex.build(docs.filter(col("doc_id") % 10 =!= 3).limit(60),
      "doc_id", "text", td, prefix = "file_cyc_t")
    audited(td, "text build")
    val batch = docs.filter(col("doc_id") % 40 === 3).limit(6)
      .select((col("doc_id") + 970000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(batch, "doc_id", "text", "file_cyc_t")
    assert(Bucketing.committedWaves(spark, td) == Seq(0, 1))
    audited(td, "text append")
    DedupIndex.remove(spark,
      Seq(batch.head().getLong(0)), "file_cyc_t")
    assert(DedupIndex.stats(spark, "file_cyc_t").tombstones == 1)
    audited(td, "text remove")
    val (_, tout) = indexDir("file", "file_cyc_tc")
    DedupIndex.compact(spark, tout, "file_cyc_t", force = true)
    audited(tout, "text compact")

    val (_, vd) = indexDir("file", "file_cyc_v")
    VectorIndex.build(emb.filter(col("vec_id") % 7 =!= 3), "vec_id",
      "embedding", vd, minCos = 0.35, prefix = "file_cyc_v")
    audited(vd, "vector build")
    val vb = emb.filter(col("vec_id") % 14 === 3).limit(6)
      .select((col("vec_id") + 970000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(vb, "vec_id", "embedding", "file_cyc_v")
    assert(Bucketing.committedWaves(spark, vd) == Seq(0, 1))
    audited(vd, "vector append")
    VectorIndex.remove(spark, Seq(vb.head().getLong(0)), "file_cyc_v")
    audited(vd, "vector remove")
    val (_, vout) = indexDir("file", "file_cyc_vc")
    VectorIndex.compact(spark, vout, "file_cyc_v", force = true)
    audited(vout, "vector compact")
  }

  test("per-file publishes survive store throttling (503-style rename failures)") {
    spark.sparkContext.hadoopConfiguration.set("fs.thr.impl",
      classOf[graft.sources.ThrottlingObjectStoreFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("thr_txt").toString
    val d = "thr://" + local
    val prefix = "thr_txt"
    val corpus = docs.filter(col("doc_id") % 10 =!= 3).limit(80)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    graft.sources.ThrottlingObjectStoreFileSystem.reset()
    val batch = docs.filter(col("doc_id") % 40 === 3).limit(6)
      .select((col("doc_id") + 960000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(batch, "doc_id", "text", prefix)
    assert(graft.sources.ThrottlingObjectStoreFileSystem.throttled.get > 0,
      "fixture degenerate: no publish move was throttled")
    assert(Bucketing.committedWaves(spark, d) == Seq(0, 1))
    val twins = batch.select((col("doc_id") + 50000L).as("doc_id"),
      col("text"))
    val got = DedupIndex
      .incrementalDedup(twins, "doc_id", "text", prefix).collect()
    assert(got.nonEmpty && got.forall(_.getString(1) == "exact_dup"),
      s"throttled publish lost content: ${got.take(4).mkString(";")}")
    assert(Bucketing.verifyWaveManifests(spark, d).isEmpty,
      "throttled publish left an inconsistent manifest")
  }

  test("vector index serves, appends, and time-travels on mos:// manifest mode") {
    withMos {
      val local = java.nio.file.Files.createTempDirectory("mos_vec").toString
      val d = "mos://" + local
      val prefix = "mos_vec"
      val corpus = emb.filter(col("vec_id") % 7 =!= 3)
      VectorIndex.build(corpus, "vec_id", "embedding", d, minCos = 0.35,
        prefix = prefix)
      val batch = emb.filter(col("vec_id") % 14 === 3).limit(8)
        .select((col("vec_id") + 930000L).as("vec_id"), col("embedding"))
        .localCheckpoint(true)
      VectorIndex.append(batch, "vec_id", "embedding", prefix)
      assert(Bucketing.committedWaves(spark, d) == Seq(0, 1))
      assert(Bucketing.waveManifest(spark, d, 1).isDefined)
      val twins = batch.select((col("vec_id") + 50000L).as("vec_id"),
        col("embedding"))
      val got = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
        prefix, minCos = 0.999).collect()
      assert(got.nonEmpty && got.forall(_.getString(1) == "near_dup"),
        s"${got.take(4).mkString(";")}")
      // as-of rewinds below the appended wave on the object store too
      val old = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
        prefix, minCos = 0.999, asOfWave = 0).collect()
      assert(old.forall(_.getString(1) == "new"),
        s"time travel leaked wave 1: ${old.take(4).mkString(";")}")
      val knn = VectorIndex.knn(twins, "vec_id", "embedding", k = 1,
        prefix).collect()
      assert(knn.nonEmpty)
    }
  }

  test("lease/reader heartbeats survive a store without setTimes (overwrite-put fallback)") {
    // real object stores cannot mutate mtime (S3A throws on setTimes) —
    // the mos:// mock now rejects it too, so this arm proves the
    // overwrite-put fallback keeps liveness protection alive there: a
    // silent no-op meant any reader/writer outliving the TTL lost its
    // guard while still active (r18 advisor)
    withMos {
      val d = "mos://" +
        java.nio.file.Files.createTempDirectory("mos_beat").toString
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // the mock really rejects setTimes (otherwise this test proves nothing)
      intercept[java.io.IOException](fs.setTimes(
        new org.apache.hadoop.fs.Path(s"$d/x"), 0L, -1L))
      val w = Bucketing.acquireWave(spark, d, Seq("hashes"))
      val token = Bucketing.registerReader(spark, d)
      Thread.sleep(1100) // FS mtime granularity
      val leaseAgeBefore = Bucketing.leaseAges(spark, d).head._2
      val readerAgeBefore = Bucketing.readerAges(spark, d).head._2
      assert(leaseAgeBefore >= 1000 && readerAgeBefore >= 1000)
      Bucketing.touchLease(spark, d, w)
      Bucketing.touchReader(spark, d, token)
      val leaseAge = Bucketing.leaseAges(spark, d).head._2
      val readerAge = Bucketing.readerAges(spark, d).head._2
      assert(leaseAge < 1000 && readerAge < 1000,
        s"heartbeat did not bump mtime on a setTimes-less store: " +
          s"lease $leaseAgeBefore->$leaseAge, " +
          s"reader $readerAgeBefore->$readerAge")
      // the markers still exist and still gate (no delete window)
      assert(Bucketing.liveLeases(spark, d, 60000L).map(_._1) == Seq(w))
      Bucketing.releaseWave(spark, d, w)
      Bucketing.unregisterReader(spark, d, token)
    }
  }
}
