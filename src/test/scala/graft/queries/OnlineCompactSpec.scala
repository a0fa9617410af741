package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** WAVE-HORIZON (online) compact — r18 verdict item 1, the last
  * stop-the-world in the design: `compact`/`rebuild` requireQuiesced, so
  * at 100 TB a full-index rewrite is HOURS of halted ingest per
  * maintenance cycle. `compact(upToWave = H)` folds committed waves ≤ H
  * into the fresh location while a GENUINELY CONCURRENT appender keeps
  * landing waves > H at the old one; those waves are then carried over —
  * per-file copies published one marker at a time under the ordinary wave
  * protocol (numbers preserved when free, lease-remapped on collision
  * with a writer already appending at the new location), idempotent
  * through the `_carried` ledger. The concurrent appender here attaches
  * the SAME directory under a second prefix — the in-one-JVM model of
  * another process's catalog, exactly the CrossJvmWriterSpec shape. */
class OnlineCompactSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  private def relabel(df: org.apache.spark.sql.DataFrame, base: Long) =
    df.select((col("doc_id") + base).as("doc_id"), col("text"))
      .localCheckpoint(true)

  /** Synthetic NOVEL documents (no accidental overlap with the corpus's
    * built-in dup pairs — as-of-horizon asserts need determinism). */
  private def novelBatch(base: Long, tag: String, n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(j => (base + j,
      s"online compact $tag document $j carries a unique payload " +
        s"token${base + j} across the wave horizon"))
      .toDF("doc_id", "text").localCheckpoint(true)
  }

  test("text: horizon compact folds <= H while a live concurrent appender lands waves > H; carry + catch-up reach full parity") {
    val a = java.nio.file.Files.createTempDirectory("olc_txt_a").toString
    val b = java.nio.file.Files.createTempDirectory("olc_txt_b").toString
    val prefix = "olc_txt"
    DedupIndex.build(docs.limit(60), "doc_id", "text", a, prefix = prefix)
    val b1 = relabel(docs.limit(70).orderBy(col("doc_id").desc).limit(5),
      700000L)
    val b2 = relabel(docs.limit(80).orderBy(col("doc_id").desc).limit(5),
      710000L)
    DedupIndex.append(b1, "doc_id", "text", prefix) // wave 1
    DedupIndex.append(b2, "doc_id", "text", prefix) // wave 2
    val horizon = Bucketing.committedWave(spark, a)
    assert(horizon == 2)

    // another process's view of the same artifact: its own catalog
    // entries over the same directory (leases/waves shared on disk)
    DedupIndex.attach(spark, a, "olc_w")
    val waveBatches = (0 until 3).map(i =>
      novelBatch(720000L + i * 1000L, s"wave$i", 4))

    // a LIVE writer lease: the quiesced compact refuses, the horizon
    // compact proceeds over it by design
    val liveLease = Bucketing.acquireWave(spark, a,
      Seq("hashes", "bands", "shingles"))
    val refused = intercept[graft.operators.ConflictException](
      DedupIndex.compact(spark, b, prefix))
    assert(refused.getMessage.contains(s"_lease_$liveLease"))

    // the appender runs DURING the fold — genuine concurrency (the
    // interleave is timing-dependent; every committed wave must arrive
    // either via the compact's own carry loop or the catch-up below,
    // regardless of where the race landed)
    val appender = Future {
      waveBatches.foreach { w =>
        DedupIndex.append(w, "doc_id", "text", "olc_w")
      }
    }
    DedupIndex.compact(spark, b, prefix, upToWave = horizon)
    Await.result(appender, 5.minutes)
    Bucketing.releaseWave(spark, a, liveLease)
    while (DedupIndex.carryNewWaves(spark, prefix).nonEmpty) ()
    // idempotent once the source quiesced
    assert(DedupIndex.carryNewWaves(spark, prefix).isEmpty)

    val ledger = Bucketing.readCarryLedger(spark, b)
    assert(ledger.isDefined && ledger.get._3.size == 3,
      s"expected 3 carried waves: $ledger")

    // parity: the old directory retains EVERYTHING (fold copies, never
    // moves) — a reference attach over it is the ground truth
    DedupIndex.attach(spark, a, "olc_ref")
    val twins = (Seq(b1, b2) ++ waveBatches)
      .map(w => w.select((col("doc_id") + 50000L).as("doc_id"),
        col("text")))
      .reduce(_ unionAll _)
      .unionAll(docs.limit(60)
        .select((col("doc_id") + 60000L).as("doc_id"), col("text")))
      .localCheckpoint(true)
    def verdicts(pfx: String) =
      DedupIndex.incrementalDedup(twins, "doc_id", "text", pfx)
        .collect().map(_.toString).sorted.toSeq
    val got = verdicts(prefix)
    assert(got == verdicts("olc_ref"),
      "horizon compact + carry diverged from the quiesced ground truth")
    assert(got.forall(r => r.contains("exact_dup") || r.contains("near_dup")),
      s"every twin must find its partner: ${got.take(5)}")
    // the folded baseline is wave 0; as-of-wave 0 serves exactly the <= H
    // content (the appender's batches read as new)
    val appTwin = waveBatches.head
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
    val rewound = DedupIndex.incrementalDedup(appTwin, "doc_id", "text",
      prefix, asOfWave = 0).collect()
    assert(rewound.forall(_.getString(1) == "new"),
      "carried waves leaked into the folded as-of-0 snapshot")
  }

  test("text on mos://: carried waves remap on collision with a new-location writer; manifests rewrite and audit clean") {
    spark.sparkContext.hadoopConfiguration.set("fs.mos.impl",
      classOf[graft.sources.MockObjectStoreFileSystem].getName)
    val a = "mos://" +
      java.nio.file.Files.createTempDirectory("olc_mos_a").toString
    val b = "mos://" +
      java.nio.file.Files.createTempDirectory("olc_mos_b").toString
    val prefix = "olc_mos"
    DedupIndex.build(docs.limit(50), "doc_id", "text", a, prefix = prefix)
    // horizon at 0: everything appended from here on must be carried
    DedupIndex.compact(spark, b, prefix, upToWave = 0)
    // writers not yet redirected: two more waves land at the OLD dir
    DedupIndex.attach(spark, a, "olc_mos_w")
    val w1 = novelBatch(800000L, "mosA1", 4)
    val w2 = novelBatch(810000L, "mosA2", 4)
    DedupIndex.append(w1, "doc_id", "text", "olc_mos_w") // a: wave 1
    DedupIndex.append(w2, "doc_id", "text", "olc_mos_w") // a: wave 2
    // ...while a writer ALREADY at the new location takes wave 1 there
    val nb = novelBatch(820000L, "mosB", 4)
    DedupIndex.append(nb, "doc_id", "text", prefix) // b: wave 1
    val carried = DedupIndex.carryNewWaves(spark, prefix)
    assert(carried.map(_._1) == Seq(1, 2) &&
      carried.forall { case (f, t) => t != f },
      s"expected a collision remap: $carried")
    // the rewritten manifests audit clean against the copied files
    assert(Bucketing.verifyWaveManifests(spark, b).isEmpty,
      "carried manifest bodies disagree with the carried files")
    // every batch — folded, carried, natively appended — serves
    val twins = Seq(w1, w2, nb).map(w =>
        w.select((col("doc_id") + 50000L).as("doc_id"), col("text")))
      .reduce(_ unionAll _).localCheckpoint(true)
    val got = DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix)
      .collect()
    assert(got.length == 12 && got.forall(_.getString(1) == "exact_dup"),
      s"${got.take(5).mkString(";")}")
    // a FRESH attach of the carried artifact registers the carried
    // partitions from the rewritten manifests (zero-listing path) and
    // serves identically
    val before = got.map(_.toString).sorted.toSeq
    DedupIndex.attach(spark, b, "olc_mos2")
    val re = DedupIndex.incrementalDedup(twins, "doc_id", "text",
      "olc_mos2").collect().map(_.toString).sorted.toSeq
    assert(re == before, "fresh attach of the carried artifact diverged")
  }

  test("vector: horizon compact carries appended waves and the tombstone list; knn + verdict parity; rebuild keeps its quiesce") {
    val a = java.nio.file.Files.createTempDirectory("olc_vec_a").toString
    val b = java.nio.file.Files.createTempDirectory("olc_vec_b").toString
    val prefix = "olc_vec"
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    VectorIndex.build(corpus, "vec_id", "embedding", a, minCos = 0.35,
      prefix = prefix)
    val batch = emb.filter(col("vec_id") % 14 === 3).limit(8)
      .select((col("vec_id") + 600000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(batch, "vec_id", "embedding", prefix) // wave 1
    // a takedown BEFORE the horizon compact: must stay removed after
    val victim = corpus.limit(1).select("vec_id").head().getLong(0)
    VectorIndex.remove(spark, Seq(victim), prefix)
    // fold only wave 0; wave 1 carries inside the compact's own loop
    VectorIndex.compact(spark, b, prefix, upToWave = 0)
    assert(Bucketing.readCarryLedger(spark, b).get._3 == Map(1 -> 1))
    val twins = batch.select((col("vec_id") + 50000L).as("vec_id"),
      col("embedding"))
    val got = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
      prefix, minCos = 0.999).collect()
    assert(got.nonEmpty && got.forall(_.getString(1) == "near_dup"),
      s"carried wave lost: ${got.take(4).mkString(";")}")
    // catch-up: a writer not yet redirected lands one more wave at the OLD
    // location after the compact returned; carryNewWaves brings exactly
    // that wave over, and a second call finds nothing new
    VectorIndex.attach(spark, a, "olc_vec_w")
    val late = emb.filter(col("vec_id") % 14 === 10).limit(8)
      .select((col("vec_id") + 610000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(late, "vec_id", "embedding", "olc_vec_w") // a: wave 2
    assert(VectorIndex.carryNewWaves(spark, prefix) == Seq(2 -> 2))
    val lateGot = VectorIndex.incrementalDedup(
      late.select((col("vec_id") + 50000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", prefix, minCos = 0.999).collect()
    assert(lateGot.nonEmpty && lateGot.length == late.count() &&
      lateGot.forall(_.getString(1) == "near_dup"),
      s"caught-up wave lost: ${lateGot.take(4).mkString(";")}")
    assert(VectorIndex.carryNewWaves(spark, prefix).isEmpty)
    // tombstones carried: the removed id serves from NO snapshot
    val knn = VectorIndex.knn(
      emb.filter(col("vec_id") === victim)
        .select((col("vec_id") + 51000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 5, prefix).collect()
    assert(knn.nonEmpty && !knn.exists(_.getAs[Long]("vec_id") == victim),
      "tombstoned id resurfaced after the horizon compact")
    assert(spark.catalog.tableExists(s"${prefix}_tombs"),
      "tombstone table was not carried")
    // rebuild retrains the model — carried old-model waves would
    // mis-probe, so it deliberately has NO horizon mode and still
    // enforces quiesce
    val lease = Bucketing.acquireWave(spark, b,
      Seq("vecs", "bands", "cells", "pqcodes"))
    try intercept[graft.operators.ConflictException](
      VectorIndex.rebuild(spark,
        java.nio.file.Files.createTempDirectory("olc_vec_c").toString,
        prefix))
    finally Bucketing.releaseWave(spark, b, lease)
  }
}
