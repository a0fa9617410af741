package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** AS-OF-WAVE (time-travel) probes: the wave markers already version the
  * index — every append is one committed wave, and probes read
  * `wave IN (committed set)` — so exposing an `asOfWave` horizon costs
  * nothing at plan time and reproduces any pre-compaction snapshot's
  * verdicts bit-identically (training-run reproducibility, incident
  * forensics). Contract pins:
  *   - waves ≤ horizon serve; later appends are invisible,
  *   - the default horizon is the full committed set,
  *   - TAKEDOWNS are global: a tombstoned doc serves from NO snapshot
  *     (right-to-be-forgotten outranks reproducibility),
  *   - compaction folds history (like any log-structured store). */
class AsOfWaveSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  test("text probes rewind to any committed wave; takedowns stay global") {
    val d = java.nio.file.Files.createTempDirectory("asof_txt").toString
    val prefix = "asof_txt"
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    val batchA = docs.filter(col("doc_id") % 20 === 3).limit(6)
      .select((col("doc_id") + 610000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val batchB = docs.filter(col("doc_id") % 20 === 13).limit(6)
      .select((col("doc_id") + 620000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    DedupIndex.append(batchA, "doc_id", "text", prefix) // wave 1
    DedupIndex.append(batchB, "doc_id", "text", prefix) // wave 2
    assert(Bucketing.committedWave(spark, d) == 2)

    // (verdict, partner) rows; a near-dup hit against CORPUS content is
    // legitimate at any horizon (sf documents share templates) — what a
    // horizon must control is visibility of the APPENDED id ranges
    def probe(twins: org.apache.spark.sql.DataFrame, asOf: Int) =
      DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix,
        asOfWave = asOf).collect()
        .map(r => (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val twinsA = batchA.select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))
    val twinsB = batchB.select((col("doc_id") + 100000L).as("doc_id"),
      col("text"))

    // batchA content: invisible at the build snapshot (no partner from
    // the appended range, no exact hit), exact from wave 1 on
    val a0 = probe(twinsA, 0)
    assert(a0.nonEmpty && a0.forall { case (v, p) =>
      v != "exact_dup" && p < 610000L }, a0.mkString(";"))
    val a1 = probe(twinsA, 1)
    assert(a1.nonEmpty && a1.forall { case (v, p) =>
      v == "exact_dup" && p >= 610000L && p < 620000L }, a1.mkString(";"))
    // batchB content: invisible at horizon 1, exact at 2
    val b1 = probe(twinsB, 1)
    assert(b1.nonEmpty && b1.forall { case (v, p) =>
      v != "exact_dup" && p < 610000L }, b1.mkString(";"))
    val b2 = probe(twinsB, 2)
    assert(b2.nonEmpty && b2.forall { case (v, p) =>
      v == "exact_dup" && p >= 620000L && p < 630000L }, b2.mkString(";"))

    // the default horizon IS the latest snapshot (bit-parity)
    val dflt = DedupIndex.incrementalDedup(twinsA, "doc_id", "text", prefix)
      .collect().map(_.toString).sorted.toSeq
    val pinned = DedupIndex.incrementalDedup(twinsA, "doc_id", "text",
      prefix, asOfWave = 2).collect().map(_.toString).sorted.toSeq
    assert(dflt == pinned)

    // takedown: the removed doc serves from NO snapshot, even a horizon
    // where it was live
    val victim = batchA.select("doc_id").orderBy("doc_id").head().getLong(0)
    DedupIndex.remove(spark, Seq(victim), prefix)
    val victimTwin = batchA.filter(col("doc_id") === victim)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val v1 = probe(victimTwin, 1)
    assert(v1.nonEmpty && v1.forall { case (v, p) =>
      v != "exact_dup" && p != victim },
      s"a tombstoned doc served from a historical horizon: ${v1.mkString(";")}")
  }

  test("vector probes and knn rewind; default equals latest") {
    val d = java.nio.file.Files.createTempDirectory("asof_vec").toString
    val prefix = "asof_vec"
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    VectorIndex.build(corpus, "vec_id", "embedding", d, minCos = 0.35,
      prefix = prefix)
    val batch = emb.filter(col("vec_id") % 14 === 3).limit(6)
      .select((col("vec_id") + 630000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    VectorIndex.append(batch, "vec_id", "embedding", prefix) // wave 1

    val twins = batch.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    def probe(asOf: Int) = VectorIndex.incrementalDedup(twins, "vec_id",
      "embedding", prefix, minCos = 0.999, asOfWave = asOf).collect()
      .map(r => (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val p0 = probe(0)
    assert(p0.nonEmpty && p0.forall(_._2 < 630000L),
      s"wave-0 horizon saw appended vectors: ${p0.mkString(";")}")
    val p1 = probe(1)
    assert(p1.nonEmpty && p1.forall { case (v, p) =>
      v == "near_dup" && p >= 630000L && p < 640000L }, p1.mkString(";"))

    // knn: at horizon 0 no appended id may appear; at the latest horizon
    // each twin's top-1 is its appended identical twin; default == latest
    def top1(asOf: Int) = VectorIndex.knn(twins, "vec_id", "embedding",
      k = 1, prefix = prefix, asOfWave = asOf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(top1(0).forall(_ < 630000L))
    assert(top1(1).forall(id => id >= 630000L && id < 640000L))
    val dfltKnn = VectorIndex.knn(twins, "vec_id", "embedding", k = 1,
      prefix = prefix).collect().map(_.toString).sorted.toSeq
    val pinnedKnn = VectorIndex.knn(twins, "vec_id", "embedding", k = 1,
      prefix = prefix, asOfWave = 1).collect().map(_.toString).sorted.toSeq
    assert(dfltKnn == pinnedKnn)
  }
}
