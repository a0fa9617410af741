package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Cooperative multi-writer append (r15 verdict item 4): two GENUINELY
  * CONCURRENT appenders to one index both land — on disjoint leased
  * waves — where the r15 design failed loudly at the wave marker (after
  * the damage: both writers had already staged the same wave number).
  * The lease moves the atomic create BEFORE staging, and every writer
  * stages privately ([[Bucketing.appendWave]]), so no lock is taken —
  * across threads or processes ([[CrossJvmWriterSpec]]). */
class MultiWriterSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  test("acquireWave skips leased and staged numbers atomically") {
    val d = java.nio.file.Files.createTempDirectory("mw_lease").toString
    // a stale lease (crashed writer) reserves its number forever
    Bucketing.commitWave(spark, d, 0)
    Bucketing.acquireWave(spark, d, Nil) // takes 1
    assert(Bucketing.leasedWaves(spark, d) == Seq(1))
    assert(Bucketing.acquireWave(spark, d, Nil) == 2,
      "second acquire must skip the in-flight lease")
    // commit+release of wave 2: the next acquire still numbers above it
    Bucketing.commitWave(spark, d, 2)
    Bucketing.releaseWave(spark, d, 2)
    assert(Bucketing.acquireWave(spark, d, Nil) == 3)
  }

  test("two concurrent text appenders both land on disjoint waves") {
    val d = java.nio.file.Files.createTempDirectory("mw_txt").toString
    val prefix = "mw_txt"
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    // disjoint NOVEL content (the concurrent-writer contract): two
    // shards of the corpus-excluded slice, re-idded
    val b1 = docs.filter(col("doc_id") % 20 === 3).limit(10)
      .select((col("doc_id") + 400000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val b2 = docs.filter(col("doc_id") % 20 === 13).limit(10)
      .select((col("doc_id") + 410000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val f1 = Future(DedupIndex.append(b1, "doc_id", "text", prefix))
    val f2 = Future(DedupIndex.append(b2, "doc_id", "text", prefix))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)

    assert(Bucketing.committedWaves(spark, d) == Seq(0, 1, 2),
      s"both appends must commit: ${Bucketing.committedWaves(spark, d)}")
    assert(Bucketing.leasedWaves(spark, d).isEmpty,
      "committed appends must release their leases")
    val st = DedupIndex.stats(spark, prefix)
    assert(st.docs == corpus.count() + b1.count() + b2.count() &&
      st.abandonedWaves == 0, s"$st")
    // BOTH writers' content serves: exact twins of each batch probe to
    // their appended partner
    for ((b, off) <- Seq((b1, 400000L), (b2, 410000L))) {
      val twins = b.select((col("doc_id") + 100000L).as("doc_id"),
        col("text"))
      val got = DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix)
        .collect()
      assert(got.nonEmpty && got.forall(r =>
        r.getString(1) == "exact_dup" &&
          r.getLong(2) >= off && r.getLong(2) < off + 10000L),
        s"writer at offset $off lost content: ${got.take(4).mkString(";")}")
    }
  }

  test("two concurrent vector appenders both land on disjoint waves") {
    val d = java.nio.file.Files.createTempDirectory("mw_vec").toString
    val prefix = "mw_vec"
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    VectorIndex.build(corpus, "vec_id", "embedding", d, minCos = 0.35,
      prefix = prefix)
    val b1 = emb.filter(col("vec_id") % 14 === 3).limit(8)
      .select((col("vec_id") + 420000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val b2 = emb.filter(col("vec_id") % 14 === 10).limit(8)
      .select((col("vec_id") + 430000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val f1 = Future(VectorIndex.append(b1, "vec_id", "embedding", prefix))
    val f2 = Future(VectorIndex.append(b2, "vec_id", "embedding", prefix))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)

    assert(Bucketing.committedWaves(spark, d) == Seq(0, 1, 2),
      s"both appends must commit: ${Bucketing.committedWaves(spark, d)}")
    assert(Bucketing.leasedWaves(spark, d).isEmpty)
    val st = VectorIndex.stats(spark, prefix)
    assert(st.totalRows == corpus.count() + b1.count() + b2.count() &&
      st.abandonedWaves == 0, s"$st")
    for ((b, off) <- Seq((b1, 420000L), (b2, 430000L))) {
      val twins = b.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding"))
      val got = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
        prefix, minCos = 0.999).collect()
      assert(got.nonEmpty && got.forall(r =>
        r.getString(1) == "near_dup" &&
          r.getLong(2) >= off && r.getLong(2) < off + 10000L),
        s"writer at offset $off lost content: ${got.take(4).mkString(";")}")
    }
  }
}
