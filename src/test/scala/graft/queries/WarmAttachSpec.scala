package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** The cold-start mitigation (r16 verdict item 3): `warm()` pulls an
  * attached index's bytes through the page cache at sequential bandwidth
  * so the FIRST serving probe doesn't pay them as scattered reads inside
  * its latency (the measured 2.8–9× cold penalty, BENCH_NOTES r16 —
  * bytes, not listing). Correctness here; the decade A/B is recorded in
  * BENCH_NOTES. */
class WarmAttachSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  private def diskBytes(dir: String, subs: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    subs.map { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else {
        var n = 0L
        val it = fs.listFiles(p, true)
        while (it.hasNext) n += it.next().getLen
        n
      }
    }.sum
  }

  test("text warm() reads exactly the on-disk bytes and changes no verdict") {
    val d = java.nio.file.Files.createTempDirectory("warm_txt").toString
    val prefix = "warm_txt"
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    DedupIndex.remove(spark, Seq(3L), prefix) // tombs warm too
    val batch = docs.filter(col("doc_id") % 10 === 3).limit(10)
    val before = DedupIndex.incrementalDedup(batch, "doc_id", "text",
      prefix).collect().map(_.toString).sorted.toSeq
    val warmed = DedupIndex.warm(spark, prefix)
    assert(warmed == diskBytes(d,
      Seq("hashes", "bands", "shingles", "meta", "tombs")),
      s"warm() must pull every index byte once: $warmed")
    assert(warmed > 0)
    val after = DedupIndex.incrementalDedup(batch, "doc_id", "text",
      prefix).collect().map(_.toString).sorted.toSeq
    assert(after == before, "warm() changed verdicts")
  }

  test("vector warm() covers data AND model tables") {
    val d = java.nio.file.Files.createTempDirectory("warm_vec").toString
    val prefix = "warm_vec"
    VectorIndex.build(emb.filter(col("vec_id") % 7 =!= 3), "vec_id",
      "embedding", d, minCos = 0.35, prefix = prefix)
    val warmed = VectorIndex.warm(spark, prefix)
    assert(warmed == diskBytes(d, Seq("vecs", "bands", "cells", "pqcodes",
      "cents", "pqbooks", "meta", "tombs")) && warmed > 0, s"$warmed")
  }

  test("warm() carries the session Hadoop conf to its executor tasks (mos:// store)") {
    // the r17 advisor's medium: warm tasks built a BARE `new
    // Configuration()`, dropping the session's fs.<scheme>.impl
    // registration — so warm() threw 'No FileSystem for scheme: mos' on
    // the exact substrate (object stores) the cold-start fix targets.
    // A mos:// index warming end-to-end proves the session conf (and
    // with it spark.hadoop.* credentials on a real store) now rides
    // along.
    spark.sparkContext.hadoopConfiguration.set("fs.mos.impl",
      classOf[graft.sources.MockObjectStoreFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("warm_mos").toString
    val d = "mos://" + local
    val prefix = "warm_mos"
    DedupIndex.build(docs.limit(60), "doc_id", "text", d, prefix = prefix)
    val warmed = DedupIndex.warm(spark, prefix)
    assert(warmed == diskBytes(d,
      Seq("hashes", "bands", "shingles", "meta", "tombs")) && warmed > 0,
      s"mos:// warm read $warmed bytes")
  }
}
