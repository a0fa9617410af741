package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** The r16 grain story (r15 verdict item 1): the serving indexes'
  * hash-partition grain is (a) AUTO-SIZED from the corpus at build — a
  * static grain of 64 was the old default, and the r15 1000×-decade
  * series measured the consequence (probe wall 1.13 → 3.57 s across one
  * decade at fixed grain) — and (b) RE-SIZABLE after the fact: `compact`
  * accepts a grain override and re-partitions during the rewrite it
  * already does, so an outgrown index is corrected without the original
  * corpus and without retraining. Grain must be INVISIBLE to results:
  * every test pins verdict/ANN parity across grains. Grain 0 (the removed
  * flat layout) is refused at build and at attach. */
class GrainSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  test("autoGrain reproduces the measured decade calibration and caps at scale") {
    // the r14/r15 series' operating points: 64 was measured-good at 500k
    // docs and measured-bad at 5M, where 512 recovered the probe wall
    assert(Bucketing.autoGrain(1L) == 16, "tiny corpora floor at MinGrain")
    assert(Bucketing.autoGrain(500L) == 16)
    assert(Bucketing.autoGrain(500000L) == 64)
    assert(Bucketing.autoGrain(5000000L) == 512)
    assert(Bucketing.autoGrain(100000000000L) == 65536,
      "100B rows cap at MaxGrain")
    // power-of-two rounding keeps successive re-grains stable
    assert(Bucketing.autoGrain(4900000L) == Bucketing.autoGrain(5100000L))
  }

  // ---- text index -------------------------------------------------------

  test("text index: build auto-sizes pvals; grain is invisible to verdicts") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val batch = docs.filter(col("doc_id") % 10 === 3).unionAll(
      corpus.filter(col("doc_id") % 100 === 4)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    val dA = java.nio.file.Files.createTempDirectory("grain_txt_a").toString
    DedupIndex.build(corpus, "doc_id", "text", dA, prefix = "grain_txt")
    assert(DedupIndex.pvalsOf(spark, "grain_txt") ==
      Bucketing.autoGrain(corpus.count()),
      "default build did not auto-size the grain from corpus rows")
    val d64 = java.nio.file.Files.createTempDirectory("grain_txt_64").toString
    DedupIndex.build(corpus, "doc_id", "text", d64,
      prefix = "grain_txt64", pvals = 64)
    def verdicts(pfx: String) = DedupIndex
      .incrementalDedup(batch, "doc_id", "text", pfx)
      .collect().map(_.toString).sorted.toSeq
    assert(verdicts("grain_txt") == verdicts("grain_txt64"),
      "serving verdicts depended on the partition grain")
  }

  test("text index: compact re-grains (explicit and auto) with bit-identical serving") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 3 &&
      col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 3).unionAll(
      corpus.filter(col("doc_id") % 100 === 4)
        .select((col("doc_id") + 210000L).as("doc_id"), col("text")))
    val d = java.nio.file.Files.createTempDirectory("grain_rg").toString
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = "grain_rg")
    assert(DedupIndex.pvalsOf(spark, "grain_rg") == 16) // 450-doc corpus
    // grow + takedown so the re-grain rewrite also folds a wave and
    // materializes a removal
    val wave = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 220000L).as("doc_id"), col("text"))
    DedupIndex.append(wave, "doc_id", "text", "grain_rg")
    val removed = corpus.agg(min("doc_id")).head().getLong(0)
    DedupIndex.remove(spark, Seq(removed), "grain_rg")
    def probe() = DedupIndex
      .incrementalDedup(batch, "doc_id", "text", "grain_rg")
      .collect().map(_.toString).sorted.toSeq
    val before = probe()

    val d2 = java.nio.file.Files.createTempDirectory("grain_rg2").toString
    DedupIndex.compact(spark, d2, "grain_rg", pvals = 64)
    assert(DedupIndex.pvalsOf(spark, "grain_rg") == 64,
      "compact did not record the new grain in meta")
    // the DISK layout reflects the new grain: pch values beyond the old
    // 16-grain range exist under the compacted wave-0 directories
    val pchVals = new java.io.File(s"$d2/hashes").listFiles()
      .filter(_.getName.startsWith("wave=")).flatMap(_.listFiles())
      .map(_.getName).filter(_.startsWith("pch="))
      .map(_.stripPrefix("pch=").toInt)
    assert(pchVals.max >= 16,
      s"re-grained layout still confined to the old grain: ${pchVals.sorted.toSeq}")
    assert(probe() == before, "re-graining changed serving verdicts")

    // a fresh session attaches the re-grained artifact and agrees
    Seq("hashes", "bands", "shingles", "meta", "tombs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS grain_rg_$t"))
    val fresh = spark.newSession()
    DedupIndex.attach(fresh, d2, "grain_rg")
    val rows = batch.collect().toSeq
    val freshBatch = fresh.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      batch.schema)
    val freshGot = DedupIndex
      .incrementalDedup(freshBatch, "doc_id", "text", "grain_rg")
      .collect().map(_.toString).sorted.toSeq
    assert(freshGot == before, "fresh-session attach of re-grained index diverged")

    // AUTO re-grain resolves the grain from the LIVE doc count
    val d3 = java.nio.file.Files.createTempDirectory("grain_rg3").toString
    val liveDocs = DedupIndex.stats(fresh, "grain_rg").liveDocs
    DedupIndex.compact(fresh, d3, "grain_rg", pvals = DedupIndex.AutoPvals)
    assert(DedupIndex.pvalsOf(fresh, "grain_rg") ==
      Bucketing.autoGrain(liveDocs),
      "AutoPvals compact did not size the grain from live rows")
  }

  test("grain 0 builds and meta-less or grain-0 attaches are refused") {
    val corpus = docs.filter(col("doc_id") % 50 === 1)
    val dT = java.nio.file.Files.createTempDirectory("grain_zero_t").toString
    val eT = intercept[IllegalArgumentException] {
      DedupIndex.build(corpus, "doc_id", "text", dT, prefix = "grain_zt",
        pvals = 0)
    }
    assert(eT.getMessage.contains("Auto sentinel"), eT.getMessage)
    val vecs = emb.filter(col("vec_id") % 20 === 1)
    val dV = java.nio.file.Files.createTempDirectory("grain_zero_v").toString
    val eV = intercept[IllegalArgumentException] {
      VectorIndex.build(vecs, "vec_id", "embedding", dV, minCos = 0.35,
        prefix = "grain_zv", pcells = 0)
    }
    assert(eV.getMessage.contains("Auto sentinel"), eV.getMessage)

    // a healthy build whose meta row is deleted (the flat layout's shape)
    // or rewritten with grain 0: attach refuses both, naming the remedy
    DedupIndex.build(corpus, "doc_id", "text", dT, prefix = "grain_zt")
    VectorIndex.build(vecs, "vec_id", "embedding", dV, minCos = 0.35,
      prefix = "grain_zv")
    def refused(attach: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](attach)
      assert(e.getMessage.contains("rebuild it from the corpus"),
        e.getMessage)
    }
    val zeroed = spark.read.parquet(s"$dV/meta")
      .withColumn("pcells", lit(0)).collect()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dT/meta"))
    spark.createDataFrame(
      java.util.Arrays.asList(zeroed: _*),
      spark.read.parquet(s"$dV/meta").schema)
      .write.mode("overwrite").parquet(s"$dV/meta")
    val fresh = spark.newSession()
    refused(DedupIndex.attach(fresh, dT, "grain_zt"))
    refused(VectorIndex.attach(fresh, dV, "grain_zv"))
  }

  // ---- vector index -----------------------------------------------------

  test("vector index: build auto-sizes pcells; compact re-grains with verdict and ANN parity") {
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    val batch = emb.filter(col("vec_id") % 7 === 3).unionAll(
      corpus.filter(col("vec_id") % 100 === 4)
        .select((col("vec_id") + 240000L).as("vec_id"), col("embedding")))
    val queries = emb.filter(col("vec_id") % 100 === 7)
    val d = java.nio.file.Files.createTempDirectory("grain_vec").toString
    VectorIndex.build(corpus, "vec_id", "embedding", d, minCos = 0.35,
      prefix = "grain_vec")
    assert(VectorIndex.meta(spark, "grain_vec").pcells ==
      Bucketing.autoGrain(corpus.count()),
      "default build did not auto-size pcells")
    // grow + takedown, then re-grain via compact
    val wave = emb.filter(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 250000L).as("vec_id"), col("embedding"))
    VectorIndex.append(wave, "vec_id", "embedding", "grain_vec")
    val removed = corpus.agg(min("vec_id")).head().getLong(0)
    VectorIndex.remove(spark, Seq(removed), "grain_vec")
    def verdicts() = VectorIndex
      .incrementalDedup(batch, "vec_id", "embedding", "grain_vec")
      .collect().map(_.toString).sorted.toSeq
    def top() = VectorIndex
      .knn(queries, "vec_id", "embedding", k = 5, "grain_vec")
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val (wantV, wantK) = (verdicts(), top())

    val d2 = java.nio.file.Files.createTempDirectory("grain_vec2").toString
    VectorIndex.compact(spark, d2, "grain_vec", pcells = 64)
    assert(VectorIndex.meta(spark, "grain_vec").pcells == 64,
      "compact did not record the new pcells in meta")
    assert(verdicts() == wantV, "re-graining changed dedup verdicts")
    assert(top() == wantK, "re-graining changed ANN top-k")
    // tombstone materialized, grain recorded, fresh session agrees
    assert(!spark.catalog.tableExists("grain_vec_tombs"))
    Seq("meta", "cents", "pqbooks", "vecs", "cells", "bands", "pqcodes")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS grain_vec_$t"))
    val fresh = spark.newSession()
    VectorIndex.attach(fresh, d2, "grain_vec")
    assert(VectorIndex.meta(fresh, "grain_vec").pcells == 64)
    val qRows = queries.collect().toSeq
    val freshQ = fresh.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(qRows).asJava),
      queries.schema)
    assert(VectorIndex.knn(freshQ, "vec_id", "embedding", k = 5, "grain_vec")
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq == wantK,
      "fresh-session ANN over the re-grained index diverged")
  }

  test("vector index: auto re-grain compact sizes pcells from live rows") {
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    val batch = emb.filter(col("vec_id") % 7 === 3).limit(5)
    val d = java.nio.file.Files.createTempDirectory("grain_vup").toString
    VectorIndex.build(corpus, "vec_id", "embedding", d, minCos = 0.35,
      prefix = "grain_vup", pcells = 64)
    assert(VectorIndex.meta(spark, "grain_vup").pcells == 64)
    def verdicts() = VectorIndex
      .incrementalDedup(batch, "vec_id", "embedding", "grain_vup")
      .collect().map(_.toString).sorted.toSeq
    val want = verdicts()
    val d2 = java.nio.file.Files.createTempDirectory("grain_vup2").toString
    VectorIndex.compact(spark, d2, "grain_vup",
      pcells = VectorIndex.AutoPcells)
    val m = VectorIndex.meta(spark, "grain_vup")
    assert(m.pcells == Bucketing.autoGrain(corpus.count()),
      s"auto re-grain sized pcells=${m.pcells}")
    assert(Bucketing.committedWaves(spark, d2) == Seq(0))
    assert(verdicts() == want, "auto re-grain changed verdicts")
  }
}
