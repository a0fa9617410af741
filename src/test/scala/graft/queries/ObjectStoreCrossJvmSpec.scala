package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** Two PROCESSES appending concurrently through the OBJECT-STORE commit
  * protocol (on `mos://` — [[ObjectStoreCommitSpec]]'s
  * store, [[CrossJvmWriterSpec]]'s harness): leases coordinate numbering
  * via conditional-put create, each wave publishes by per-file moves +
  * one manifest, and directory-rename-as-publish would THROW on this FS —
  * so both writers landing proves the protocol never needed it. The child
  * JVM inherits the store registration through `spark.*` system
  * properties, exactly how a cluster ships
  * `fs.s3a.impl` + job conf to executors/drivers. */
class ObjectStoreCrossJvmSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("two PROCESSES appending concurrently both land on mos:// (manifest commits)") {
    spark.sparkContext.hadoopConfiguration.set("fs.mos.impl",
      classOf[graft.sources.MockObjectStoreFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("mosx_idx").toString
    val d = "mos://" + local
    val sync = java.nio.file.Files.createTempDirectory("mosx_sync").toFile
    val prefix = "mosx_txt"
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)

    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd = Seq(javaBin, "-Xmx3g") ++ jdk17AddOpens ++ Seq(
      "-Dspark.ui.enabled=false",
      "-Dspark.hadoop.fs.mos.impl=" +
        classOf[graft.sources.MockObjectStoreFileSystem].getName,
      "-cp", sys.props("java.class.path"),
      "graft.queries.CrossJvmAppendMain",
      d, prefix, sfDir, "940000", sync.toString)
    val log = new java.io.File(sync, "child.log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    def logTail = scala.util.Try(
      scala.io.Source.fromFile(log).getLines().toSeq.takeRight(30)
        .mkString("\n")).getOrElse("<no log>")
    try {
      val ready = new java.io.File(sync, "ready")
      val bootDeadline = System.nanoTime + 240e9.toLong
      while (!ready.exists() && proc.isAlive &&
          System.nanoTime < bootDeadline) Thread.sleep(200)
      assert(ready.exists(), s"child never became ready:\n$logTail")

      val mine = docs.filter(col("doc_id") % 20 === 3).limit(10)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      new java.io.File(sync, "go").createNewFile()
      (0 until 3).foreach { i =>
        DedupIndex.append(
          mine.select((col("doc_id") + 950000L + i * 1000L).as("doc_id"),
            col("text")),
          "doc_id", "text", prefix)
      }
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS) &&
        proc.exitValue == 0, s"child failed:\n$logTail")

      assert(Bucketing.committedWaves(spark, d) == (0 to 6),
        s"all six appends + build must commit: " +
          s"${Bucketing.committedWaves(spark, d)}")
      assert(Bucketing.leasedWaves(spark, d).isEmpty)
      // every wave carries a manifest body (conditional-put commits)
      (0 to 6).foreach(w =>
        assert(Bucketing.waveManifest(spark, d, w).exists(_.nonEmpty),
          s"wave $w has no manifest"))

      // reader-side recipe unchanged: RECOVER to see the child's waves
      Seq("hashes", "bands", "shingles").foreach { t =>
        spark.sql(s"ALTER TABLE ${prefix}_$t RECOVER PARTITIONS")
        spark.catalog.refreshTable(s"${prefix}_$t")
      }
      val childBatch = docs.filter(col("doc_id") % 20 === 13).limit(10)
      val st = DedupIndex.stats(spark, prefix)
      assert(st.docs == corpus.count() + 3 * mine.count() +
          3 * childBatch.count() &&
        st.abandonedWaves == 0 && st.stagingDirs == 0, s"$st")
      for (off <- Seq(950000L, 940000L)) {
        val twins = docs
          .filter(col("doc_id") % 20 === (if (off == 950000L) 3 else 13))
          .limit(10)
          .select((col("doc_id") + off + 100000L).as("doc_id"), col("text"))
        val got = DedupIndex
          .incrementalDedup(twins, "doc_id", "text", prefix).collect()
        assert(got.nonEmpty && got.forall(r =>
          r.getString(1) == "exact_dup" &&
            r.getLong(2) >= off && r.getLong(2) < off + 10000L),
          s"process at offset $off lost content: " +
            got.take(4).mkString(";"))
      }
    } finally if (proc.isAlive) proc.destroyForcibly()
  }
}
