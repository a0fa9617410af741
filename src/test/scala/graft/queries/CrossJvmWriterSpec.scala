package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** Child-process appender for [[CrossJvmWriterSpec]]: attaches the text
  * index at `args(0)` under prefix `args(1)`, signals READY, waits for
  * GO, then appends three disjoint-content waves (id offsets derived
  * from `args(3)`), and exits 0. A real second JVM — its own
  * SparkSession, its own InMemoryCatalog, its own Hadoop committer —
  * sharing ONLY the filesystem with the parent spec. */
object CrossJvmAppendMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, prefix, sfDir, offStr, sync) = args
    val off = offStr.toLong
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("xjvm_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    DedupIndex.attach(spark, dir, prefix)
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 20 === 13).limit(10)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    new java.io.File(sync, "ready").createNewFile()
    val goDeadline = System.nanoTime + 120e9.toLong
    while (!new java.io.File(sync, "go").exists() &&
        System.nanoTime < goDeadline) Thread.sleep(100)
    (0 until 3).foreach { i =>
      DedupIndex.append(
        batch.select((col("doc_id") + off + i * 1000L).as("doc_id"),
          col("text")),
        "doc_id", "text", prefix)
    }
    spark.stop()
    sys.exit(0)
  }
}

/** CROSS-JVM cooperative multi-writer append — the residual the r15/r16
  * same-JVM work could not reach with thread mutexes: writer-private
  * staging ([[Bucketing.appendWave]] — per-file moves, then a manifest
  * commit) gives every writer a PRIVATE committer staging dir, so two
  * PROCESSES
  * appending to one index concurrently interleave safely with no lock —
  * wave leases coordinate their numbering through the shared filesystem
  * alone. This spec runs a genuine second JVM (ProcessBuilder) appending
  * three waves while the parent appends three more, overlapped via a
  * ready/go filesystem handshake.
  *
  * Catalog note (asserted here, documented on append): partition
  * METADATA is per-process with the in-memory catalog, so a session that
  * attached BEFORE another process's append must `RECOVER PARTITIONS` +
  * refresh to see the new wave directories — production deployments
  * share a metastore (the ADD PARTITION the writer already issued lands
  * there once for everyone). */
class CrossJvmWriterSpec extends SparkSpec {

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

  test("two PROCESSES appending concurrently both land (rename staging)") {
    val d = java.nio.file.Files.createTempDirectory("xjvm_idx").toString
    val sync = java.nio.file.Files.createTempDirectory("xjvm_sync").toFile
    val prefix = "xjvm_txt"
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)

    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd = Seq(javaBin, "-Xmx3g") ++ jdk17AddOpens ++ Seq(
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.queries.CrossJvmAppendMain",
      d, prefix, sfDir, "520000", sync.toString)
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

      // parent batch checkpointed BEFORE go, so both sides' appends
      // overlap on the write path, not the derivation
      val mine = docs.filter(col("doc_id") % 20 === 3).limit(10)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      new java.io.File(sync, "go").createNewFile()
      (0 until 3).foreach { i =>
        DedupIndex.append(
          mine.select((col("doc_id") + 510000L + i * 1000L).as("doc_id"),
            col("text")),
          "doc_id", "text", prefix)
      }
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS) &&
        proc.exitValue == 0, s"child failed:\n$logTail")

      // STALE-CATALOG WRITE-SIDE SELF-HEAL (r16 advisor): this session
      // never saw the child's ADD PARTITIONs, so an append carrying a
      // text the child already indexed would prune the child's waves out
      // of its novel-ch anti-join and re-insert the hash as novel —
      // appendStaged must RECOVER first (committed waves ⊄ catalog waves)
      val childBatch = docs.filter(col("doc_id") % 20 === 13).limit(10)
      val staleDup = childBatch.limit(1)
        .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      DedupIndex.append(staleDup, "doc_id", "text", prefix)
      val dupCh = staleDup.select(md5(col("text")).as("ch"))
        .collect().map(_.getString(0)).toSeq
      assert(spark.table(s"${prefix}_hashes")
        .where(col("ch").isin(dupCh: _*)).count() == dupCh.distinct.size,
        "stale-catalog append re-inserted an existing content hash")

      // per-process catalogs: pick up the CHILD's partitions (production
      // shares a metastore; the writer's ADD PARTITION lands there once) —
      // redundant after the self-heal above, kept as the documented
      // reader-side recipe
      Seq("hashes", "bands", "shingles").foreach { t =>
        spark.sql(s"ALTER TABLE ${prefix}_$t RECOVER PARTITIONS")
        spark.catalog.refreshTable(s"${prefix}_$t")
      }

      assert(Bucketing.committedWaves(spark, d) == (0 to 7),
        s"six appends + build + stale-dup append must commit: " +
          s"${Bucketing.committedWaves(spark, d)}")
      assert(Bucketing.leasedWaves(spark, d).isEmpty,
        "committed appends must release their leases")
      val st = DedupIndex.stats(spark, prefix)
      assert(st.docs == corpus.count() + 3 * mine.count() +
          3 * childBatch.count() + 1 &&
        st.abandonedWaves == 0 && st.stagingDirs == 0, s"$st")

      // BOTH processes' content serves: exact twins probe to partners in
      // the right id ranges. Twin ids live FAR from every appended id —
      // an id that collides with an index row is treated as that row's
      // own replay by the probe's batch-id anti-join (by design), which
      // would mask the content check
      for (off <- Seq(510000L, 520000L)) {
        val twins = docs
          .filter(col("doc_id") % 20 === (if (off == 510000L) 3 else 13))
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
