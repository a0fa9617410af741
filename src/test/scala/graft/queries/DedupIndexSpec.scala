package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted ingest-dedup serving story: build the index once, then a
  * session whose catalog has FORGOTTEN the tables (the new-JVM scenario —
  * an in-memory catalog loses all metadata across restarts while the
  * external-table files survive) re-attaches the artifact and serves
  * q48-semantics verdicts bit-identically — with no corpus recomputation
  * and no exchange over the corpus side of any probe join. */
class DedupIndexSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")
  private def isBatch = col("doc_id") % 10 === 3

  /** The incoming batch: the %10==3 slice plus a few RE-IDDED copies of
    * corpus documents — sf0.001 has no natural exact-duplicate texts, and
    * the fixture must exercise all three verdicts. */
  private def batchOf(d: org.apache.spark.sql.DataFrame) =
    d.filter(isBatch).unionAll(
      d.filter(col("doc_id") % 100 === 4)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))

  private lazy val indexDir = {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx").toString
    DedupIndex.build(docs.filter(!isBatch), "doc_id", "text", d)
    d
  }

  /** Simulate a new cluster: drop the catalog entries (external tables —
    * the data files survive, exactly like an in-memory catalog dying with
    * its JVM) and hand back a fresh session with clean session state. */
  private def freshServingSession() = {
    indexDir // ensure built
    Seq("dedup_idx_hashes", "dedup_idx_bands", "dedup_idx_shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val fresh = spark.newSession()
    assert(!fresh.catalog.tableExists("dedup_idx_bands"),
      "catalog entry survived the drop; the test would not prove re-attach")
    fresh
  }

  test("a fresh catalog serves verdicts bit-identically off the persisted index") {
    val want = TextOps
      .incrementalDedup(batchOf(docs), docs.filter(!isBatch),
        "doc_id", "text")
      .collect().map(_.toString).toSeq

    val fresh = freshServingSession()
    DedupIndex.attach(fresh, indexDir)
    val batch = batchOf(Tables.load(fresh, sfDir, "documents")
      .select("doc_id", "text"))
    val got = DedupIndex.incrementalDedup(batch, "doc_id", "text")
      .collect().map(_.toString).toSeq
    assert(got == want, "persisted-index verdicts diverged from in-session form")
    assert(want.exists(_.contains("near_dup")) &&
      want.exists(_.contains("exact_dup")) && want.exists(_.contains("new")),
      s"degenerate fixture: all three verdicts should occur")
  }

  test("the probe plan never scans the corpus source and never shuffles the index side") {
    val fresh = freshServingSession()
    DedupIndex.attach(fresh, indexDir)
    // batch as a LOCAL relation: any file scan in the plan would have to
    // be the index tables — a documents.parquet scan = corpus recompute
    val rows = batchOf(docs).collect().toSeq
    val batch = fresh.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      docs.schema)
    // plain (non-adaptive) plan so the tree is traversable without query
    // stages; broadcast off so the candidate join exercises the bucketed
    // SMJ path the 100 TB regime uses
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = DedupIndex.incrementalDedup(batch, "doc_id", "text")
      val exec = served.queryExecution.executedPlan
      val scans = exec.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scans at all — index tables unused?")
      assert(scans.forall(_.toString.contains("dedup_idx")),
        s"plan scans a non-index source (corpus recomputation):\n${scans.mkString("\n")}")
      assert(scans.forall(_.bucketedScan),
        "an index table scan lost its bucket layout")
      // no exchange may sit between an index scan and its probe join: the
      // corpus side of every join must arrive exchange-free (shuffles of
      // batch-proportional POST-join results are legitimate and expected)
      def scanBeforeJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case _: org.apache.spark.sql.execution.FileSourceScanExec => true
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case other => other.children.exists(scanBeforeJoin)
        }
      val shuffledIndex = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if scanBeforeJoin(e.child) => e
      }
      assert(shuffledIndex.isEmpty,
        s"index side re-shuffled before its probe join:\n${shuffledIndex.mkString("\n")}")
      assert(served.count() == rows.length, "one verdict per batch doc")
    } finally {
      fresh.conf.unset("spark.sql.adaptive.enabled")
      fresh.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("the streaming ingest loop serves off the persisted index") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark0.sqlContext
    indexDir // ensure built
    DedupIndex.attach(spark, indexDir, prefix = "dedup_idx_stream")
    val rows = batchOf(docs).collect().toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    input.addData(rows.map(r => (r.getLong(0), r.getString(1))))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-didx").toString
    graft.streaming.EventStream.runIncrementalDedupIndexed(
      input.toDF().toDF("doc_id", "text"), "dedup_idx_stream",
      "doc_id", "text", ckpt) { (verdicts, _) =>
      got ++= verdicts.collect().map(_.toString)
    }
    val want = TextOps
      .incrementalDedup(batchOf(docs), docs.filter(!isBatch),
        "doc_id", "text")
      .collect().map(_.toString).toSeq
    assert(got.toSeq == want,
      "streaming persisted-index verdicts diverged from the batch form")
  }

  test("append of novel docs serves verdicts bit-identical to a full rebuild") {
    // a PRIVATE index copy — append mutates tables
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_app").toString
    val prefix = "dedup_idx_app"
    val corpus = docs.filter(!isBatch)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)

    // appended wave: novel content (the %10==3 slice — disjoint from the
    // corpus; DedupIndexSpec's main fixture shows it carries no exact
    // twin of the corpus)
    val wave = docs.filter(isBatch)
    DedupIndex.append(wave, "doc_id", "text", prefix)

    // the NEXT batch: re-idded copies of wave docs (exact dups of the
    // appended content) + re-idded corpus docs + untouched novel ids
    val next = wave.filter(col("doc_id") % 100 === 3)
      .select((col("doc_id") + 300000L).as("doc_id"), col("text"))
      .unionAll(docs.filter(!isBatch && col("doc_id") % 100 === 4)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
    val got = DedupIndex.incrementalDedup(next, "doc_id", "text", prefix)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val want = TextOps
      .incrementalDedup(next, corpus.unionAll(wave), "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got == want,
      "appended index diverged from the corpus∪wave rebuild")
    // the appended wave is actually visible: some partner id is a wave id
    assert(got.exists(r => r.contains("exact_dup")),
      "fixture degenerate: no exact dup of appended content")

    // more append waves (each adds a file set per table), then compact:
    // fewer files, identical verdicts. Novel texts (salted) so the
    // rebuild-parity reference `want` for `next` is unaffected — their
    // shingles/hashes exist in both the appended and compacted index.
    Seq(500000L, 600000L).foreach { off =>
      DedupIndex.append(
        docs.filter(col("doc_id") % 10 === (off / 100000L - 1))
          .select((col("doc_id") + off).as("doc_id"),
            concat(col("text"), lit(s" salt$off")).as("text")),
        "doc_id", "text", prefix)
    }
    // partitioned tables nest part- files under pch=N/ directories
    def partFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      walk(new java.io.File(p))
    }
    val beforeFiles = partFiles(s"$d/hashes")
    val cd = java.nio.file.Files.createTempDirectory("dedup_idx_cmp").toString
    DedupIndex.compact(spark, cd, prefix, prefix)
    assert(partFiles(s"$cd/hashes") < beforeFiles,
      s"compaction did not shrink hashes files ($beforeFiles)")
    val gotC = DedupIndex.incrementalDedup(next, "doc_id", "text", prefix)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val wantC = TextOps.incrementalDedup(next,
      corpus.unionAll(wave).unionAll(
        Seq(500000L, 600000L).map(off =>
          docs.filter(col("doc_id") % 10 === (off / 100000L - 1))
            .select((col("doc_id") + off).as("doc_id"),
              concat(col("text"), lit(s" salt$off")).as("text")))
          .reduce(_.unionAll(_))),
      "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(gotC == wantC, "compacted index diverged from the rebuild")
    // compacting INTO the (now-live) location must refuse
    val err = intercept[IllegalArgumentException] {
      DedupIndex.compact(spark, cd, prefix, prefix)
    }
    assert(err.getMessage.contains("live index location"))
  }

  test("removed documents vanish from every verdict path; compact materializes the removal") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_rm").toString
    val prefix = "dedup_idx_rm"
    val corpus = docs.filter(!isBatch)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)

    // the batch: re-idded exact copies of corpus docs — before removal
    // every one reads exact_dup with its source as the partner
    val srcIds = corpus.filter(col("doc_id") % 100 === 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.take(3)
    val batch = corpus
      .filter(col("doc_id").isin(srcIds.map(java.lang.Long.valueOf): _*))
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
    val before = DedupIndex.incrementalDedup(batch, "doc_id", "text", prefix)
      .collect()
    assert(before.forall(_.getString(1) == "exact_dup") &&
      before.forall(r => srcIds.contains(r.getLong(2))),
      s"fixture degenerate: ${before.mkString(";")}")

    DedupIndex.remove(spark, srcIds.toSeq, prefix)
    val after = DedupIndex.incrementalDedup(batch, "doc_id", "text", prefix)
      .collect()
    assert(after.forall(r => r.isNullAt(2) || !srcIds.contains(r.getLong(2))),
      s"a removed id survived as a partner: ${after.mkString(";")}")

    // the 100 TB statement: deletion costs NO exchange on the index side
    // — the tombstone set broadcasts into LeftAnti joins that preserve
    // each scan's bucketed partitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = DedupIndex.incrementalDedup(batch, "doc_id", "text",
        prefix).queryExecution.executedPlan
      val antis = exec.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => b
      }
      assert(antis.nonEmpty, "no broadcast anti-join in the probe plan")
      def idxScanBeforeSmj(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.tableIdentifier.exists(_.table.startsWith(prefix))
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
              if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
            b.children.exists(idxScanBeforeSmj) // the anti-join is transparent
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case other => other.children.exists(idxScanBeforeSmj)
        }
      val shuffled = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if idxScanBeforeSmj(e.child) => e
      }
      assert(shuffled.isEmpty,
        s"tombstone filtering re-shuffled the index side:\n${shuffled.mkString("\n")}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // sf0.001 has no natural exact-duplicate texts (fixture comment), so
    // with the only copy removed the exact path must not fire
    assert(after.forall(_.getString(1) != "exact_dup"),
      "exact verdict against a removed partner")

    // removal survives a catalog wipe: a fresh session re-attaches the
    // index AND its tombstones
    Seq("hashes", "bands", "shingles", "meta", "tombs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val fresh = spark.newSession()
    DedupIndex.attach(fresh, d, prefix)
    val batchF = batch.collect().toSeq
    val freshBatch = fresh.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(batchF).asJava),
      batch.schema)
    val got = DedupIndex.incrementalDedup(freshBatch, "doc_id", "text",
      prefix).collect().map(_.toString).sorted.toSeq
    assert(got == after.map(_.toString).sorted.toSeq,
      "re-attached tombstones served different verdicts")

    // compact materializes: rows gone physically, tombstones cleared,
    // verdicts unchanged
    val cd = java.nio.file.Files.createTempDirectory("dedup_idx_rmc").toString
    DedupIndex.compact(fresh, cd, prefix, prefix)
    assert(!fresh.catalog.tableExists(s"${prefix}_tombs"),
      "compaction kept the tombstone table")
    val liveHashes = fresh.table(s"${prefix}_hashes")
      .filter(col("exact_partner")
        .isin(srcIds.map(java.lang.Long.valueOf): _*)).count()
    assert(liveHashes == 0, "compacted hashes still carry removed partners")
    val gotC = DedupIndex.incrementalDedup(freshBatch, "doc_id", "text",
      prefix).collect().map(_.toString).sorted.toSeq
    assert(gotC == got, "compaction changed post-removal verdicts")
  }

  test("removing the min-id copy degrades exact_dup to near_dup j=1.0 against the next copy") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_rm2").toString
    val prefix = "dedup_idx_rm2"
    // corpus with TWO copies of the same text under different ids: the
    // hashes artifact keeps only the min id; removing it must fall back
    // to the near path against the surviving copy
    val src = docs.filter(!isBatch && col("doc_id") % 100 === 9).limit(1)
    val srcId = src.collect()(0).getLong(0)
    val corpus = docs.filter(!isBatch).unionAll(
      src.select((col("doc_id") + 700000L).as("doc_id"), col("text")))
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)

    val batch = src.select((col("doc_id") + 800000L).as("doc_id"),
      col("text"))
    val before = DedupIndex.incrementalDedup(batch, "doc_id", "text",
      prefix).collect()(0)
    assert(before.getString(1) == "exact_dup" && before.getLong(2) == srcId)

    DedupIndex.remove(spark, Seq(srcId), prefix)
    val after = DedupIndex.incrementalDedup(batch, "doc_id", "text",
      prefix).collect()(0)
    assert(after.getString(1) == "near_dup" &&
      after.getLong(2) == srcId + 700000L &&
      after.getDouble(3) == 1.0,
      s"expected near_dup j=1.0 vs the surviving copy, got $after")
  }

  test("an in-place rebuild clears tombstones on disk; retried removals don't double-count") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_rb").toString
    val prefix = "dedup_idx_rb"
    val corpus = docs.filter(!isBatch)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    val ids = corpus.limit(2).select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    DedupIndex.remove(spark, ids, prefix)
    // a RETRIED takedown must not inflate the tombstone count (the
    // stats compaction trigger)
    DedupIndex.remove(spark, ids, prefix)
    assert(DedupIndex.stats(spark, prefix).tombstones == 2,
      "retried removal double-counted tombstones")

    // periodic rebuild at the SAME location: removals reset — and a
    // FRESH session's attach must not re-arm the old takedown list
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    assert(DedupIndex.stats(spark, prefix).tombstones == 0,
      "rebuild kept tombstones in the building session")
    Seq("hashes", "bands", "shingles", "meta", "tombs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val fresh = spark.newSession()
    DedupIndex.attach(fresh, d, prefix)
    assert(!fresh.catalog.tableExists(s"${prefix}_tombs"),
      "fresh attach re-armed a pre-rebuild takedown list")
    val twin = Tables.load(fresh, sfDir, "documents")
      .select("doc_id", "text").filter(col("doc_id") === ids.head)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
    val v = DedupIndex.incrementalDedup(twin, "doc_id", "text", prefix)
      .collect()(0)
    assert(v.getString(1) == "exact_dup" && v.getLong(2) == ids.head,
      s"rebuilt index still hides a pre-rebuild removed id: $v")
  }

  test("stats track appends, removals, and compaction") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_st").toString
    val prefix = "dedup_idx_st"
    val corpus = docs.filter(!isBatch)
    val corpusN = corpus.count()
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    val s0 = DedupIndex.stats(spark, prefix)
    assert(s0.docs == corpusN && s0.liveDocs == corpusN &&
      s0.tombstones == 0 && s0.distinctHashes == corpusN &&
      s0.bandSkew >= 1.0 && s0.fileSets.values.forall(_ > 0), s"$s0")

    val wave = docs.filter(isBatch)
    val waveN = wave.count()
    DedupIndex.append(wave, "doc_id", "text", prefix)
    val s1 = DedupIndex.stats(spark, prefix)
    assert(s1.docs == corpusN + waveN, s"$s1")
    assert(s1.fileSets("shingles") > s0.fileSets("shingles"),
      "append did not add a file set")

    val removed = corpus.limit(3).select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    DedupIndex.remove(spark, removed, prefix)
    val s2 = DedupIndex.stats(spark, prefix)
    assert(s2.tombstones == 3 && s2.liveDocs == corpusN + waveN - 3, s"$s2")

    val cd = java.nio.file.Files.createTempDirectory("dedup_idx_stc").toString
    DedupIndex.compact(spark, cd, prefix, prefix)
    val s3 = DedupIndex.stats(spark, prefix)
    assert(s3.tombstones == 0 && s3.docs == corpusN + waveN - 3 &&
      s3.liveDocs == s3.docs, s"$s3")
    assert(s3.fileSets("shingles") < s1.fileSets("shingles"),
      "compaction did not shrink file sets")
  }

  test("an at-least-once replay of an epoch with INTRA-BATCH duplicates is bit-identical") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_rp").toString
    val prefix = "dedup_idx_rp"
    DedupIndex.build(docs.filter(!isBatch), "doc_id", "text", d,
      prefix = prefix)
    val sp = spark
    import sp.implicits._
    // the epoch: an EXACT intra-batch twin pair (identical text, both
    // novel vs the corpus) and a NEAR pair (9 of 10 tokens shared —
    // jaccard 7/9 over 3-gram shingles, well above the 0.5 threshold)
    val exactT = "replay twin pair shares this exact synthetic text verbatim"
    val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val epoch = Seq((910000L, exactT), (910001L, exactT),
      (910002L, near1), (910003L, near2)).toDF("doc_id", "text")
    val first = DedupIndex.incrementalDedup(epoch, "doc_id", "text", prefix)
      .collect().map(_.toString).sorted.toSeq
    assert(first.forall(_.contains("new")), s"fixture degenerate: $first")
    // ... all four admitted and appended (the appendAdmitted loop) ...
    DedupIndex.append(epoch, "doc_id", "text", prefix)
    // ... then a crash before the epoch commit REPLAYS the same epoch
    // against the grown index. Self-exclusion alone is not enough here:
    // 910001 would flip new→exact_dup(910000) and the near pair would
    // flip new→near_dup of each other. The probe core's batch-id
    // anti-join keeps the replay bit-identical (r14 advisor).
    val replay = DedupIndex.incrementalDedup(epoch, "doc_id", "text", prefix)
      .collect().map(_.toString).sorted.toSeq
    assert(replay == first,
      s"replayed verdicts diverged:\nfirst  $first\nreplay $replay")
    // exclusion — not absence — drives the identity: the appended rows
    // ARE served to a LATER (disjoint-id) batch — an exact twin of the
    // pair's text, and a THIRD near variant (novel hash, shared 3-grams)
    val near3 = "alpha beta gamma delta epsilon zeta eta theta iota mu"
    val next = Seq((920000L, exactT), (920001L, near3))
      .toDF("doc_id", "text")
    val v = DedupIndex.incrementalDedup(next, "doc_id", "text", prefix)
      .orderBy("doc_id").collect()
    assert(v(0).getString(1) == "exact_dup" && v(0).getLong(2) == 910000L,
      s"appended exact twin not served: ${v(0)}")
    assert(v(1).getString(1) == "near_dup" &&
      Set(910002L, 910003L).contains(v(1).getLong(2)),
      s"appended near twin not served: ${v(1)}")
  }

  test("replayed appends don't drift stats; compact collapses the duplicate rows") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_ra").toString
    val prefix = "dedup_idx_ra"
    val corpus = docs.filter(!isBatch)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    val wave = docs.filter(isBatch)
    DedupIndex.append(wave, "doc_id", "text", prefix)
    val s1 = DedupIndex.stats(spark, prefix)
    DedupIndex.append(wave, "doc_id", "text", prefix) // the replayed append
    val s2 = DedupIndex.stats(spark, prefix)
    assert(s2.docs == s1.docs && s2.liveDocs == s1.liveDocs &&
      s2.distinctHashes == s1.distinctHashes,
      s"replayed append drifted stats: $s1 -> $s2")
    // the duplicate rows are physically there (stats counts DISTINCT ids)
    val physRows = spark.table(s"${prefix}_shingles").count()
    assert(physRows > s2.docs, s"expected duplicate shingle rows, $physRows")
    // compact dedups by id: physical rows re-align with the logical count
    val cd = java.nio.file.Files.createTempDirectory("dedup_idx_rac").toString
    DedupIndex.compact(spark, cd, prefix, prefix)
    assert(spark.table(s"${prefix}_shingles").count() == s2.docs,
      "compact kept replayed duplicate rows")
    assert(DedupIndex.stats(spark, prefix).docs == s2.docs)
  }

  test("a reader between table commits sees a consistent index; the wave marker publishes atomically") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_tw").toString
    val prefix = "dedup_idx_tw"
    val corpus = docs.filter(!isBatch)
    DedupIndex.build(corpus, "doc_id", "text", d, prefix = prefix)
    val wave = docs.filter(isBatch) // novel content
    // a probe batch: exact twins of the WAVE — before any append: all new
    val twins = wave.filter(col("doc_id") % 100 === 3).limit(3)
      .select((col("doc_id") + 970000L).as("doc_id"), col("text"))
    val before = DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix)
      .collect().map(_.toString).sorted.toSeq
    assert(before.forall(_.contains("new")), s"fixture degenerate: $before")

    // CRASH MID-APPEND: stage the wave but stop after the FIRST table
    // commit (hashes written, bands/shingles missing — exactly the torn
    // state the r14 verdict flagged: exact-dup detection of the new wave
    // would work while near-dup silently misses)
    val staged = DedupIndex.appendStaged(wave, "doc_id", "text", prefix,
      maxTables = 1)
    assert(staged == 1, s"expected wave 1 staged, got $staged")
    // the interleaved reader: verdicts BIT-IDENTICAL to the committed
    // pre-append state — the staged wave is invisible without its marker
    val mid = DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix)
      .collect().map(_.toString).sorted.toSeq
    assert(mid == before,
      s"reader saw a torn index between table commits:\n$before\n$mid")
    // stats count only committed waves and DETECT the abandoned one
    val st = DedupIndex.stats(spark, prefix)
    assert(st.docs == corpus.count() && st.committedWave == 0 &&
      st.abandonedWaves == 1, s"$st")

    // the RETRY (a fresh append of the same wave) publishes atomically at
    // a HIGHER wave number — and the abandoned wave-1 garbage must stay
    // invisible even after the retry's marker lands (the committed-SET
    // filter, not a <=-horizon)
    DedupIndex.append(wave, "doc_id", "text", prefix)
    val after = DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix)
      .orderBy("doc_id").collect()
    assert(after.forall(_.getString(1) == "exact_dup"),
      s"published wave not served: ${after.mkString(";")}")
    // full-semantics check: verdicts equal a rebuild over corpus ∪ wave
    val want = TextOps.incrementalDedup(twins, corpus.unionAll(wave),
      "doc_id", "text").orderBy("doc_id").collect().map(_.toString).toSeq
    assert(after.map(_.toString).toSeq == want,
      "post-retry verdicts diverged from the corpus∪wave rebuild")
    val st2 = DedupIndex.stats(spark, prefix)
    assert(st2.docs == corpus.count() + wave.count() &&
      st2.committedWave == 2 && st2.abandonedWaves == 1, s"$st2")

    // compaction physically reclaims the abandoned garbage and restarts
    // the wave history at 0
    val cd = java.nio.file.Files.createTempDirectory("dedup_idx_twc").toString
    // force: the crashed appendStaged above left a young lease this
    // spec knows is dead (requireQuiesced would presume it live)
    DedupIndex.compact(spark, cd, prefix, prefix, force = true)
    val st3 = DedupIndex.stats(spark, prefix)
    assert(st3.docs == st2.docs && st3.committedWave == 0 &&
      st3.abandonedWaves == 0, s"$st3")
    val gotC = DedupIndex.incrementalDedup(twins, "doc_id", "text", prefix)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(gotC == want, "compaction changed post-retry verdicts")
  }

  test("compact inherits the source index's bucket count (non-default builds)") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_bk").toString
    val prefix = "dedup_idx_bk"
    DedupIndex.build(docs.filter(!isBatch).limit(200), "doc_id", "text", d,
      prefix = prefix, buckets = 5)
    val cd = java.nio.file.Files.createTempDirectory("dedup_idx_bkc").toString
    DedupIndex.compact(spark, cd, prefix, prefix)
    val spec = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_hashes"))
      .bucketSpec
    assert(spec.map(_.numBuckets).contains(5),
      s"compact rewrote a 5-bucket index at ${spec.map(_.numBuckets)}")
    assert(spark.table(s"${prefix}_meta").head().getAs[Int]("buckets") == 5,
      "compacted meta lost the inherited bucket count")
  }

  test("a small batch's probe prunes the partitioned index scans to its probed partitions") {
    val d = java.nio.file.Files.createTempDirectory("dedup_idx_prt").toString
    val prefix = "dedup_idx_prt"
    DedupIndex.build(docs.filter(!isBatch), "doc_id", "text", d,
      prefix = prefix)
    // per-table on-disk partition counts (each table hash-partitions on
    // its own key, so the counts differ); the pch/pbh/pdoc dirs nest
    // under the atomic-publish wave=N level
    def diskParts(sub: String, pc: String) =
      new java.io.File(s"$d/$sub").listFiles()
        .filter(_.getName.startsWith("wave="))
        .flatMap(_.listFiles())
        .count(_.getName.startsWith(s"$pc="))
    val parts = Map(
      s"${prefix}_hashes" -> diskParts("hashes", "pch"),
      s"${prefix}_bands" -> diskParts("bands", "pbh"),
      s"${prefix}_shingles" -> diskParts("shingles", "pdoc"))
    assert(parts.values.forall(_ > 4), s"fixture degenerate: $parts")

    // 2 re-idded corpus docs: they carry exact-hash partners AND band
    // candidates, so all three tables get probed with nonempty values
    val batch = docs.filter(!isBatch && col("doc_id") % 100 === 4).limit(2)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    // AQE's AdaptiveSparkPlanExec is a leaf to collect(), so inspect the
    // non-adaptive plan; pruning itself is planning-time either way
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = DedupIndex.incrementalDedup(batch, "doc_id", "text",
        prefix)
      val scans = served.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith(prefix)) => f
      }
      // hashes + shingles appear in the served plan; the BANDS scan runs
      // once at candidate-staging time (localCheckpoint) and so leaves
      // the final plan — its pruning uses the identical pruned() helper
      // and its correctness is covered by the parity check below
      assert(scans.size >= 2, s"expected hashes+shingles scans, got $scans")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        "an index scan carries no partition filter — nothing prunes")
      // collect() executes THIS queryExecution (count() would plan a new
      // one), so the collected scan nodes' metrics fill in
      served.collect()
      scans.foreach { f =>
        val table = f.tableIdentifier.get.table
        val read = f.metrics("numPartitions").value
        assert(read > 0 && read < parts(table),
          s"$table scan read $read of ${parts(table)} partitions — " +
            "pruning ineffective")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")

    // pruning must be invisible to results: verdicts equal the unpruned
    // in-session operator's over the same corpus
    val full = batchOf(docs)
    val want = TextOps.incrementalDedup(full, docs.filter(!isBatch),
        "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    val got = DedupIndex.incrementalDedup(full, "doc_id", "text", prefix)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "partition pruning changed serving verdicts")
  }

  test("attach refuses a markerless partitioned artifact (crashed build / pre-wave layout)") {
    val d = java.nio.file.Files.createTempDirectory("dedup_nomark").toString
    DedupIndex.build(docs.filter(col("doc_id") % 50 === 1), "doc_id",
      "text", d, prefix = "nomark_txt")
    graft.operators.Bucketing.clearWaveMarkers(spark, d)
    val fresh = spark.newSession()
    val e = intercept[IllegalArgumentException] {
      DedupIndex.attach(fresh, d, "nomark_txt")
    }
    assert(e.getMessage.contains("no committed wave marker"), e.getMessage)
    // re-publishing the build's wave heals the artifact
    graft.operators.Bucketing.commitWave(spark, d, 0)
    DedupIndex.attach(fresh, d, "nomark_txt")
    assert(DedupIndex.stats(fresh, "nomark_txt").docs > 0L)
  }
}
