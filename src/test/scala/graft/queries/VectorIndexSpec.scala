package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted VECTOR serving story (r13 verdict item 1): build the
  * k-means/LSH/PQ index once, then a session whose catalog has FORGOTTEN
  * the tables (the new-JVM scenario — an in-memory catalog loses all
  * metadata across restarts while the external-table files survive)
  * re-attaches the artifact and serves ingest verdicts AND ANN top-k
  * bit-identically — with no k-means retraining, no PQ re-encoding, no
  * scan of the raw embeddings, and no exchange over the corpus side of
  * the band probe join. */
class VectorIndexSpec extends SparkSpec {

  private val MinCos = 0.35 // the q60/q63 τ — shared dup-graph regime

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")
  private def isBatch = col("vec_id") % 7 === 3

  /** The arriving batch: the %7==3 slice plus RE-IDDED copies of corpus
    * vectors — guaranteed cos=1.0 near-dups, so both verdicts occur. */
  private def batchOf(e: org.apache.spark.sql.DataFrame) =
    e.filter(isBatch).unionAll(
      e.filter(col("vec_id") % 100 === 4)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))

  private lazy val indexDir = {
    val d = java.nio.file.Files.createTempDirectory("vec_idx").toString
    VectorIndex.build(emb.filter(!isBatch), "vec_id", "embedding", d, MinCos)
    d
  }

  private def allTables = Seq("vec_idx_meta", "vec_idx_cents",
    "vec_idx_pqbooks", "vec_idx_vecs", "vec_idx_cells", "vec_idx_bands",
    "vec_idx_pqcodes")

  private def freshServingSession() = {
    indexDir // ensure built
    allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val fresh = spark.newSession()
    assert(!fresh.catalog.tableExists("vec_idx_bands"),
      "catalog entry survived the drop; the test would not prove re-attach")
    fresh
  }

  test("a fresh catalog serves ingest verdicts bit-identically off the persisted index") {
    val corpusIdx = VectorOps.index(emb.filter(!isBatch), "vec_id", "embedding")
    val batchIdx = VectorOps.index(batchOf(emb), "vec_id", "embedding")
    val want = VectorOps
      .semanticIncrementalCellsIndexed(corpusIdx, batchIdx, MinCos)
      .orderBy("vec_id").collect().map(_.toString).toSeq

    val fresh = freshServingSession()
    VectorIndex.attach(fresh, indexDir)
    val batch = batchOf(Tables.load(fresh, sfDir, "embeddings")
      .select("vec_id", "embedding"))
    val got = VectorIndex.incrementalDedup(batch, "vec_id", "embedding")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(got == want, "persisted-index verdicts diverged from in-session form")
    assert(want.exists(_.contains("near_dup")) && want.exists(_.contains("new")),
      "degenerate fixture: both verdicts should occur")
  }

  test("a fresh catalog serves PQ ANN top-k bit-identically off the persisted index") {
    val corpusIdx = VectorOps.index(emb.filter(!isBatch), "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 100 === 7)
    val want = VectorOps
      .knnPqIndexed(corpusIdx, VectorOps.index(queries, "vec_id", "embedding"),
        k = 5, m = 8, ksub = 16, rerank = 50, iters = 0)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(want.nonEmpty)

    val fresh = freshServingSession()
    VectorIndex.attach(fresh, indexDir)
    val freshQueries = Tables.load(fresh, sfDir, "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") % 100 === 7)
    val got = VectorIndex.knn(freshQueries, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(got == want, "persisted-index ANN diverged from in-session form")
  }

  test("batch-side probes=2 only widens the candidate set (verdict monotonicity)") {
    val fresh = freshServingSession()
    VectorIndex.attach(fresh, indexDir)
    val batch = batchOf(Tables.load(fresh, sfDir, "embeddings")
      .select("vec_id", "embedding"))
    val p1 = VectorIndex.incrementalDedup(batch, "vec_id", "embedding")
      .filter(col("verdict") === "near_dup").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val p2 = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
        probes = 2)
      .filter(col("verdict") === "near_dup").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(p1.subsetOf(p2),
      "a near-dup found with 1 probe must survive the widened 2-probe search")
  }

  test("append grows the index under the frozen quantizer; later probes see appended vectors") {
    // a PRIVATE index copy — append mutates tables, so the shared fixture
    // must stay untouched
    val dir = java.nio.file.Files.createTempDirectory("vec_idx_app").toString
    val prefix = "vec_idx_appb"
    VectorIndex.build(emb.filter(!isBatch), "vec_id", "embedding", dir,
      MinCos, prefix = prefix)

    // X: a re-idded copy of a corpus-EXCLUDED vector — novel at build time
    val x = emb.filter(isBatch && col("vec_id") % 100 === 3)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
      .limit(1)
    // before append: X's exact twin Y reports whatever the corpus says,
    // and the full batch verdicts are the un-appended reference
    val y = x.select((col("vec_id") + 1L).as("vec_id"), col("embedding"))
    val batch = batchOf(emb)
    val wantServed = VectorIndex.incrementalDedup(batch, "vec_id",
      "embedding", prefix).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    val before = VectorIndex.incrementalDedup(y, "vec_id", "embedding",
      prefix, minCos = 0.999).collect()
    assert(before.length == 1 && before(0).getAs[String]("verdict") == "new",
      s"fixture degenerate: Y already had a 0.999-partner in the corpus")

    VectorIndex.append(x, "vec_id", "embedding", prefix)
    val after = VectorIndex.incrementalDedup(y, "vec_id", "embedding",
      prefix, minCos = 0.999).collect()
    assert(after.length == 1 && after(0).getAs[String]("verdict") == "near_dup"
      && after(0).getAs[Long]("partner_id") == x.head().getLong(0),
      s"append invisible to the probe: ${after.toSeq}")

    // appending must not disturb verdicts whose partners were already
    // in the corpus (the frozen model scores everything identically);
    // batch rows whose BEST partner became the appended vector are the
    // one legitimate difference, so compare per-vec_id excluding them
    val xid = x.head().getLong(0)
    val served = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
      prefix).collect()
      .map(r => r.getLong(0) -> (r.toString, Option(r.get(2)))).toMap
    val switched = served.collect {
      case (vid, (_, Some(p))) if p == xid => vid
    }.toSet
    val servedRest = served.collect {
      case (vid, (s, _)) if !switched(vid) => vid -> s
    }
    assert(servedRest == (wantServed -- switched),
      "append changed verdicts unrelated to the appended vector")

    // ANN also sees the appended vector: its twin's top-1 is X at cos 1
    val top = VectorIndex.knn(y, "vec_id", "embedding", k = 1, prefix)
      .collect()
    assert(top.length == 1 && top(0).getAs[Long]("vec_id") == xid,
      s"appended vector missing from ANN serving: ${top.toSeq}")

    // two more append waves (novel ids), so compaction has accumulated
    // file sets to actually collapse
    Seq(600000L, 700000L).foreach { off =>
      VectorIndex.append(
        emb.filter(col("vec_id") % 50 === 7)
          .select((col("vec_id") + off).as("vec_id"), col("embedding")),
        "vec_id", "embedding", prefix)
    }

    // COMPACT the appended index: fewer files, verdicts and ANN
    // bit-identical, and a fresh session can attach the result
    val cdir = java.nio.file.Files.createTempDirectory("vec_idx_cmp").toString
    val cpfx = "vec_idx_cmpb"
    // partitioned tables nest part- files under pcell=N/ directories
    def partFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      walk(new java.io.File(p))
    }
    val beforeFiles = partFiles(s"$dir/vecs")
    VectorIndex.compact(spark, cdir, prefix, cpfx)
    val afterFiles = partFiles(s"$cdir/vecs")
    assert(afterFiles < beforeFiles,
      s"compaction did not shrink the file count ($beforeFiles -> $afterFiles)")
    val servedC = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
      cpfx).collect().map(_.toString).toSet
    val servedA = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
      prefix).collect().map(_.toString).toSet
    assert(servedC == servedA, "compaction changed serving verdicts")
    val fresh = spark.newSession()
    Seq("_meta", "_cents", "_pqbooks", "_vecs", "_cells", "_bands",
      "_pqcodes").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $cpfx$sfx"))
    VectorIndex.attach(fresh, cdir, cpfx)
    val topC = VectorIndex.knn(
      batchOf(Tables.load(fresh, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))).limit(3),
      "vec_id", "embedding", k = 1, cpfx).collect()
    assert(topC.nonEmpty, "compacted index unservable from a fresh session")

    // compacting INTO the live location must refuse
    val err = intercept[IllegalArgumentException] {
      VectorIndex.compact(spark, dir, prefix, prefix)
    }
    assert(err.getMessage.contains("live index location"))
  }

  test("removed vectors vanish from dedup partners and ANN results; compact materializes") {
    val d = java.nio.file.Files.createTempDirectory("vec_idx_rm").toString
    val prefix = "vec_idx_rmb"
    val corpus = emb.filter(!isBatch)
    VectorIndex.build(corpus, "vec_id", "embedding", d, MinCos,
      prefix = prefix)

    // re-idded copies of corpus vectors: cos = 1.0 near-dups whose best
    // partner is their source before removal
    val srcIds = corpus.filter(col("vec_id") % 100 === 4)
      .select("vec_id").collect().map(_.getLong(0)).sorted.take(3)
    val batch = corpus
      .filter(col("vec_id").isin(srcIds.map(java.lang.Long.valueOf): _*))
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    val before = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
      prefix).collect()
    assert(before.forall(r => r.getString(1) == "near_dup" &&
      srcIds.contains(r.getLong(2))),
      s"fixture degenerate: ${before.mkString(";")}")

    VectorIndex.remove(spark, srcIds.toSeq, prefix)
    val after = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
      prefix).collect()
    assert(after.forall(r => r.isNullAt(2) || !srcIds.contains(r.getLong(2))),
      s"a removed id survived as a dedup partner: ${after.mkString(";")}")

    // the 100 TB statement: deletion costs NO exchange on the index side
    // — the tombstone set broadcasts into a LeftAnti join that preserves
    // the scan's bucketed partitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
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
    val knnAfter = VectorIndex.knn(batch, "vec_id", "embedding", k = 5,
      prefix).collect()
    assert(knnAfter.nonEmpty &&
      knnAfter.forall(r => !srcIds.contains(r.getLong(1))),
      s"a removed id survived in ANN results: ${knnAfter.take(5).mkString(";")}")

    // removal survives a catalog wipe + re-attach
    Seq("meta", "cents", "pqbooks", "vecs", "cells", "bands", "pqcodes",
      "tombs").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    val fresh = spark.newSession()
    VectorIndex.attach(fresh, d, prefix)
    val rows = batch.collect().toSeq
    val freshBatch = fresh.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      batch.schema)
    val got = VectorIndex.incrementalDedup(freshBatch, "vec_id",
      "embedding", prefix).collect().map(_.toString).sorted.toSeq
    assert(got == after.map(_.toString).sorted.toSeq,
      "re-attached tombstones served different verdicts")

    // compact materializes: index rows physically gone, tombstones
    // cleared, verdicts unchanged
    val cd = java.nio.file.Files.createTempDirectory("vec_idx_rmc").toString
    VectorIndex.compact(fresh, cd, prefix, prefix)
    assert(!fresh.catalog.tableExists(s"${prefix}_tombs"),
      "compaction kept the tombstone table")
    assert(fresh.table(s"${prefix}_vecs")
      .filter(col("vec_id").isin(srcIds.map(java.lang.Long.valueOf): _*))
      .count() == 0, "compacted vecs still carry removed vectors")
    val gotC = VectorIndex.incrementalDedup(freshBatch, "vec_id",
      "embedding", prefix).collect().map(_.toString).sorted.toSeq
    assert(gotC == got, "compaction changed post-removal verdicts")
  }

  test("stats track appends, removals, and compaction") {
    val d = java.nio.file.Files.createTempDirectory("vec_idx_st").toString
    val prefix = "vec_idx_stb"
    val corpus = emb.filter(!isBatch)
    val corpusN = corpus.count()
    VectorIndex.build(corpus, "vec_id", "embedding", d, MinCos,
      prefix = prefix)
    val s0 = VectorIndex.stats(spark, prefix)
    assert(s0.corpusRowsAtBuild == corpusN && s0.totalRows == corpusN &&
      s0.appendedRows == 0 && s0.tombstones == 0 && s0.cells > 0 &&
      s0.cellSkew >= 1.0 && s0.maxCellRows >= s0.meanCellRows.toLong &&
      s0.fileSets.values.forall(_ > 0), s"$s0")

    val wave = corpus.filter(col("vec_id") % 100 === 6)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val waveN = wave.count()
    VectorIndex.append(wave, "vec_id", "embedding", prefix)
    val s1 = VectorIndex.stats(spark, prefix)
    assert(s1.totalRows == corpusN + waveN && s1.appendedRows == waveN,
      s"$s1")
    assert(s1.fileSets("cells") > s0.fileSets("cells"),
      "append did not add a file set")

    val removed = corpus.limit(3).select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    VectorIndex.remove(spark, removed, prefix)
    val s2 = VectorIndex.stats(spark, prefix)
    assert(s2.tombstones == 3 && s2.liveRows == corpusN + waveN - 3, s"$s2")

    val cd = java.nio.file.Files.createTempDirectory("vec_idx_stc").toString
    VectorIndex.compact(spark, cd, prefix, prefix)
    val s3 = VectorIndex.stats(spark, prefix)
    assert(s3.tombstones == 0 && s3.totalRows == corpusN + waveN - 3 &&
      s3.liveRows == s3.totalRows, s"$s3")
    assert(s3.fileSets("cells") < s1.fileSets("cells"),
      "compaction did not shrink file sets")
  }

  test("a small batch's probe prunes the partitioned index scan to its probed cells") {
    // small cells => many of them (k ≈ 27 at ~1.7k corpus rows), so a
    // 2-vector batch probes a strict subset of the pcell directories
    val dir = java.nio.file.Files.createTempDirectory("vec_idx_prt").toString
    val prefix = "vec_idx_prtb"
    VectorIndex.build(emb.filter(!isBatch), "vec_id", "embedding", dir,
      MinCos, prefix = prefix, targetCellRows = 64)
    // the pcell dirs nest under the atomic-publish wave=N level
    val diskParts = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.getName.startsWith("wave="))
      .flatMap(_.listFiles())
      .count(_.getName.startsWith("pcell="))
    assert(diskParts > 2, s"fixture degenerate: only $diskParts pcell dirs")

    val batch = emb.filter(isBatch).limit(2)
    // AQE's AdaptiveSparkPlanExec is a leaf to collect(), so inspect the
    // non-adaptive plan; pruning itself is planning-time either way
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = VectorIndex.incrementalDedup(batch, "vec_id", "embedding",
        prefix)
      val scans = served.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith(prefix)) => f
      }
      assert(scans.nonEmpty, "no index scans in the probe plan")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        "an index scan carries no pcell partition filter — nothing prunes")
      // collect() executes THIS queryExecution (count() would plan a new
      // one), so the collected scan nodes' metrics fill in
      served.collect()
      scans.foreach { f =>
        val read = f.metrics("numPartitions").value
        assert(read > 0 && read < diskParts,
          s"scan read $read of $diskParts partitions — pruning ineffective")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")

    // pruning must be invisible to results: verdicts equal the unpruned
    // in-session cell-sharded operator's at the same targetCellRows
    val fullBatch = batchOf(emb)
    val want = VectorOps.semanticIncrementalCellsIndexed(
        VectorOps.index(emb.filter(!isBatch), "vec_id", "embedding"),
        VectorOps.index(fullBatch, "vec_id", "embedding"), MinCos,
        targetCellRows = 64)
      .collect().map(_.toString).sorted.toSeq
    val got = VectorIndex.incrementalDedup(fullBatch, "vec_id", "embedding",
      prefix).collect().map(_.toString).sorted.toSeq
    assert(got == want, "partition pruning changed serving verdicts")
  }

  test("a reader between table commits sees a consistent index; the wave marker publishes atomically") {
    val d = java.nio.file.Files.createTempDirectory("vec_idx_tw").toString
    val prefix = "vec_idx_twb"
    val corpus = emb.filter(!isBatch)
    VectorIndex.build(corpus, "vec_id", "embedding", d, MinCos,
      prefix = prefix)
    val wave = emb.filter(isBatch && col("vec_id") % 10 === 3)
      .select((col("vec_id") + 960000L).as("vec_id"), col("embedding"))
    // probe batch: exact twins of the WAVE, probed at 0.999 — before any
    // append they are novel
    val twins = wave.limit(3)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    def probe() = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
      prefix, minCos = 0.999).collect().map(_.toString).sorted.toSeq
    def top1() = VectorIndex.knn(twins, "vec_id", "embedding", k = 1,
      prefix).collect().map(_.toString).sorted.toSeq
    val before = probe()
    val knnBefore = top1()
    assert(before.forall(_.contains("new")), s"fixture degenerate: $before")

    // CRASH MID-APPEND: stop after 2 of 4 table commits (vecs + bands
    // written; cells + pqcodes missing — dedup candidates present but the
    // ANN scoring universe torn, the exact shape the r14 verdict flagged)
    val staged = VectorIndex.appendStaged(wave, "vec_id", "embedding",
      prefix, maxTables = 2)
    assert(staged == 1, s"expected wave 1 staged, got $staged")
    assert(probe() == before,
      "dedup reader saw a torn index between table commits")
    assert(top1() == knnBefore,
      "ANN reader saw a torn index between table commits")
    val st = VectorIndex.stats(spark, prefix)
    assert(st.totalRows == corpus.count() && st.committedWave == 0 &&
      st.abandonedWaves == 1, s"$st")

    // the RETRY publishes atomically at a higher wave; the abandoned
    // wave-1 garbage stays invisible (committed-SET filter, not <=)
    VectorIndex.append(wave, "vec_id", "embedding", prefix)
    val after = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
      prefix, minCos = 0.999).collect()
    assert(after.forall(_.getString(1) == "near_dup"),
      s"published wave not served: ${after.mkString(";")}")
    val st2 = VectorIndex.stats(spark, prefix)
    assert(st2.totalRows == corpus.count() + wave.count() &&
      st2.committedWave == 2 && st2.abandonedWaves == 1, s"$st2")

    // compaction physically reclaims the abandoned garbage and restarts
    // the wave history at 0; verdicts unchanged
    val cd = java.nio.file.Files.createTempDirectory("vec_idx_twc").toString
    // force: the crashed appendStaged above left a young lease this
    // spec knows is dead (requireQuiesced would presume it live)
    VectorIndex.compact(spark, cd, prefix, prefix, force = true)
    val st3 = VectorIndex.stats(spark, prefix)
    assert(st3.totalRows == st2.totalRows && st3.committedWave == 0 &&
      st3.abandonedWaves == 0, s"$st3")
    val gotC = VectorIndex.incrementalDedup(twins, "vec_id", "embedding",
      prefix, minCos = 0.999).collect().map(_.toString).sorted.toSeq
    assert(gotC == after.map(_.toString).sorted.toSeq,
      "compaction changed post-retry verdicts")
  }

  test("an at-least-once replay of an epoch with INTRA-BATCH near-dups is bit-identical") {
    val d = java.nio.file.Files.createTempDirectory("vec_idx_rp").toString
    val prefix = "vec_idx_rpb"
    VectorIndex.build(emb.filter(!isBatch), "vec_id", "embedding", d,
      MinCos, prefix = prefix)
    // the epoch: two re-idded copies of the SAME corpus-excluded vector —
    // mutual cos-1.0 near-dups of each other, and (probed at 0.999) novel
    // vs the corpus
    val src = emb.filter(isBatch && col("vec_id") % 100 === 3).limit(1)
    val epoch = src.select((col("vec_id") + 930000L).as("vec_id"),
        col("embedding"))
      .unionAll(src.select((col("vec_id") + 930001L).as("vec_id"),
        col("embedding")))
    val ids = epoch.select("vec_id").collect().map(_.getLong(0)).sorted
    val first = VectorIndex.incrementalDedup(epoch, "vec_id", "embedding",
      prefix, minCos = 0.999).collect().map(_.toString).sorted.toSeq
    assert(first.forall(_.contains("new")), s"fixture degenerate: $first")
    // ... both admitted and appended (the appendAdmitted loop) ...
    VectorIndex.append(epoch, "vec_id", "embedding", prefix)
    // ... then a crash before the epoch commit REPLAYS the epoch against
    // the grown index. Self-exclusion alone would flip both new→near_dup
    // (each matches the OTHER's appended row at cos 1.0); the probe
    // core's batch-id anti-join keeps the replay bit-identical.
    val replay = VectorIndex.incrementalDedup(epoch, "vec_id", "embedding",
      prefix, minCos = 0.999).collect().map(_.toString).sorted.toSeq
    assert(replay == first,
      s"replayed verdicts diverged:\nfirst  $first\nreplay $replay")
    // exclusion — not absence — drives the identity: a LATER disjoint-id
    // twin is served the appended pair (min id wins the cos tie)
    val next = src.select((col("vec_id") + 940000L).as("vec_id"),
      col("embedding"))
    val v = VectorIndex.incrementalDedup(next, "vec_id", "embedding",
      prefix, minCos = 0.999).collect()(0)
    assert(v.getString(1) == "near_dup" && v.getLong(2) == ids.head,
      s"appended twin not served to a later batch: $v")
  }

  test("replayed appends don't drift stats; compact collapses the duplicate rows") {
    val d = java.nio.file.Files.createTempDirectory("vec_idx_ra").toString
    val prefix = "vec_idx_rab"
    val corpus = emb.filter(!isBatch)
    VectorIndex.build(corpus, "vec_id", "embedding", d, MinCos,
      prefix = prefix)
    val wave = corpus.filter(col("vec_id") % 100 === 6)
      .select((col("vec_id") + 950000L).as("vec_id"), col("embedding"))
    VectorIndex.append(wave, "vec_id", "embedding", prefix)
    val s1 = VectorIndex.stats(spark, prefix)
    VectorIndex.append(wave, "vec_id", "embedding", prefix) // the replay
    val s2 = VectorIndex.stats(spark, prefix)
    assert(s2.totalRows == s1.totalRows && s2.appendedRows == s1.appendedRows,
      s"replayed append drifted stats: $s1 -> $s2")
    val physRows = spark.table(s"${prefix}_cells").count()
    assert(physRows > s2.totalRows, s"expected duplicate cell rows, $physRows")
    val cd = java.nio.file.Files.createTempDirectory("vec_idx_rac").toString
    VectorIndex.compact(spark, cd, prefix, prefix)
    assert(spark.table(s"${prefix}_cells").count() == s2.totalRows,
      "compact kept replayed duplicate rows")
    assert(VectorIndex.stats(spark, prefix).totalRows == s2.totalRows)
  }

  test("the probe plan never scans the raw embeddings and never shuffles the index side") {
    val fresh = freshServingSession()
    VectorIndex.attach(fresh, indexDir)
    // batch as a LOCAL relation: any file scan in the plan must be the
    // index tables — an embeddings.parquet scan = corpus recomputation
    val rows = batchOf(emb).collect().toSeq
    val batch = fresh.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      emb.schema)
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = VectorIndex.incrementalDedup(batch, "vec_id", "embedding")
      val exec = served.queryExecution.executedPlan
      val scans = exec.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scans at all — index tables unused?")
      assert(scans.forall(_.toString.contains("vec_idx")),
        s"plan scans a non-index source (corpus recomputation):\n${scans.mkString("\n")}")
      assert(scans.forall(_.bucketedScan),
        "an index table scan lost its bucket layout")
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
      assert(served.count() == rows.length, "one verdict per batch vector")
    } finally {
      fresh.conf.unset("spark.sql.adaptive.enabled")
      fresh.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("rebuild retrains from the index's own vectors, bit-identical to a scratch build over the live set") {
    val sp = spark
    // dedicated prefixes/dirs: this test mutates (append/remove), so it
    // must not share the suite's fixture index
    val dA = java.nio.file.Files.createTempDirectory("vec_reb_src").toString
    val corpus = emb.filter(!isBatch && col("vec_id") % 5 =!= 0)
    VectorIndex.build(corpus, "vec_id", "embedding", dA, MinCos,
      prefix = "reb_src")
    // grow past build: append a novel-id wave, then tombstone one build
    // vector — rebuild must fold the wave in and drop the removal
    val wave = emb.filter(isBatch)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    VectorIndex.append(wave, "vec_id", "embedding", "reb_src")
    val removedId = corpus.agg(min("vec_id")).head().getLong(0)
    VectorIndex.remove(sp, Seq(removedId), "reb_src")

    val dR = java.nio.file.Files.createTempDirectory("vec_reb_out").toString
    VectorIndex.rebuild(sp, dR, prefix = "reb_src", outPrefix = "reb_out")

    // the counterfactual: a scratch build over the same live FLOAT set
    // with the same knobs (quantization is deterministic, so the indexed
    // frames match exactly and every derivation downstream must too)
    val dS = java.nio.file.Files.createTempDirectory("vec_reb_scr").toString
    VectorIndex.build(
      corpus.filter(col("vec_id") =!= removedId).unionAll(wave),
      "vec_id", "embedding", dS, MinCos, prefix = "reb_scr")

    val probe = batchOf(emb)
    def verdicts(pfx: String) = VectorIndex
      .incrementalDedup(probe, "vec_id", "embedding", pfx)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(verdicts("reb_out") == verdicts("reb_scr"),
      "rebuilt-index verdicts diverged from the scratch build")
    val queries = emb.filter(col("vec_id") % 100 === 7)
    def top(pfx: String) = VectorIndex
      .knn(queries, "vec_id", "embedding", k = 5, prefix = pfx)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(top("reb_out") == top("reb_scr"),
      "rebuilt-index ANN top-k diverged from the scratch build")

    // maintenance state resets: retrained quantizer at the LIVE row
    // count, appended mass folded in, tombstones gone (physically)
    val st = VectorIndex.stats(sp, "reb_out")
    assert(st.tombstones == 0L && st.appendedRows == 0L &&
      st.committedWave == 0 && st.abandonedWaves == 0, s"stats: $st")
    assert(st.corpusRowsAtBuild == st.totalRows,
      "rebuild meta must record the live set as its corpus")
    assert(sp.table("reb_out_vecs")
      .where(col("vec_id") === removedId).isEmpty,
      "tombstoned vector survived the rebuild")
    // a fresh session attaches the rebuilt artifact like any build output
    Seq("reb_out_meta", "reb_out_cents", "reb_out_pqbooks", "reb_out_vecs",
      "reb_out_cells", "reb_out_bands", "reb_out_pqcodes")
      .foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
    val fresh = sp.newSession()
    VectorIndex.attach(fresh, dR, "reb_out")
    val freshProbe = batchOf(Tables.load(fresh, sfDir, "embeddings")
      .select("vec_id", "embedding"))
    val freshGot = VectorIndex
      .incrementalDedup(freshProbe, "vec_id", "embedding", "reb_out")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(freshGot == verdicts("reb_scr"),
      "fresh-session attach of the rebuilt index diverged")
  }

  test("rebuild with outPrefix == prefix (in-place catalog replacement) serves the scratch-build verdicts") {
    val sp = spark
    // the r15 advisor's gap: the parity spec above rebuilds into a
    // DISTINCT prefix, but rebuild's DEFAULTS make outPrefix == prefix —
    // the drop/recreate-while-reading path whose extra catalog read (the
    // tombs table in the cached lineage) was inherited from compact
    // without its own coverage. Same shape: append + remove, then
    // rebuild IN PLACE under one prefix and compare against scratch.
    val dA = java.nio.file.Files.createTempDirectory("vec_rip_src").toString
    val corpus = emb.filter(!isBatch && col("vec_id") % 5 =!= 0)
    VectorIndex.build(corpus, "vec_id", "embedding", dA, MinCos,
      prefix = "rip_idx")
    val wave = emb.filter(isBatch)
      .select((col("vec_id") + 510000L).as("vec_id"), col("embedding"))
    VectorIndex.append(wave, "vec_id", "embedding", "rip_idx")
    val removedId = corpus.agg(min("vec_id")).head().getLong(0)
    VectorIndex.remove(sp, Seq(removedId), "rip_idx")

    val dR = java.nio.file.Files.createTempDirectory("vec_rip_out").toString
    VectorIndex.rebuild(sp, dR, prefix = "rip_idx") // outPrefix defaults to prefix

    val dS = java.nio.file.Files.createTempDirectory("vec_rip_scr").toString
    VectorIndex.build(
      corpus.filter(col("vec_id") =!= removedId).unionAll(wave),
      "vec_id", "embedding", dS, MinCos, prefix = "rip_scr")

    val probe = batchOf(emb)
    def verdicts(pfx: String) = VectorIndex
      .incrementalDedup(probe, "vec_id", "embedding", pfx)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(verdicts("rip_idx") == verdicts("rip_scr"),
      "in-place rebuilt verdicts diverged from the scratch build")
    val queries = emb.filter(col("vec_id") % 100 === 7)
    def top(pfx: String) = VectorIndex
      .knn(queries, "vec_id", "embedding", k = 5, prefix = pfx)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(top("rip_idx") == top("rip_scr"),
      "in-place rebuilt ANN top-k diverged from the scratch build")
    // the catalog now points at the NEW location; the tombstone table the
    // source carried must be gone (rebuild materialized the removal)
    assert(!sp.catalog.tableExists("rip_idx_tombs"),
      "in-place rebuild kept the source's tombstone table")
    val st = VectorIndex.stats(sp, "rip_idx")
    assert(st.tombstones == 0L && st.appendedRows == 0L, s"stats: $st")
  }

  test("attach refuses a markerless partitioned artifact (crashed build / pre-wave layout)") {
    val d = java.nio.file.Files.createTempDirectory("vec_nomark").toString
    VectorIndex.build(emb.filter(col("vec_id") % 20 === 1), "vec_id",
      "embedding", d, MinCos, prefix = "nomark_vec")
    graft.operators.Bucketing.clearWaveMarkers(spark, d)
    val fresh = spark.newSession()
    val e = intercept[IllegalArgumentException] {
      VectorIndex.attach(fresh, d, "nomark_vec")
    }
    assert(e.getMessage.contains("no committed wave marker"), e.getMessage)
    // re-publishing the build's wave heals the artifact
    graft.operators.Bucketing.commitWave(spark, d, 0)
    VectorIndex.attach(fresh, d, "nomark_vec")
    assert(VectorIndex.stats(fresh, "nomark_vec").totalRows > 0L)
  }
}
