package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bucketing

/** PERSISTED text-dedup serving index — the q48 counterpart of the proven
  * vector-index parquet round-trip (`AnnRecallSpec`): the three corpus-side
  * artifacts [[TextOps.incrementalDedup]] derives per session
  *
  *   - `<prefix>_hashes`   (ch, exact_partner)   — min-id per content hash
  *   - `<prefix>_bands`    (doc_id, b, h)        — the MinHash band index
  *   - `<prefix>_shingles` (doc_id, ts)          — 3-gram sets for the
  *                                                 exact-Jaccard re-rank
  *
  * written ONCE as bucketed+sorted external tables ([[Bucketing]]), each
  * bucketed on its probe-join key (ch / (b, h) / doc_id). A fresh session —
  * or a different cluster entirely — [[attach]]es the artifact (metadata
  * only) and serves ingest verdicts with ZERO corpus recomputation: no
  * shingling, no signature pass, not even a scan of the corpus text. The
  * bucket layout means the probe joins need no exchange on the corpus
  * side — the batch side broadcasts (inner candidate join) or shuffles its
  * own batch-proportional rows into the bucket layout; the 100 TB index
  * never moves.
  *
  * Bucketing prunes EXCHANGES but not SCANS: a constant-size batch would
  * still read all three corpus-sized tables per probe (the linear residual
  * the vector index's r14 scale series measured). The default layout
  * therefore layers Hive-style hash-partition directories above the
  * bucket files — `pch = xxhash64(ch) % pvals` on hashes,
  * `pbh = h % pvals` on bands, `pdoc = doc_id % pvals` on shingles — and
  * the probe filters each table to the partition values the batch (or its
  * candidates) actually lands in, collected in tiny batch-proportional
  * jobs. Every potential match necessarily shares the probe's key, so the
  * pruning is verdict-neutral (spec-pinned against the flat layout); the
  * scan cost drops to |probed partitions|/pvals of the index. `pvals = 0`
  * keeps the flat pre-partitioned layout, and indexes without a meta
  * table (built before partitioning existed) attach and probe unchanged.
  *
  * ATOMIC multi-table publish: the partitioned layout additionally
  * carries `wave` as the FIRST partition column — each [[append]] stages
  * its rows under `wave=W` directories across all three tables and
  * publishes them with ONE atomic marker-file create
  * ([[Bucketing.commitWave]]); probes filter `wave IN (committed set)`
  * (planning-time pruning, zero data cost), so a reader interleaved
  * between the three per-table commits — or after a mid-append crash —
  * always sees a CONSISTENT committed index, never a torn one, and a
  * crashed wave's garbage stays invisible even after later appends
  * commit (the set, not a ≤-horizon, is what makes retry-safe numbering
  * work). The writer side stays single-writer by contract.
  *
  * Serving output is bit-identical to the in-session
  * [[TextOps.incrementalDedup]] by construction: both feed the SAME
  * verdict core ([[TextOps.incrementalVerdicts]]), and the persisted
  * frames are exactly the in-session derivations (parquet round-trips of
  * long/string/array columns are exact). `DedupIndexSpec` pins this.
  */
object DedupIndex {

  /** Default number of buckets per table. At 100 TB raise it so each
    * bucket file stays executor-sized (buckets are the unit of probe-join
    * parallelism on the corpus side). */
  val DefaultBuckets = 8

  /** AUTO-SIZE sentinel for `pvals`: the hash-partition grain is derived
    * from the corpus row count at build (or the LIVE row count at a
    * re-graining compact) via [[Bucketing.autoGrain]] — the r15 scale
    * series measured that a FIXED grain (the old `DefaultPvals = 64`)
    * makes constant-batch probe cost resume linear growth one decade up
    * (1.13 → 3.57 s at 5M docs), and the fix had to be known at build
    * time. Auto is the default; pass an explicit positive pvals to pin a
    * grain, or 0 for the flat (unpartitioned) legacy layout. A small
    * serving batch probes a handful of partitions either way: a 10-doc
    * batch touches ≤10 hash partitions, ≤60 band partitions, and as many
    * shingle partitions as it has CANDIDATES — each scan reads that
    * fraction of the index. */
  val AutoPvals: Int = -1

  /** The pre-r16 fixed default grain — kept for harnesses that pin the
    * fixed-grain operating point ([[graft.ServingScaleProbe]]'s A/B). */
  val DefaultPvals = 64

  /** (table, bucket keys, subdir, partition column) per artifact. */
  private def tables(prefix: String): Seq[(String, Seq[String], String, String)] =
    Seq((s"${prefix}_hashes", Seq("ch"), "hashes", "pch"),
      (s"${prefix}_bands", Seq("b", "h"), "bands", "pbh"),
      (s"${prefix}_shingles", Seq("doc_id"), "shingles", "pdoc"))

  /** The partition-value derivation per partition column — shared by the
    * build side (layout) and the probe side (pruning filter), so the two
    * can never drift. xxhash64 is seed-fixed and version-stable; `h` is
    * already an xxhash64, and doc ids partition directly. */
  private def partValue(partCol: String, pvals: Int): Column = {
    val v = partCol match {
      case "pch" => xxhash64(col("ch"))
      case "pbh" => col("h")
      case "pdoc" => col("doc_id")
    }
    pmod(v, lit(pvals.toLong)).cast("int")
  }

  /** Partition count of an attached/built index: the meta row when the
    * index has one, 0 (flat legacy layout) when it does not. */
  def pvalsOf(spark: SparkSession, prefix: String = "dedup_idx"): Int =
    if (spark.catalog.tableExists(s"${prefix}_meta"))
      spark.table(s"${prefix}_meta").head().getAs[Int]("pvals")
    else 0

  /** The live directory of an attached/built index (parent of the hashes
    * table's location) — Hadoop-Path arithmetic, so remote schemes
    * (s3a://, mock://) keep their scheme. */
  private def dirOf(spark: SparkSession, prefix: String): String =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_hashes"))
      .location).getParent.toString

  /** [[dirOf]] for the maintenance layer (reclaim targets the live
    * directory in place). */
  private[queries] def liveDir(spark: SparkSession, prefix: String): String =
    dirOf(spark, prefix)

  /** The live index directory of an attached/built index — the PUBLIC
    * form (the REST stats surface reports lease/staging/reader telemetry
    * against it; operators pass it to the [[graft.operators.Bucketing]]
    * diagnostics). */
  def location(spark: SparkSession, prefix: String = "dedup_idx"): String =
    dirOf(spark, prefix)

  /** Scheme-agnostic existence check (attach runs against whatever FS
    * the artifact lives on). */
  private def fsExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** Delete `dir/tombs` on disk (recursive, scheme-agnostic, no-op when
    * absent) — a rebuild's removals reset. */
  private[queries] def deleteTombFiles(spark: SparkSession,
      dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/tombs")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** TOMBSTONE documents out of an attached/built index — the takedown /
    * deletion half of index maintenance ([[append]] is the growth half):
    * the removed ids are appended to a tiny `<prefix>_tombs` table (one
    * long column, persisted next to the index so a fresh session's
    * [[attach]] keeps honoring the removal), and every probe anti-joins
    * the BROADCAST tombstone set against the partner-bearing index sides
    * — map-side, no extra exchange, no index rewrite. [[compact]]
    * materializes the deletion physically and clears the tombstones.
    *
    * Verdict contract after removal (vs a rebuild over corpus∖removed):
    * a removed id never appears as any partner. The one LABEL divergence:
    * `<prefix>_hashes` keeps only the min id per content hash, so when
    * THAT id is removed but other identical copies remain in the corpus,
    * a later twin reads `near_dup` with jaccard 1.0 against the next
    * copy (identical text ⇒ identical shingles) where a rebuild would
    * say `exact_dup` — the dedup DECISION is identical, and the label
    * converges again after a rebuild. (Only sub-3-token docs, which have
    * no shingles, lose the fallback — they dedup by hash alone.)
    * Tombstones key on the ID: re-admitting a removed id needs a
    * [[compact]] (which clears the tombstones) first. */
  def remove(ids: DataFrame, id: String, prefix: String = "dedup_idx"): Unit = {
    val s = ids.sparkSession
    val fresh = ids.select(col(id).cast("long").as("doc_id")).distinct()
    // anti-join the PERSISTED set too: a retried takedown job must not
    // double-count (verdicts would stay right — the anti-join dedups —
    // but stats' tombstone fraction, the compaction trigger, would lie)
    val novel =
      if (s.catalog.tableExists(s"${prefix}_tombs"))
        fresh.join(s.table(s"${prefix}_tombs"), Seq("doc_id"), "left_anti")
      else fresh
    // writer-private staging + per-FILE moves: cross-JVM-safe,
    // lock-free ([[Bucketing.appendFilesByRenameTo]] — incl. its
    // concurrent same-id double-insert caveat). The FIRST tombstone
    // publishes the files the same way and only then registers the
    // table over them, so two replicas' first removes never share a
    // committer staging dir either (r16 advisor) — the same-JVM lock
    // below serializes only the catalog DDL
    val dir = dirOf(s, prefix)
    Bucketing.appendFilesByRenameTo(s, novel.coalesce(1), s"$dir/tombs",
      dir)
    if (s.catalog.tableExists(s"${prefix}_tombs"))
      s.catalog.refreshTable(s"${prefix}_tombs")
    else Bucketing.withWriteLock(s, dir) {
      if (!s.catalog.tableExists(s"${prefix}_tombs"))
        Bucketing.attachPlain(s, s"${prefix}_tombs", s"$dir/tombs")
    }
  }

  /** [[remove]] for a driver-known takedown list. */
  def remove(spark: SparkSession, ids: Seq[Long], prefix: String): Unit = {
    import spark.implicits._
    remove(ids.toDF("doc_id"), "doc_id", prefix)
  }

  /** `df` minus rows whose `idCol` is tombstoned — a broadcast anti-join
    * (map-side; the takedown set is tiny by nature); identity when the
    * index has no tombstones. */
  private def notTombstoned(s: SparkSession, prefix: String, df: DataFrame,
      idCol: String): DataFrame =
    if (!s.catalog.tableExists(s"${prefix}_tombs")) df
    else df.join(
      broadcast(s.table(s"${prefix}_tombs")
        .select(col("doc_id").as("__tomb_id"))),
      col(idCol) === col("__tomb_id"), "left_anti")

  /** Operational statistics of an attached index — the maintenance
    * decision surface ([[VectorIndex.stats]] twin). What the numbers
    * drive:
    *
    *   - `maxBandBucket` / `bandSkew` — a hot (b, h) bucket (boilerplate
    *     mass: every copy of a template shares every band) multiplies
    *     probe candidates for any batch doc landing in it; skew far
    *     above the build-time norm says re-shard with deeper bands or
    *     pre-drop the boilerplate (the df-cap rationale in TextDedup).
    *   - `tombstones / docs` — every probe pays the broadcast anti-join;
    *     a growing fraction says [[compact]].
    *   - `fileSets` vs buckets × (pvals + 1) — each [[append]] adds one
    *     file set per table; far above the layout minimum says
    *     [[compact]].
    *   - `docs − distinctHashes` — exact-duplicate mass already inside
    *     the index (docs sharing a content hash), the dedup-rate
    *     denominator ops dashboards want.
    *
    * Cost (r19): the doc/hash/band aggregates fold from PER-WAVE CACHED
    * sidecars ([[graft.operators.WaveStats]] — waves are immutable, so
    * each wave's contribution is computed once, wave-pruned, and
    * persisted under `_wavestats/`): a settled index reads metadata
    * only; an appended-to index adds one shuffle-free scan of the base
    * wave's occupancy table — never the full band-table distinct
    * aggregate (14–30 s at the 5M-doc decade) the pre-r19 path paid per
    * call. `spark.graft.stats.mode=full` restores that path (the parity
    * oracle); tombstones, staging ages, priors, and file counts stay
    * live-computed either way. */
  final case class IndexStats(docs: Long, liveDocs: Long, tombstones: Long,
      distinctHashes: Long, bandBuckets: Long, maxBandBucket: Long,
      meanBandBucket: Double, bandSkew: Double, fileSets: Map[String, Int],
      committedWave: Int, abandonedWaves: Int, committedWaveCount: Int,
      stagingDirs: Int = 0, staleStagingDirs: Int = 0,
      priorDirs: Seq[String] = Nil, quarantinedWaveCount: Int = 0)

  /** Build (or read back) wave `w`'s stats sidecar — folded mode's unit
    * of work ([[graft.operators.WaveStats.ensure]]) bound to this
    * index's tables. Shared by the read-side backfill in [[stats]] and
    * the commit-time builders. */
  private def ensureWaveStats(spark: SparkSession, d: String,
      prefix: String, w: Int): graft.operators.WaveStats.PerWave =
    graft.operators.WaveStats.ensure(spark, d, w,
      ids = spark.table(s"${prefix}_shingles")
        .where(col("wave") === w).select("doc_id"),
      aux = Some(spark.table(s"${prefix}_hashes")
        .where(col("wave") === w).select("ch")),
      occ = spark.table(s"${prefix}_bands")
        .where(col("wave") === w).groupBy("b", "h")
        .agg(count_distinct(col("doc_id")).as("n")))

  /** Commit-time sidecar build (r20 optimization): building lazily on
    * the first folded `stats()` put the wave's full aggregate on the
    * READ path — measured 8.8 s at the 5M-doc decade against the 0.08 s
    * steady fold, i.e. a first maintenance call paid MORE than the
    * full-mode aggregate the sidecars replace. At commit the wave's
    * data pass just happened (page-cache-warm) and the cost is
    * wave-proportional by construction. Failures are logged, never
    * thrown: the wave is ALREADY committed (a caller retrying the
    * append would double-append), and the sidecar is derived data the
    * next `stats()` backfills. No-op outside folded mode. */
  private[queries] def buildWaveStatsAtCommit(spark: SparkSession,
      d: String, prefix: String, w: Int)(
      ensure: (SparkSession, String, String, Int) =>
        graft.operators.WaveStats.PerWave): Unit =
    if (graft.operators.WaveStats.mode(spark) == "folded")
      try { ensure(spark, d, prefix, w); () }
      catch {
        case e: Exception => Console.err.println(
          s"[graft] wave $w sidecar build under $d failed " +
            s"(stats() will backfill): $e")
      }

  def stats(spark: SparkSession, prefix: String = "dedup_idx"): IndexStats = {
    // DISTINCT ids, not row counts: an at-least-once REPLAYED append
    // (verdict-neutral by the probe cores' batch-id anti-join) writes
    // duplicate shingle/band rows per doc, and raw counts would drift
    // docs/liveDocs and the tombstones/docs compaction trigger after any
    // replay (r14 advisor). [[compact]] dedups by id, re-aligning the
    // physical artifact with these logical counts. Counting sees what
    // probes see — committed waves only; `abandonedWaves > 0` is the
    // crashed-append detector (invisible garbage; compact reclaims it).
    val pvals = pvalsOf(spark, prefix)
    val (cws, abandoned) =
      if (pvals > 0) {
        val d = dirOf(spark, prefix)
        (Bucketing.committedWaves(spark, d),
          Bucketing.abandonedWaves(spark, d,
            Seq("hashes", "bands", "shingles")))
      } else (Nil, 0)
    def committedT(table: String) =
      if (pvals > 0) spark.table(table)
        .where(col("wave").isin(cws.map(Integer.valueOf): _*))
      else spark.table(table)
    val (docs, hashes, buckets, maxN, meanN) =
      if (pvals > 0 && graft.operators.WaveStats.mode(spark) == "folded") {
        val d = dirOf(spark, prefix)
        // catalog self-heal before computing sidecars: a wave committed
        // by ANOTHER process prunes out of this session's scans until a
        // RECOVER ([[appendStaged]] rationale) — and a sidecar computed
        // over that pruned view would PERSIST zeros for the wave
        if ({
          val known = Bucketing.catalogWaves(spark, s"${prefix}_hashes")
          cws.exists(!known(_))
        }) tables(prefix).foreach { case (t, _, _, _) =>
          spark.sql(s"ALTER TABLE $t RECOVER PARTITIONS")
          spark.catalog.refreshTable(t)
        }
        val perWave = cws.map(w => ensureWaveStats(spark, d, prefix, w))
        val f = graft.operators.WaveStats.fold(spark, d, perWave,
          Seq("b", "h"))
        (f.nIds, f.nAux, f.occCnt, f.occMax, f.occMean)
      } else {
        val dc = committedT(s"${prefix}_shingles")
          .agg(count_distinct(col("doc_id"))).head().getLong(0)
        val hc = committedT(s"${prefix}_hashes")
          .agg(count_distinct(col("ch"))).head().getLong(0)
        val occ = committedT(s"${prefix}_bands")
          .groupBy("b", "h").agg(count_distinct(col("doc_id")).as("n"))
          .agg(count(lit(1)), max("n"), avg("n")).head()
        // an empty index (degenerate but attachable) aggregates to nulls
        (dc, hc, occ.getLong(0),
          if (occ.isNullAt(1)) 0L else occ.getLong(1),
          if (occ.isNullAt(2)) 0.0 else occ.getDouble(2))
      }
    val tombs =
      if (spark.catalog.tableExists(s"${prefix}_tombs"))
        spark.table(s"${prefix}_tombs").count()
      else 0L
    def loc(table: String) = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    val files = Seq("hashes", "bands", "shingles").map { sub =>
      sub -> Bucketing.partFileCount(spark, loc(s"${prefix}_$sub"))
    }.toMap
    // staging roots split by age against the presumed-live writer TTL:
    // a YOUNG root is probably an in-flight append (not a
    // compact reason — the r16 advisor's live-writer-triggers-compact
    // hole); an OLD one is crash garbage
    val stages = if (pvals > 0)
      Bucketing.stagingDirAges(spark, dirOf(spark, prefix)) else Nil
    val ttl = Bucketing.writerLiveTtlMs(spark)
    IndexStats(docs, docs - tombs, tombs, hashes, buckets, maxN, meanN,
      if (meanN == 0.0) 0.0 else maxN / meanN, files,
      cws.foldLeft(-1)(math.max), abandoned, cws.length,
      stages.size, stages.count(_._2 >= ttl),
      // stranded prior locations (past in-place compacts) — dead full
      // copies of the index until retirePrior deletes them
      Bucketing.priorLocations(spark, dirOf(spark, prefix)),
      if (pvals > 0)
        Bucketing.quarantinedWaves(spark, dirOf(spark, prefix)).size
      else 0)
  }

  /** Derive the corpus artifacts and persist them under `dir` (also
    * registering `<prefix>_*` in this session's catalog). One corpus pass
    * per artifact; the shared shingle cache ([[TextDedup]]) means the
    * expensive 3-gram derivation is computed once across the three. */
  def build(corpus: DataFrame, id: String, text: String, dir: String,
      prefix: String = "dedup_idx", buckets: Int = DefaultBuckets,
      pvals: Int = AutoPvals): Unit = {
    val s = corpus.sparkSession
    val nc = corpus.select(col(id).cast("long").as("doc_id"),
      col(text).cast("string").as("text"))
    // AUTO grain: one count of the narrow (id, text) projection — a small
    // fraction of the multi-pass derivation cost below, and the price of
    // a grain that probes at constant cost as the corpus decades up
    val pv = if (pvals == AutoPvals) Bucketing.autoGrain(nc.count())
      else pvals
    buildFrames(s, nc, dir, prefix, buckets, pv)
  }

  private def buildFrames(s: SparkSession, nc: DataFrame, dir: String,
      prefix: String, buckets: Int, pvals: Int): Unit = {
    // the wave history restarts with the rebuild: old markers must not
    // make the new tables' wave=0 visible before it is written (build is
    // not atomic — the single-writer contract covers rebuilds; readers
    // of a LIVE index rebuild into a fresh directory instead)
    if (pvals > 0) Bucketing.clearWaveMarkers(s, dir)
    val frames = Map(
      "hashes" -> nc.select(col("doc_id"), md5(col("text")).as("ch"))
        .groupBy("ch").agg(min("doc_id").as("exact_partner")),
      "bands" -> TextDedup.bandRowsOf(nc),
      "shingles" -> TextDedup.shingleSetsOf(nc))
    tables(prefix).foreach { case (table, keys, sub, partCol) =>
      if (pvals > 0)
        Bucketing.writePartitionedBucketedExternal(
          frames(sub).withColumn(partCol, partValue(partCol, pvals))
            .withColumn("wave", lit(0)),
          table, Seq("wave", partCol), keys, s"$dir/$sub", buckets)
      else
        Bucketing.writeBucketedExternal(frames(sub), table, keys,
          s"$dir/$sub", buckets)
    }
    if (pvals > 0) {
      import s.implicits._
      Bucketing.writePlainExternal(
        Seq((pvals, buckets)).toDF("pvals", "buckets").coalesce(1),
        s"${prefix}_meta", s"$dir/meta")
    }
    // a rebuild starts with no removals: drop any stale tombstone entry
    // a previous index under this prefix left in the catalog AND delete
    // the on-disk tombstone files at this location — otherwise a fresh
    // session's attach would re-arm the previous index's takedown list
    // against the rebuilt data (cross-session divergence)
    s.sql(s"DROP TABLE IF EXISTS ${prefix}_tombs")
    deleteTombFiles(s, dir)
    // PUBLISH wave 0 — last, so every table (and the meta/tomb state)
    // is in place before any reader can resolve a committed wave
    if (pvals > 0) {
      Bucketing.commitWave(s, dir, 0)
      buildWaveStatsAtCommit(s, dir, prefix, 0)(ensureWaveStats)
    }
    // release the derivation caches build() itself populated: the index
    // is on disk now, and a long-lived builder session should not keep
    // the corpus-sized shingle/band plans pinned
    TextDedup.unpersistDerivationsOf(nc)
  }

  /** APPEND a batch of documents to an attached/built index — the text
    * twin of [[VectorIndex.append]], and STRONGER: the MinHash/shingle
    * derivations are model-free (no quantizer to freeze), so an appended
    * index serves verdicts bit-identical to a full rebuild over
    * corpus ∪ batch whenever the appended content is novel (the admitted
    * ingest stream — spec-pinned in DedupIndexSpec). The one divergence:
    * a batch doc whose content hash ALREADY exists keeps the corpus's
    * exact-partner row (its novel-ch filter skips the collision), where a
    * rebuild would re-minimize over both ids — irrelevant for admitted
    * (verdict `new`) docs, which have no existing partner by definition.
    * Each append adds one file set per bucket; rebuild to compact.
    *
    * ATOMIC PUBLISH (partitioned layout): the wave's rows are staged
    * under `wave=W` partition directories across all three tables and
    * become visible only when the single `_wave_W` marker is created
    * LAST ([[Bucketing.commitWave]]) — a reader between the three table
    * commits still resolves the previous committed wave and sees a
    * CONSISTENT index, never a torn one (exact-dup rows present, near-dup
    * rows missing); a crash mid-append leaves only invisible garbage a
    * later [[compact]] reclaims, and the retried append stages wave W+1.
    * Staging is WRITER-PRIVATE ([[Bucketing.appendWave]]: the wave's
    * files are written under a dot-prefixed private root and moved into
    * place file by file, then the marker lands as the wave's manifest),
    * so concurrent appenders — other threads AND other processes, on
    * local disk, HDFS or an object store — interleave safely with no
    * lock, under the DISJOINT-CONTENT contract (below). Legacy flat
    * indexes (pvals = 0) keep the old per-table commit semantics.
    *
    * Visibility: the writing session (and any session attached LATER)
    * sees the append immediately; a DIFFERENT already-attached session
    * holds its own cached file listing and must
    * `spark.catalog.refreshTable` to observe it (standard Spark
    * per-session relation caching) — and, when the append came from a
    * DIFFERENT PROCESS and the catalogs are per-process (in-memory), a
    * `RECOVER PARTITIONS` first, since the writer's ADD PARTITION landed
    * only in its own catalog (a shared metastore deployment sees it
    * directly; CrossJvmWriterSpec pins both halves). */
  def append(batch: DataFrame, id: String, text: String,
      prefix: String = "dedup_idx"): Unit = {
    val s = batch.sparkSession
    val w = appendStaged(batch, id, text, prefix)
    if (w >= 0) {
      val d = dirOf(s, prefix)
      Bucketing.commitWave(s, d, w)
      Bucketing.releaseWave(s, d, w) // the marker supersedes the lease
      buildWaveStatsAtCommit(s, d, prefix, w)(ensureWaveStats)
    }
  }

  /** The staging half of [[append]]: writes the wave's files across all
    * tables WITHOUT publishing them (partitioned layout; returns the
    * staged wave number, or −1 on the legacy flat layout whose writes are
    * visible per-table as before). `maxTables` is the fault-injection
    * knob the torn-write spec uses to stop after N table commits —
    * production callers never pass it. */
  private[queries] def appendStaged(batch: DataFrame, id: String,
      text: String, prefix: String = "dedup_idx",
      maxTables: Int = Int.MaxValue): Int = {
    val s = batch.sparkSession
    val pvals = pvalsOf(s, prefix)
    val dir = if (pvals > 0) dirOf(s, prefix) else ""
    // committed-set horizon for the novel-ch anti-join: an UNCOMMITTED
    // leftover wave (crashed append) must not suppress re-appending its
    // content — those rows are invisible to every probe forever
    val cws = if (pvals > 0) Bucketing.committedWaves(s, dir) else Nil
    // WRITE-SIDE catalog self-heal: with per-process in-memory catalogs a
    // session that attached BEFORE another process's append prunes that
    // wave's partitions out of the anti-join scan below and would
    // re-insert its hashes as novel — duplicate exact-verdict rows until
    // compact (r16 advisor). A committed wave the catalog does not know
    // ⇒ RECOVER first (one listing, append-cadence; a shared-metastore
    // deployment never hits this — the writer's ADD PARTITION is global)
    if (pvals > 0 && {
        val known = Bucketing.catalogWaves(s, s"${prefix}_hashes")
        cws.exists(!known(_))
      })
      tables(prefix).foreach { case (t, _, _, _) =>
        s.sql(s"ALTER TABLE $t RECOVER PARTITIONS")
        s.catalog.refreshTable(t)
      }
    // the wave number is LEASED (atomic create-no-overwrite) before any
    // staging, so two concurrent appenders land on DISJOINT waves instead
    // of interleaving one ([[Bucketing.acquireWave]]). Concurrent writers
    // must append DISJOINT content: the novel-ch anti-join below reads
    // the committed snapshot, so two writers carrying the same new text
    // would each see it as novel and both insert its hash row (compact
    // collapses the duplicates by ch, but probes in between would serve
    // duplicate exact-verdict rows). Parallel ingest shards partitioned
    // by id/hash satisfy this by construction.
    val wave =
      if (pvals == 0) -1
      else Bucketing.acquireWave(s, dir, Seq("hashes", "bands", "shingles"))
    // EAGER local checkpoint: a caller's `batch` routinely derives from
    // probe verdicts against THIS index (the appendAdmitted loop), and
    // the FIRST write below (hashes) refreshes its catalog table — which
    // invalidates every cache whose lineage reads it, so the bands and
    // shingles writes would silently recompute the batch against the
    // half-appended index, where each row now exact-dups ITSELF ⇒ empty
    // appends (the bug JointDebug exposed: hashes present, bands/shingles
    // missing, near-dup serving of appended content silently lost). The
    // checkpoint severs the lineage; blocks free on GC after the writes.
    val nc = batch.select(col(id).cast("long").as("doc_id"),
      col(text).cast("string").as("text"))
      .localCheckpoint(true)
    def bucketsOf(table: String): Int =
      s.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec.map(_.numBuckets).getOrElse(DefaultBuckets)
    // partitioned layout: writer-private staging, per-FILE moves — no
    // shared committer dir, cross-JVM-safe, no lock
    // ([[Bucketing.appendWave]]; [[append]] commits the manifest); the
    // flat layout appends in place and publishes per table
    def appendTo(df: DataFrame, table: String, keys: Seq[String],
        partCol: String): Unit = {
      val staged = (if (pvals > 0)
          df.withColumn(partCol, partValue(partCol, pvals))
            .withColumn("wave", lit(wave)) else df)
        .repartition(bucketsOf(table), keys.map(col): _*)
      if (pvals > 0)
        Bucketing.appendWave(s, staged, table, keys, Seq(partCol),
          bucketsOf(table), dir, wave)
      else
        staged.write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(bucketsOf(table), keys.head, keys.tail: _*)
          .sortBy(keys.head, keys.tail: _*)
          .option("compression", "snappy")
          .saveAsTable(table)
    }
    // novel-ch anti-join, PRUNED on the partitioned layout: any index ch
    // equal to a batch ch necessarily lives in one of the batch's pch
    // partitions (same partValue derivation), so the anti-join scans
    // |batch ch|/pvals of the corpus-sized table instead of all of it —
    // the probe-side pruning argument applied to the append path
    val existingCh =
      if (pvals > 0) {
        val pch = nc.select(md5(col("text")).as("ch"))
          .select(partValue("pch", pvals).as("p"))
          .distinct().collect().map(_.getInt(0)).sorted
        s.table(s"${prefix}_hashes")
          .where(col("wave").isin(cws.map(Integer.valueOf): _*) &&
            col("pch").isin(pch.map(Integer.valueOf): _*))
          .select("ch")
      } else s.table(s"${prefix}_hashes").select("ch")
    val hashes = nc.select(col("doc_id"), md5(col("text")).as("ch"))
      .groupBy("ch").agg(min("doc_id").as("exact_partner"))
      // novel-ch only: a second row per ch would multiply the probe join
      .join(existingCh, Seq("ch"), "left_anti")
    // lease heartbeat between table writes: liveness age measures time
    // since last PROGRESS, so an append longer than the writer TTL is not
    // misread as crashed mid-write ([[Bucketing.touchLease]])
    def beat(): Unit = if (wave >= 0) Bucketing.touchLease(s, dir, wave)
    val writes = Seq(
      () => { appendTo(hashes, s"${prefix}_hashes", Seq("ch"), "pch")
        beat() },
      () => { appendTo(TextDedup.bandRowsOf(nc), s"${prefix}_bands",
        Seq("b", "h"), "pbh")
        beat() },
      () => appendTo(TextDedup.shingleSetsOf(nc), s"${prefix}_shingles",
        Seq("doc_id"), "pdoc"))
    writes.take(math.max(0, maxTables)).foreach(_())
    if (pvals > 0) Bucketing.releaseStaging(s, dir, wave)
    TextDedup.unpersistDerivationsOf(nc)
    wave
  }

  /** COMPACT an attached index into `outDir` — the [[VectorIndex.compact]]
    * twin: every [[append]] adds one file set per bucket (and partition),
    * compaction rewrites the three tables (collapsing them) with identical
    * content, so serving is bit-identical (the derivations are data, not
    * model — nothing to freeze). Refuses the live location.
    *
    * `buckets <= 0` (the default) INHERITS the source index's bucket
    * count — the meta row when present, else the attached table's bucket
    * spec — so compacting an index built with a non-default count never
    * silently rewrites its layout/parallelism (r14 advisor); pass an
    * explicit positive value only to deliberately re-bucket.
    *
    * `pvals` RE-GRAINS during the rewrite — the answer to the r15 scale
    * series' one open finding (grain was write-once; a wrong or outgrown
    * grain could only be corrected by a scratch rebuild): `0` (default)
    * inherits the source grain unchanged; [[AutoPvals]] re-sizes it from
    * the LIVE distinct doc count ([[Bucketing.autoGrain]] — the standing
    * maintenance recipe: compact with AutoPvals and the grain follows
    * growth); an explicit positive value pins it. Re-partitioning here is
    * nearly free — compaction already rewrites every row of every table —
    * and the probe side reads the new grain from the rewritten meta, so
    * verdicts are grain-invariant (spec-pinned). A flat (pvals = 0)
    * source can be UPGRADED to the partitioned layout the same way — the
    * legacy-migration path that needs no original corpus; downgrading a
    * partitioned index to flat is not supported.
    *
    * Interleaving contract (single-writer, made explicit): compaction
    * snapshots the committed wave set ONCE — an [[append]] or [[remove]]
    * that commits AFTER that snapshot is not in the compacted artifact,
    * and switching serving to it would silently lose that wave. The
    * quiesce contract is ENFORCED since r17, not just documented: a lease
    * younger than `spark.graft.writerLiveTtlMs` (a writer presumed
    * mid-append) makes compact refuse loudly
    * ([[Bucketing.requireQuiesced]]); pass `force = true` when the
    * writers are known dead or drained. Readers of the OLD location are
    * unaffected throughout. Abandoned (never-committed) waves are
    * physically reclaimed here — they are excluded from the rewrite and
    * the fresh history starts at wave 0.
    *
    * `upToWave` — the WAVE-HORIZON (online) mode (r18 verdict item 1): at
    * 100 TB a full-index rewrite is hours, and the enforced quiesce above
    * halts ingest for all of it — the last stop-the-world in the design.
    * Passing a horizon H folds committed waves ≤ H into `outDir` as a
    * fresh wave 0 WHILE WRITERS KEEP APPENDING waves > H at the old
    * location (no quiesce check — waves are immutable once committed and
    * the fold never reads anything above its snapshot); the > H waves are
    * then CARRIED over — per-file copies published one marker at a time
    * under the ordinary wave protocol, numbers preserved when free and
    * lease-remapped when a writer already appending at `outDir` took one
    * ([[Bucketing.claimCarryWave]]). The compact's own carry loop runs
    * until it finds nothing new; waves committed at the OLD location
    * after it returns reach the new one via [[carryNewWaves]] (the
    * catch-up — idempotent through the `_carried` ledger) until the
    * operator redirects writers. Horizon mode differences:
    * TOMBSTONES are carried, not cleared (deletions stay materialized in
    * the folded wave 0; carried waves keep honoring the list — so
    * re-admitting a removed id still needs a FULL compact);
    * re-graining/re-bucketing is refused (carried waves' partition values
    * were derived at the source grain — a new grain would silently
    * mis-prune them); quarantined waves stay behind at the old location
    * (forensics) exactly as a full compact purges them. */
  def compact(spark: SparkSession, outDir: String,
      prefix: String = "dedup_idx", outPrefix: String = null,
      buckets: Int = 0, pvals: Int = 0, force: Boolean = false,
      upToWave: Int = Int.MaxValue): Unit = {
    val horizon = upToWave != Int.MaxValue
    if (horizon) {
      require(pvalsOf(spark, prefix) > 0,
        "wave-horizon compact needs the wave-partitioned layout")
      require(pvals == 0 && buckets <= 0,
        "wave-horizon compact cannot re-grain or re-bucket: carried " +
          "waves keep their source-grain partition values, which a new " +
          "grain would silently mis-prune — run a full (quiesced) " +
          "compact to re-shape")
      require(upToWave >= 0, s"upToWave=$upToWave is not a wave horizon")
    }
    if (pvalsOf(spark, prefix) > 0 && !horizon)
      Bucketing.requireQuiesced(spark, dirOf(spark, prefix), force,
        "compact")
    // null outPrefix (the default) = in place under `prefix`: a literal
    // "dedup_idx" default silently compacted a prefix="x" index into the
    // unrelated "dedup_idx" catalog entries ([[VectorIndex.rebuild]]
    // rationale; Scala cannot default one parameter to another)
    val outPfx = Option(outPrefix).getOrElse(prefix)
    val oldLoc = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_hashes"))
      .location.toString
    // Hadoop-Path comparison, NOT java.io.File: scheme-qualified live
    // locations (s3a://, mock://) never match a File path, which would
    // let a compact silently destroy the index it is reading (r15 review)
    require(!Bucketing.samePath(spark, oldLoc, s"$outDir/hashes"),
      s"compact target $outDir is the live index location — compaction " +
        "rewrites tables while reading them, so it needs a fresh directory")
    val outBuckets =
      if (buckets > 0) buckets
      else if (spark.catalog.tableExists(s"${prefix}_meta"))
        spark.table(s"${prefix}_meta").head().getAs[Int]("buckets")
      else spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_hashes"))
        .bucketSpec.map(_.numBuckets).getOrElse(DefaultBuckets)
    // read each source from its FILES, not the catalog table: when
    // outPrefix == prefix the write drops the catalog entry first, and a
    // PARTITIONED table's scan consults the catalog lazily at execution
    // (CatalogFileIndex) — reading the location keeps the plan
    // catalog-independent (partition columns come back via directory
    // inference, identically valued)
    def srcDf(table: String) = spark.read.parquet(
      spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString)
    // deletions materialize here: tombstoned rows are dropped from the
    // rewrite (hashes by their partner id, bands/shingles by doc id) and
    // the tombstone table is NOT carried into the compacted artifact.
    // Duplicate rows a replayed append left behind (identical by
    // construction — the derivations are deterministic) collapse too, so
    // the compacted artifact matches [[stats]]' distinct-id counts.
    val idColOf = Map("hashes" -> "exact_partner", "bands" -> "doc_id",
      "shingles" -> "doc_id")
    val dedupKeysOf = Map("hashes" -> Seq("ch"),
      "bands" -> Seq("doc_id", "b", "h"), "shingles" -> Seq("doc_id"))
    // the committed-set horizon: abandoned (crashed-append) waves were
    // never visible to any probe, and compaction is where their garbage
    // files are physically reclaimed — filter them out, then restart the
    // wave history at 0 in the compacted artifact
    val srcPvals = pvalsOf(spark, prefix)
    val cws = (if (srcPvals > 0)
      Bucketing.committedWaves(spark, dirOf(spark, prefix)) else Nil)
      .filter(_ <= upToWave)
    def liveOf(sub: String): DataFrame = {
      val (src, _, _, _) = tables(prefix).find(_._3 == sub).get
      val committed =
        if (srcPvals > 0) srcDf(src)
          .where(col("wave").isin(cws.map(Integer.valueOf): _*))
          .withColumn("wave", lit(0))
        else srcDf(src)
      notTombstoned(spark, prefix, committed, idColOf(sub))
        .dropDuplicates(dedupKeysOf(sub))
    }
    // the output grain: inherit / auto-size from the LIVE doc count /
    // explicit; re-graining a flat source upgrades it to the partitioned
    // layout (wave 0 + computed partition columns added in the rewrite)
    val outPvals =
      if (pvals == 0) srcPvals
      else if (pvals == AutoPvals) Bucketing.autoGrain(
        liveOf("shingles").select("doc_id").distinct().count())
      else pvals
    require(outPvals > 0 || srcPvals == 0,
      "downgrading a partitioned index to the flat layout is not supported")
    if (outPvals > 0) Bucketing.clearWaveMarkers(spark, outDir)
    tables(prefix).zip(tables(outPfx)).foreach {
      case ((_, keys, sub, partCol), (dst, _, _, _)) =>
        val live = liveOf(sub)
        if (outPvals > 0) {
          // ALWAYS recompute the partition column at the output grain
          // (identical values when the grain is inherited — partValue is
          // the one shared derivation — and the re-grain path otherwise);
          // a flat source additionally gains its wave column here
          val base = (if (srcPvals > 0) live.drop(partCol)
            else live.withColumn("wave", lit(0)))
            .withColumn(partCol, partValue(partCol, outPvals))
          Bucketing.writePartitionedBucketedExternal(base, dst,
            Seq("wave", partCol), keys, s"$outDir/$sub", outBuckets)
        } else
          Bucketing.writeBucketedExternal(live, dst, keys,
            s"$outDir/$sub", outBuckets)
    }
    if (outPvals > 0) {
      import spark.implicits._
      Bucketing.writePlainExternal(
        Seq((outPvals, outBuckets)).toDF("pvals", "buckets").coalesce(1),
        s"${outPfx}_meta", s"$outDir/meta")
    }
    val oldDir = new org.apache.hadoop.fs.Path(oldLoc).getParent.toString
    spark.sql(s"DROP TABLE IF EXISTS ${outPfx}_tombs")
    if (horizon) {
      // carried forward, not cleared: deletions are materialized in the
      // folded wave 0, but carried (> H) waves — and takedowns landing at
      // the old location mid-transition — still need the list
      if (Bucketing.syncTombFiles(spark, oldDir, outDir))
        Bucketing.attachPlain(spark, s"${outPfx}_tombs", s"$outDir/tombs")
    }
    if (outPvals > 0) {
      Bucketing.commitWave(spark, outDir, 0)
      // carried (> H) waves stay lazy: each is batch-proportional, and
      // the carry loop below races appenders — the next stats() backfills
      buildWaveStatsAtCommit(spark, outDir, outPfx, 0)(ensureWaveStats)
    }
    if (horizon) {
      Bucketing.writeCarryLedger(spark, outDir, oldDir, upToWave, Nil)
      // carry committed > H waves until a round brings nothing new — a
      // writer appending DURING this loop lands in a later round; one
      // committing after the loop exits reaches the new location via the
      // carryNewWaves catch-up
      while (carryNewWaves(spark, outPfx).nonEmpty) ()
    }
    // in-place flip (outPrefix == prefix): the old location is now
    // STRANDED — nobody serves it, nothing deletes it, and at 100 TB each
    // maintenance compact doubles storage until someone does (r17 verdict
    // item 2). Record it (plus any chain it carried) for the guarded
    // [[retirePrior]]; stats/Maintenance surface it until retired.
    if (outPfx == prefix)
      Bucketing.recordPriorLocation(spark, outDir, oldDir)
  }

  /** CATCH-UP carry for a wave-horizon [[compact]]: copies (never moves)
    * committed waves that landed at the retired source location since the
    * last carry into the live index — per-file copies registered and then
    * published one marker at a time, numbers preserved when free and
    * lease-remapped on collision with a writer already appending here.
    * Idempotent through the `_carried` ledger (safe to call at any
    * cadence from any session attached to the live index); also re-syncs
    * the tombstone list. Returns the (fromWave → toWave) pairs carried
    * this call; an empty result with quiesced source writers means the
    * transition is complete — redirect writers and [[retirePrior]] the
    * old location. */
  def carryNewWaves(spark: SparkSession,
      prefix: String = "dedup_idx"): Seq[(Int, Int)] = {
    val dir = dirOf(spark, prefix)
    val ledger = Bucketing.readCarryLedger(spark, dir)
    require(ledger.isDefined,
      s"$dir has no _carried ledger — not a wave-horizon compact target")
    val (from, upTo, mapping) = ledger.get
    if (Bucketing.syncTombFiles(spark, from, dir) &&
        !spark.catalog.tableExists(s"${prefix}_tombs"))
      Bucketing.attachPlain(spark, s"${prefix}_tombs", s"$dir/tombs")
    else if (spark.catalog.tableExists(s"${prefix}_tombs"))
      spark.catalog.refreshTable(s"${prefix}_tombs")
    val pending = Bucketing.committedWaves(spark, from)
      .filter(_ > upTo).filterNot(mapping.contains)
    var m = mapping
    pending.map { w =>
      val toW = Bucketing.claimCarryWave(spark, dir,
        Seq("hashes", "bands", "shingles"), w)
      val parts = Bucketing.copyWaveFiles(spark, from, dir, w, toW)
      tables(prefix).foreach { case (table, _, sub, _) =>
        parts.get(sub).foreach(rel =>
          Bucketing.registerWavePartitions(spark, table, toW, rel))
      }
      // marker LAST: a probe between registration and this commit still
      // resolves a consistent horizon without the carried wave
      Bucketing.commitCarriedWave(spark, from, dir, w, toW)
      Bucketing.releaseWave(spark, dir, toW)
      m = m + (w -> toW)
      Bucketing.writeCarryLedger(spark, dir, from, upTo, m.toSeq)
      (w, toW)
    }
  }

  /** RETIRE the stranded prior locations a past in-place [[compact]] left
    * behind — the guarded grace-period delete
    * ([[Bucketing.retirePriors]]): refuses while any live writer lease or
    * reader marker sits on an old location; `force = true` overrides for
    * known-drained replicas. Returns the deleted directories. */
  def retirePrior(spark: SparkSession, prefix: String = "dedup_idx",
      force: Boolean = false): Seq[String] =
    Bucketing.retirePriors(spark, dirOf(spark, prefix), force)

  /** Register an existing index written by [[build]] in `spark`'s catalog
    * — metadata only (no data job, no corpus recomputation, plus one
    * partition-discovery file listing for the partitioned layout).
    * Partitioned indexes carry their own meta (buckets/pvals read from
    * `dir/meta`); for legacy flat indexes `buckets` must match the
    * build-time value for the planner to prove the layout. */
  def attach(spark: SparkSession, dir: String,
      prefix: String = "dedup_idx", buckets: Int = DefaultBuckets): Unit = {
    if (fsExists(spark, s"$dir/meta")) {
      val m = spark.read.parquet(s"$dir/meta").head()
      // refuse a markerless partitioned artifact (crashed build or
      // pre-wave layout): probes would resolve an empty committed set and
      // serve `new` for everything — silent admission of the whole
      // stream; loud beats silent ([[VectorIndex.attach]] twin). The
      // pvals == 0 arm is future-proofing, not a live path: build writes
      // dir/meta only when pvals > 0 today, but a meta-bearing FLAT
      // layout (no waves, so no marker to demand) must keep attaching if
      // one ever exists.
      require(m.getAs[Int]("pvals") == 0 ||
          Bucketing.committedWaves(spark, dir).nonEmpty,
        s"$dir has a partitioned layout (pvals=${m.getAs[Int]("pvals")}) " +
          "but no committed wave marker — a crashed build or a pre-wave " +
          "artifact; attaching would serve an empty index (every verdict " +
          "'new'). Rebuild it under the current layout.")
      Bucketing.attachPlain(spark, s"${prefix}_meta", s"$dir/meta")
      tables(prefix).foreach { case (table, keys, sub, partCol) =>
        Bucketing.attachPartitionedBucketed(spark, table,
          Seq("wave", partCol), keys, s"$dir/$sub", m.getAs[Int]("buckets"))
      }
    } else
      tables(prefix).foreach { case (table, keys, sub, _) =>
        Bucketing.attachBucketed(spark, table, keys, s"$dir/$sub", buckets)
      }
    // the tombstone table rides along when the artifact has removals —
    // and a stale entry from a DIFFERENT index under this prefix must not
    if (fsExists(spark, s"$dir/tombs"))
      Bucketing.attachPlain(spark, s"${prefix}_tombs", s"$dir/tombs")
    else spark.sql(s"DROP TABLE IF EXISTS ${prefix}_tombs")
  }

  /** WARM an attached index's bytes through the page cache — call after
    * [[attach]] on a cold deployment, BEFORE the first serving request:
    * the r16 cold-start decomposition measured first-probe latency at
    * 2.8–9× of warm, dominated by cold bytes; this pays them at
    * sequential bandwidth up front ([[Bucketing.warmFiles]]). Returns
    * bytes read. */
  def warm(spark: SparkSession, prefix: String = "dedup_idx"): Long = {
    val d = dirOf(spark, prefix)
    (Seq("hashes", "bands", "shingles", "meta", "tombs"))
      .map(sub => Bucketing.warmFiles(spark, s"$d/$sub")).sum
  }

  /** q48-semantics ingest verdicts for `batch`, served entirely off the
    * persisted `<prefix>_*` tables ([[build]] or [[attach]] must have
    * registered them in `batch`'s session). Batch-proportional: the batch
    * derives its own hashes/bands/shingles; the corpus contributes only
    * bucketed table scans — pruned, on the partitioned layout, to the
    * partition values the batch probes (two tiny batch-side collect jobs
    * for hashes/bands; the shingle pruning keys on the CANDIDATES, so its
    * collect runs the pruned band probe once more — batch-proportional,
    * and both executions read only probed partitions). */
  def incrementalDedup(batch: DataFrame, id: String, text: String,
      prefix: String = "dedup_idx", threshold: Double = 0.5,
      asOfWave: Int = Int.MaxValue): DataFrame = {
    val s = batch.sparkSession
    val nb = batch.select(col(id).cast("long").as("doc_id"),
      col(text).cast("string").as("text"))
    val pvals = pvalsOf(s, prefix)
    require(asOfWave == Int.MaxValue || pvals > 0,
      "asOfWave needs the wave-partitioned layout — a flat index keeps " +
        "no append history to rewind")
    // the tombstone anti-join rides the partner-bearing sides only: a
    // filtered exactMap hides removed exact partners, filtered corpus
    // bands keep removed docs out of the candidate set — the shingle
    // side needs nothing (candidates are already live-only)
    def live(df: DataFrame, idCol: String) =
      notTombstoned(s, prefix, df, idCol)
    if (pvals == 0)
      TextOps.incrementalVerdicts(nb,
        live(s.table(s"${prefix}_hashes"), "exact_partner"),
        live(s.table(s"${prefix}_bands"), "doc_id"),
        s.table(s"${prefix}_shingles"), threshold)
    else {
      // the probe's consistency horizon: the committed wave SET, resolved
      // ONCE per call, so all three table scans see the same snapshot
      // even while a writer stages (or publishes) the next wave
      // concurrently — the atomic-publish read side. `wave IN (set)` is a
      // partition-column predicate: planning-time directory pruning, zero
      // data cost (and abandoned crashed-append waves stay invisible
      // forever — the set never includes them). `asOfWave` TIME-TRAVELS
      // the horizon: only waves ≤ it serve, so yesterday's verdicts
      // reproduce bit-identically until a compact/rebuild folds the
      // history (like any log-structured store). TAKEDOWNS stay global
      // by design: a tombstoned doc serves from NO snapshot —
      // right-to-be-forgotten outranks reproducibility.
      val cws = Bucketing.committedWaves(s, dirOf(s, prefix))
        .filter(_ <= asOfWave)
      def pruned(table: String, partCol: String, values: Array[Int]) =
        s.table(table)
          .where(col("wave").isin(cws.map(Integer.valueOf): _*) &&
            col(partCol).isin(values.map(Integer.valueOf): _*))
          .drop("wave", partCol)
      // ONE collect job for both batch-side partition sets (each extra
      // job costs a scheduling floor that dominates the probe wall at
      // small index sizes); the band leg rides the shared cached band
      // derivation — the same node the verdict core's candidate join
      // consumes
      val batchParts = nb.select(md5(col("text")).as("ch"))
        .select(lit(0).as("t"), partValue("pch", pvals).as("p"))
        .unionAll(TextDedup.bandRowsOf(nb)
          .select(lit(1).as("t"), partValue("pbh", pvals).as("p")))
        .distinct().collect()
      val pch = batchParts.filter(_.getInt(0) == 0).map(_.getInt(1)).sorted
      val pbh = batchParts.filter(_.getInt(0) == 1).map(_.getInt(1)).sorted
      TextOps.incrementalVerdicts(nb,
        live(pruned(s"${prefix}_hashes", "pch", pch), "exact_partner"),
        live(pruned(s"${prefix}_bands", "pbh", pbh), "doc_id"),
        s.table(s"${prefix}_shingles"), threshold,
        setsFor = Some { cand =>
          val pdoc = cand
            .select(pmod(col("partner_id"), lit(pvals.toLong)).cast("int")
              .as("p"))
            .distinct().collect().map(_.getInt(0)).sorted
          pruned(s"${prefix}_shingles", "pdoc", pdoc)
        },
        // stage candidates ONCE (eager local checkpoint): the pruner's
        // collect above and the re-rank join both consume the staged
        // frame, so the band-probe join runs a single time per call
        candStage = _.localCheckpoint(true))
    }
  }
}
