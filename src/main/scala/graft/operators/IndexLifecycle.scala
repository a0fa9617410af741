package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** The storage lifecycle of a persisted serving index, written once for
  * every index kind (`graft.queries.DedupIndex`, `graft.queries.VectorIndex`):
  * attach, the wave-staged append and its commit, tombstone removal,
  * compaction (quiesced or wave-horizon) with its catch-up carry, the
  * stats bookkeeping, prior-location retirement and page-cache warming.
  *
  * An index describes itself with a [[Layout]] — its data tables and
  * their bucket/partition/tombstone/dedup keys, its plain model tables
  * and its per-wave stats binding — and keeps only what is its own: the
  * derivations it writes, its probes, its stats numbers and meta schema.
  * Every data table carries `wave` as its first partition column, above
  * its hash-partition column at the index's grain (> 0) — the atomic
  * multi-table publish: an append stages one wave across all tables and
  * ONE marker-file create ([[Bucketing.commitWave]]) makes it visible.
  */
object IndexLifecycle {

  /** One data table: its sub-directory (and `<prefix>_<sub>` table
    * name), bucket keys, partition columns below `wave`, the column
    * tombstones are matched against, and the keys a compact collapses
    * replay duplicates on. */
  final case class WaveTable(sub: String, keys: Seq[String],
      partCols: Seq[String], tombCol: String, dedupKeys: Seq[String])

  /** A serving index under `prefix`: `anchor` is the table whose parent
    * directory is the index location, `idCol` the tombstone table's id
    * column, `plain` the unbucketed model/meta tables, and `waveStats`
    * builds (or reads back) wave `w`'s stats sidecar under a directory
    * ([[WaveStats.ensure]] bound to this index's tables). */
  final case class Layout(prefix: String, anchor: String, idCol: String,
      tables: Seq[WaveTable], plain: Seq[String],
      waveStats: (SparkSession, String, Int) => WaveStats.PerWave) {
    def table(sub: String): String = s"${prefix}_$sub"
    def subs: Seq[String] = tables.map(_.sub)
    def tombs: String = table("tombs")
  }

  /** The catalog location of `table`. */
  def tableLocation(spark: SparkSession, table: String): String =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .location.toString

  /** The live directory of an attached/built index (parent of the anchor
    * table's location) — Hadoop-Path arithmetic, so remote schemes
    * (s3a://, mock://) keep their scheme. */
  def dirOf(spark: SparkSession, l: Layout): String =
    new org.apache.hadoop.fs.Path(tableLocation(spark, l.table(l.anchor)))
      .getParent.toString

  /** Scheme-agnostic existence check (attach runs against whatever FS
    * the artifact lives on). */
  def exists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** The partition grain a build or re-graining compact writes at:
    * `auto` sizes it from `rows` ([[Bucketing.autoGrain]]; only then is
    * `rows` evaluated), a positive value pins it. Anything else is
    * refused — the grain is what every probe prunes on. */
  def resolveGrain(name: String, grain: Int, auto: Int,
      rows: => Long): Int = {
    require(grain == auto || grain > 0,
      s"$name = $grain is not a partition grain: pass a positive value, " +
        s"or the Auto sentinel ($auto) to size it from the row count")
    if (grain == auto) Bucketing.autoGrain(rows) else grain
  }

  /** Persist one data table at `dir/<sub>`; the frame carries `wave` and
    * the partition columns. */
  def writeTable(l: Layout, t: WaveTable, df: DataFrame, dir: String,
      buckets: Int): Unit =
    Bucketing.writePartitionedBucketedExternal(df, l.table(t.sub),
      "wave" +: t.partCols, t.keys, s"$dir/${t.sub}", buckets)

  /** The end of a build: a rebuild starts with no removals, so drop any
    * stale tombstone entry a previous index under this prefix left in
    * the catalog AND delete the on-disk tombstone files at this location
    * — otherwise a fresh session's attach would re-arm the previous
    * index's takedown list against the rebuilt data. Then PUBLISH wave 0
    * — last, so every table (and the meta/tomb state) is in place before
    * any reader can resolve a committed wave. */
  def finishBuild(spark: SparkSession, l: Layout, dir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${l.tombs}")
    val tombs = new org.apache.hadoop.fs.Path(s"$dir/tombs")
    val fs = tombs.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tombs)) fs.delete(tombs, true)
    Bucketing.commitWave(spark, dir, 0)
    buildWaveStatsAtCommit(spark, l, dir, 0)
  }

  /** Register an existing index in `spark`'s catalog — metadata only (no
    * data job) plus partition discovery. The bucket count comes from the
    * index's `meta` row, whose `grainCol` holds its partition grain.
    *
    * Refuses an artifact with no meta row or a grain of 0: that is the
    * flat (unpartitioned) layout of indexes written before partitioning,
    * which has no wave markers to resolve a committed set from. Refuses
    * an artifact with NO committed wave marker too: every healthy index
    * has one (build/compact/rebuild commit `_wave_0` last, even for an
    * empty corpus), so a markerless directory is a crashed build or a
    * pre-wave artifact — probes would resolve an EMPTY committed set and
    * serve `new` for everything, which in a dedup gate silently admits
    * the whole stream. Loud beats silent. */
  def attach(spark: SparkSession, l: Layout, dir: String,
      grainCol: String): Unit = {
    val meta = Option.when(exists(spark, s"$dir/meta"))(
        spark.read.parquet(s"$dir/meta").head())
      .filter(m => m.schema.fieldNames.contains(grainCol) &&
        m.getAs[Int](grainCol) > 0)
    require(meta.isDefined,
      s"$dir has no meta row with a positive $grainCol — a flat-layout " +
        "(unpartitioned) index, which cannot be served; rebuild it from " +
        "the corpus.")
    require(Bucketing.committedWaves(spark, dir).nonEmpty,
      s"$dir has no committed wave marker — a crashed build or a " +
        "pre-wave artifact; attaching would serve an empty index (every " +
        "verdict 'new'). Rebuild it from the corpus.")
    val buckets = meta.get.getAs[Int]("buckets")
    l.plain.foreach(sub =>
      Bucketing.attachPlain(spark, l.table(sub), s"$dir/$sub"))
    l.tables.foreach(t =>
      Bucketing.attachPartitionedBucketed(spark, l.table(t.sub),
        "wave" +: t.partCols, t.keys, s"$dir/${t.sub}", buckets))
    // the tombstone table rides along when the artifact has removals —
    // and a stale entry from a DIFFERENT index under this prefix must not
    if (exists(spark, s"$dir/tombs"))
      Bucketing.attachPlain(spark, l.tombs, s"$dir/tombs")
    else spark.sql(s"DROP TABLE IF EXISTS ${l.tombs}")
  }

  /** TOMBSTONE ids out of an attached index: the removed ids are appended
    * to a tiny `<prefix>_tombs` table (one long column, persisted next to
    * the index so a fresh session's attach keeps honoring the removal),
    * and every probe anti-joins the broadcast set ([[notTombstoned]]). */
  def remove(ids: DataFrame, id: String, l: Layout): Unit = {
    val s = ids.sparkSession
    val fresh = ids.select(col(id).cast("long").as(l.idCol)).distinct()
    // anti-join the PERSISTED set too: a retried takedown job must not
    // double-count (verdicts would stay right — the anti-join dedups —
    // but stats' tombstone fraction, the compaction trigger, would lie)
    val novel =
      if (s.catalog.tableExists(l.tombs))
        fresh.join(s.table(l.tombs), Seq(l.idCol), "left_anti")
      else fresh
    // writer-private staging + per-FILE moves: cross-JVM-safe, lock-free
    // ([[Bucketing.appendFilesByRenameTo]] — incl. its concurrent same-id
    // double-insert caveat). The FIRST tombstone publishes the files the
    // same way and only then registers the table over them, so two
    // replicas' first removes never share a committer staging dir
    // either — the same-JVM lock below serializes only the catalog DDL
    val dir = dirOf(s, l)
    Bucketing.appendFilesByRenameTo(s, novel.coalesce(1), s"$dir/tombs",
      dir)
    if (s.catalog.tableExists(l.tombs)) s.catalog.refreshTable(l.tombs)
    else Bucketing.withWriteLock(s, dir) {
      if (!s.catalog.tableExists(l.tombs))
        Bucketing.attachPlain(s, l.tombs, s"$dir/tombs")
    }
  }

  /** [[remove]] for a known takedown list. */
  def remove(spark: SparkSession, ids: Seq[Long], l: Layout): Unit = {
    import spark.implicits._
    remove(ids.toDF(l.idCol), l.idCol, l)
  }

  /** `df` minus rows whose `idCol` is tombstoned — a broadcast anti-join
    * (map-side; the takedown set is tiny by nature); identity when the
    * index has no tombstones. */
  def notTombstoned(s: SparkSession, l: Layout, df: DataFrame,
      idCol: String): DataFrame =
    if (!s.catalog.tableExists(l.tombs)) df
    else df.join(
      broadcast(s.table(l.tombs).select(col(l.idCol).as("__tomb_id"))),
      col(idCol) === col("__tomb_id"), "left_anti")

  /** WRITE-SIDE catalog self-heal: with per-process in-memory catalogs a
    * session that attached BEFORE another process's append prunes that
    * wave's partitions out of its scans. A committed wave the catalog
    * does not know ⇒ RECOVER every data table first (one listing; a
    * shared-metastore deployment never hits this — the writer's ADD
    * PARTITION is global). */
  def recoverUnseenWaves(spark: SparkSession, l: Layout,
      cws: Seq[Int]): Unit = {
    val known = Bucketing.catalogWaves(spark, l.table(l.tables.head.sub))
    if (cws.exists(!known(_))) l.subs.foreach { sub =>
      spark.sql(s"ALTER TABLE ${l.table(sub)} RECOVER PARTITIONS")
      spark.catalog.refreshTable(l.table(sub))
    }
  }

  /** The staging half of an append: writes one wave across the data
    * tables WITHOUT publishing it and returns the staged wave number.
    * `derive` maps the checkpointed batch to one frame per data table, in
    * layout order, carrying the partition columns; `release` frees the
    * batch's caches afterwards. `maxTables` is the torn-write specs'
    * fault-injection knob (stop after N table writes) — production
    * callers never pass it.
    *
    * Writer-private staging, per-FILE moves — no shared committer dir,
    * cross-JVM-safe, no lock ([[Bucketing.appendWave]]; [[commit]] lands
    * the manifest). */
  def appendStaged(batch: DataFrame, l: Layout, buckets: Int,
      maxTables: Int, release: DataFrame => Unit)(
      derive: DataFrame => Seq[DataFrame]): Int = {
    val s = batch.sparkSession
    val dir = dirOf(s, l)
    // the wave number is LEASED (atomic create-no-overwrite) before any
    // staging, so two concurrent appenders land on DISJOINT waves instead
    // of interleaving one ([[Bucketing.acquireWave]]). Concurrent writers
    // must append DISJOINT content (novel ids, not duplicated across
    // writers): parallel ingest shards partitioned by id/hash satisfy
    // this by construction.
    val wave = Bucketing.acquireWave(s, dir, l.subs)
    // EAGER local checkpoint: a caller's `batch` routinely derives from
    // probe verdicts against THIS index (the appendAdmitted loops), and
    // each table write below refreshes its catalog table — which
    // invalidates every cache whose lineage reads it, so later writes
    // would silently recompute the batch against the half-appended index,
    // where each row now duplicates ITSELF ⇒ empty appends. The
    // checkpoint severs the lineage; blocks free on GC after the writes.
    val staged = batch.localCheckpoint(true)
    try {
      val writes = l.tables.zip(derive(staged)).take(math.max(0, maxTables))
      writes.zipWithIndex.foreach { case ((t, df), i) =>
        Bucketing.appendWave(s, df.withColumn("wave", lit(wave))
            .repartition(buckets, t.keys.map(col): _*),
          l.table(t.sub), t.keys, t.partCols, buckets, dir, wave)
        // lease heartbeat between table writes: liveness age measures
        // time since last PROGRESS, so an append longer than the writer
        // TTL is not misread as crashed mid-write ([[Bucketing.touchLease]])
        if (i < l.tables.size - 1) Bucketing.touchLease(s, dir, wave)
      }
      Bucketing.releaseStaging(s, dir, wave)
      wave
    } finally release(staged)
  }

  /** The commit half of an append: the single `_wave_W` marker lands
    * LAST, so a reader between the table writes — or after a crash
    * mid-append — still resolves the previous committed set; the lease
    * is released after it (the marker supersedes it), then the wave's
    * stats sidecar is built. */
  def commit(spark: SparkSession, l: Layout, wave: Int): Unit = {
    val d = dirOf(spark, l)
    Bucketing.commitWave(spark, d, wave)
    Bucketing.releaseWave(spark, d, wave)
    buildWaveStatsAtCommit(spark, l, d, wave)
  }

  /** Commit-time sidecar build: building lazily on the first folded
    * `stats()` put the wave's full aggregate on the READ path — measured
    * 8.8 s at the 5M-doc decade against the 0.08 s steady fold. At commit
    * the wave's data pass just happened (page-cache-warm) and the cost is
    * wave-proportional by construction. Failures are logged, never
    * thrown: the wave is ALREADY committed (a caller retrying the append
    * would double-append), and the sidecar is derived data the next
    * `stats()` backfills. */
  private def buildWaveStatsAtCommit(spark: SparkSession, l: Layout,
      d: String, w: Int): Unit =
    try { l.waveStats(spark, d, w); () }
    catch {
      case e: Exception => Console.err.println(
        s"[graft] wave $w sidecar build under $d failed " +
          s"(stats() will backfill): $e")
    }

  /** Refuse a rewrite into the live location — `op` rewrites tables
    * while reading them. Hadoop-Path comparison, NOT java.io.File:
    * scheme-qualified live locations (s3a://, mock://) never match a
    * File path, which would let the rewrite silently destroy the index
    * it is reading. */
  def requireFreshTarget(spark: SparkSession, l: Layout, outDir: String,
      op: String): Unit =
    require(!Bucketing.samePath(spark, tableLocation(spark,
        l.table(l.anchor)), s"$outDir/${l.anchor}"),
      s"$op target $outDir is the live index location — $op rewrites " +
        "tables while reading them, so it needs a fresh directory")

  /** The data of `src`'s table `sub` read from its FILES, not the catalog
    * table: when the rewrite targets the same prefix it drops the catalog
    * entry first, and a PARTITIONED table's scan consults the catalog
    * lazily at execution (CatalogFileIndex) — reading the location keeps
    * the plan catalog-independent (partition columns come back via
    * directory inference, identically valued). Only the committed waves
    * `cws` are kept. */
  def committedFiles(spark: SparkSession, src: Layout, sub: String,
      cws: Seq[Int]): DataFrame =
    spark.read.parquet(tableLocation(spark, src.table(sub)))
      .where(col("wave").isin(cws.map(Integer.valueOf): _*))

  /** COMPACT `src` into `outDir` under `out` (same tables, possibly a new
    * prefix): the shared frame of every index's compact. `srcGrain` is
    * the source grain; `grain` the requested one (0 inherits, `auto`
    * re-sizes from `liveRows`, positive pins); `reshape` says the call
    * asks for a new grain or bucket count. `write` receives the live
    * reader (committed waves folded into wave 0, tombstoned rows dropped,
    * replay duplicates collapsed) and the output grain, and writes the
    * data tables plus the model/meta tables at `outDir`.
    *
    * Quiesced mode snapshots the committed wave set once and refuses a
    * possibly-live writer lease ([[Bucketing.requireQuiesced]]) unless
    * `force`. Abandoned waves are excluded from the rewrite — compaction
    * is where their garbage is reclaimed — and tombstones are NOT carried
    * (the deletions are materialized).
    *
    * `upToWave` H selects the WAVE-HORIZON (online) mode: committed waves
    * ≤ H fold into wave 0 while writers keep appending > H at the old
    * location (no quiesce check — committed waves are immutable and the
    * fold never reads above its snapshot); the > H waves are then carried
    * over ([[carryNewWaves]]). Tombstones carry instead of clearing, and
    * re-shaping is refused: carried waves keep their source-grain
    * partition values. */
  def compact(spark: SparkSession, src: Layout, out: Layout,
      outDir: String, srcGrain: Int, grain: Int, auto: Int,
      reshape: Boolean, force: Boolean, upToWave: Int)(
      liveRows: (String => DataFrame) => Long)(
      write: (String => DataFrame, Int) => Unit): Unit = {
    val horizon = upToWave != Int.MaxValue
    val oldDir = dirOf(spark, src)
    if (horizon) {
      require(!reshape,
        "wave-horizon compact cannot re-grain or re-bucket: carried " +
          "waves keep their source-grain partition values, which a new " +
          "grain would silently mis-prune — run a full (quiesced) " +
          "compact to re-shape")
      require(upToWave >= 0, s"upToWave=$upToWave is not a wave horizon")
    } else Bucketing.requireQuiesced(spark, oldDir, force, "compact")
    requireFreshTarget(spark, src, outDir, "compact")
    val cws = Bucketing.committedWaves(spark, oldDir).filter(_ <= upToWave)
    def live(sub: String): DataFrame = {
      val t = src.tables.find(_.sub == sub).get
      notTombstoned(spark, src,
        committedFiles(spark, src, sub, cws).withColumn("wave", lit(0)),
        t.tombCol)
        .dropDuplicates(t.dedupKeys)
    }
    val outGrain =
      if (grain == 0) srcGrain
      else resolveGrain("grain", grain, auto, liveRows(live))
    Bucketing.clearWaveMarkers(spark, outDir)
    write(live, outGrain)
    spark.sql(s"DROP TABLE IF EXISTS ${out.tombs}")
    // horizon: carried forward, not cleared — deletions are materialized
    // in the folded wave 0, but carried (> H) waves — and takedowns
    // landing at the old location mid-transition — still need the list
    if (horizon && Bucketing.syncTombFiles(spark, oldDir, outDir))
      Bucketing.attachPlain(spark, out.tombs, s"$outDir/tombs")
    Bucketing.commitWave(spark, outDir, 0)
    // carried (> H) waves stay lazy: each is batch-proportional, and the
    // carry loop below races appenders — the next stats() backfills
    buildWaveStatsAtCommit(spark, out, outDir, 0)
    if (horizon) {
      Bucketing.writeCarryLedger(spark, outDir, oldDir, upToWave, Nil)
      // carry committed > H waves until a round brings nothing new — a
      // writer appending DURING this loop lands in a later round; one
      // committing after the loop exits reaches the new location via the
      // carryNewWaves catch-up
      while (carryNewWaves(spark, out).nonEmpty) ()
    }
    // in-place flip: the old location is now STRANDED — nobody serves
    // it, nothing deletes it, and at 100 TB each maintenance compact
    // doubles storage until someone does. Record it (plus any chain it
    // carried) for the guarded [[retirePrior]]
    if (out.prefix == src.prefix)
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
  def carryNewWaves(spark: SparkSession, l: Layout): Seq[(Int, Int)] = {
    val dir = dirOf(spark, l)
    val ledger = Bucketing.readCarryLedger(spark, dir)
    require(ledger.isDefined,
      s"$dir has no _carried ledger — not a wave-horizon compact target")
    val (from, upTo, mapping) = ledger.get
    if (Bucketing.syncTombFiles(spark, from, dir) &&
        !spark.catalog.tableExists(l.tombs))
      Bucketing.attachPlain(spark, l.tombs, s"$dir/tombs")
    else if (spark.catalog.tableExists(l.tombs))
      spark.catalog.refreshTable(l.tombs)
    val pending = Bucketing.committedWaves(spark, from)
      .filter(_ > upTo).filterNot(mapping.contains)
    var m = mapping
    pending.map { w =>
      val toW = Bucketing.claimCarryWave(spark, dir, l.subs, w)
      val parts = Bucketing.copyWaveFiles(spark, from, dir, w, toW)
      l.subs.foreach(sub => parts.get(sub).foreach(rel =>
        Bucketing.registerWavePartitions(spark, l.table(sub), toW, rel)))
      // marker LAST: a probe between registration and this commit still
      // resolves a consistent horizon without the carried wave
      Bucketing.commitCarriedWave(spark, from, dir, w, toW)
      Bucketing.releaseWave(spark, dir, toW)
      m = m + (w -> toW)
      Bucketing.writeCarryLedger(spark, dir, from, upTo, m.toSeq)
      (w, toW)
    }
  }

  /** RETIRE the stranded prior locations past in-place compacts/rebuilds
    * left behind — the guarded grace-period delete
    * ([[Bucketing.retirePriors]]): refuses while any live writer lease or
    * reader marker sits on an old location; `force = true` overrides for
    * known-drained replicas. Returns the deleted directories. */
  def retirePrior(spark: SparkSession, l: Layout,
      force: Boolean): Seq[String] =
    Bucketing.retirePriors(spark, dirOf(spark, l), force)

  /** WARM an attached index's bytes through the page cache — call after
    * attach on a cold deployment, BEFORE the first serving request:
    * first-probe latency measured 2.8–9× of warm, dominated by cold
    * bytes; this pays them at sequential bandwidth up front
    * ([[Bucketing.warmFiles]]). Returns bytes read. */
  def warm(spark: SparkSession, l: Layout): Long = {
    val d = dirOf(spark, l)
    (l.subs ++ l.plain :+ "tombs")
      .map(sub => Bucketing.warmFiles(spark, s"$d/$sub")).sum
  }

  /** The index-independent half of `stats`: the committed wave set and
    * the maintenance counters every index reports. */
  final case class Census(committedWaves: Seq[Int], abandonedWaves: Int,
      tombstones: Long, fileSets: Map[String, Int], stagingDirs: Int,
      staleStagingDirs: Int, priorDirs: Seq[String],
      quarantinedWaves: Int) {
    def committedWave: Int = committedWaves.foldLeft(-1)(math.max)
  }

  /** Take the [[Census]] of an attached index. Counting sees what probes
    * see — committed waves only; `abandonedWaves > 0` is the
    * crashed-append detector (invisible garbage; compact reclaims it). */
  def census(spark: SparkSession, l: Layout): Census = {
    val d = dirOf(spark, l)
    val tombs =
      if (spark.catalog.tableExists(l.tombs)) spark.table(l.tombs).count()
      else 0L
    val files = l.subs.map(sub => sub -> Bucketing.partFileCount(spark,
      tableLocation(spark, l.table(sub)))).toMap
    // staging roots split by age against the presumed-live writer TTL:
    // a YOUNG root is probably an in-flight append (not a compact
    // reason); an OLD one is crash garbage
    val stages = Bucketing.stagingDirAges(spark, d)
    val ttl = Bucketing.writerLiveTtlMs(spark)
    Census(Bucketing.committedWaves(spark, d),
      Bucketing.abandonedWaves(spark, d, l.subs), tombs, files, stages.size,
      stages.count(_._2 >= ttl),
      // stranded prior locations (past in-place compacts/rebuilds) — dead
      // full copies of the index until retirePrior deletes them
      Bucketing.priorLocations(spark, d),
      Bucketing.quarantinedWaves(spark, d).size)
  }

  /** The committed waves' per-wave stats sidecars folded over
    * `occKeys`. Waves are immutable, so each wave's sidecar is computed
    * once, wave-pruned, and persisted under `_wavestats/` ([[WaveStats]]). */
  def foldedStats(spark: SparkSession, l: Layout, cws: Seq[Int],
      occKeys: Seq[String]): WaveStats.Folded = {
    val d = dirOf(spark, l)
    // catalog self-heal before computing sidecars: a sidecar computed
    // over a view that prunes out another process's wave would PERSIST
    // zeros for it
    recoverUnseenWaves(spark, l, cws)
    WaveStats.fold(spark, d, cws.map(w => l.waveStats(spark, d, w)), occKeys)
  }
}
