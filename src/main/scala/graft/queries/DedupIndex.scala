package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bucketing, IndexLifecycle, WaveStats}
import graft.operators.IndexLifecycle.WaveTable

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
  * the vector index's r14 scale series measured). The layout therefore
  * layers Hive-style hash-partition directories above the bucket files —
  * `pch = xxhash64(ch) % pvals` on hashes, `pbh = h % pvals` on bands,
  * `pdoc = doc_id % pvals` on shingles — and the probe filters each table
  * to the partition values the batch (or its candidates) actually lands
  * in, collected in tiny batch-proportional jobs. Every potential match
  * necessarily shares the probe's key, so the pruning is verdict-neutral
  * (spec-pinned against the in-session [[TextOps.incrementalDedup]]); the
  * scan cost drops to |probed partitions|/pvals of the index.
  *
  * ATOMIC multi-table publish: every table additionally carries `wave`
  * as the FIRST partition column — each [[append]] stages
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
    * grain. A small serving batch probes a handful of partitions either
    * way: a 10-doc batch touches ≤10 hash partitions, ≤60 band
    * partitions, and as many shingle partitions as it has CANDIDATES —
    * each scan reads that fraction of the index. */
  val AutoPvals: Int = -1

  /** The lifecycle layout of the index under `prefix`
    * ([[IndexLifecycle]]): each table bucketed on its probe-join key and
    * hash-partitioned on `partValue` of it; tombstones match the
    * partner-bearing id column. */
  private[queries] def layout(prefix: String): IndexLifecycle.Layout =
    IndexLifecycle.Layout(prefix, anchor = "hashes", idCol = "doc_id",
      tables = Seq(
        WaveTable("hashes", Seq("ch"), Seq("pch"), "exact_partner",
          Seq("ch")),
        WaveTable("bands", Seq("b", "h"), Seq("pbh"), "doc_id",
          Seq("doc_id", "b", "h")),
        WaveTable("shingles", Seq("doc_id"), Seq("pdoc"), "doc_id",
          Seq("doc_id"))),
      plain = Seq("meta"),
      // wave `w`'s stats sidecar: shingle doc ids, hash aux column, band
      // occupancy
      waveStats = (spark, d, w) => WaveStats.ensure(spark, d, w,
        ids = spark.table(s"${prefix}_shingles")
          .where(col("wave") === w).select("doc_id"),
        aux = Some(spark.table(s"${prefix}_hashes")
          .where(col("wave") === w).select("ch")),
        occ = spark.table(s"${prefix}_bands")
          .where(col("wave") === w).groupBy("b", "h")
          .agg(count_distinct(col("doc_id")).as("n"))))

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

  /** Partition count of an attached/built index (its meta row). */
  def pvalsOf(spark: SparkSession, prefix: String = "dedup_idx"): Int =
    spark.table(s"${prefix}_meta").head().getAs[Int]("pvals")

  /** The live index directory of an attached/built index (parent of the
    * hashes table's location) — the REST stats surface reports
    * lease/staging/reader telemetry against it; operators pass it to the
    * [[graft.operators.Bucketing]] diagnostics. */
  def location(spark: SparkSession, prefix: String = "dedup_idx"): String =
    IndexLifecycle.dirOf(spark, layout(prefix))

  /** [[location]] for the maintenance layer (reclaim targets the live
    * directory in place). */
  private[queries] def liveDir(spark: SparkSession, prefix: String): String =
    location(spark, prefix)

  /** TOMBSTONE documents out of an attached/built index — the takedown /
    * deletion half of index maintenance ([[append]] is the growth half):
    * the removed ids land in a tiny `<prefix>_tombs` table persisted next
    * to the index ([[IndexLifecycle.remove]]), and every probe anti-joins
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
  def remove(ids: DataFrame, id: String, prefix: String = "dedup_idx"): Unit =
    IndexLifecycle.remove(ids, id, layout(prefix))

  /** [[remove]] for a driver-known takedown list. */
  def remove(spark: SparkSession, ids: Seq[Long], prefix: String): Unit =
    IndexLifecycle.remove(spark, ids, layout(prefix))

  /** Operational statistics of an attached index — the maintenance
    * decision surface (lifecycle counters from
    * [[IndexLifecycle.census]]). What the numbers drive:
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
    * call (`StatsFoldSpec` keeps that aggregate as its parity oracle);
    * tombstones, staging ages, priors, and file counts stay
    * live-computed. */
  final case class IndexStats(docs: Long, liveDocs: Long, tombstones: Long,
      distinctHashes: Long, bandBuckets: Long, maxBandBucket: Long,
      meanBandBucket: Double, bandSkew: Double, fileSets: Map[String, Int],
      committedWave: Int, abandonedWaves: Int, committedWaveCount: Int,
      stagingDirs: Int = 0, staleStagingDirs: Int = 0,
      priorDirs: Seq[String] = Nil, quarantinedWaveCount: Int = 0)

  def stats(spark: SparkSession, prefix: String = "dedup_idx"): IndexStats = {
    // DISTINCT ids, not row counts: an at-least-once REPLAYED append
    // (verdict-neutral by the probe cores' batch-id anti-join) writes
    // duplicate shingle/band rows per doc, and raw counts would drift
    // docs/liveDocs and the tombstones/docs compaction trigger after any
    // replay (r14 advisor). [[compact]] dedups by id, re-aligning the
    // physical artifact with these logical counts.
    val l = layout(prefix)
    val c = IndexLifecycle.census(spark, l)
    val f = IndexLifecycle.foldedStats(spark, l, c.committedWaves, Seq("b", "h"))
    IndexStats(f.nIds, f.nIds - c.tombstones, c.tombstones, f.nAux, f.occCnt,
      f.occMax, f.occMean, if (f.occMean == 0.0) 0.0 else f.occMax / f.occMean,
      c.fileSets, c.committedWave, c.abandonedWaves, c.committedWaves.length,
      c.stagingDirs, c.staleStagingDirs, c.priorDirs, c.quarantinedWaves)
  }

  /** `df` with table `t`'s partition column derived at grain `pvals`. */
  private def withPart(t: WaveTable, df: DataFrame, pvals: Int): DataFrame =
    df.withColumn(t.partCols.head, partValue(t.partCols.head, pvals))

  private def writeMeta(s: SparkSession, prefix: String, dir: String,
      pvals: Int, buckets: Int): Unit = {
    import s.implicits._
    Bucketing.writePlainExternal(
      Seq((pvals, buckets)).toDF("pvals", "buckets").coalesce(1),
      s"${prefix}_meta", s"$dir/meta")
  }

  /** Derive the corpus artifacts and persist them under `dir` (also
    * registering `<prefix>_*` in this session's catalog). One corpus pass
    * per artifact; the shared shingle cache ([[TextDedup]]) means the
    * expensive 3-gram derivation is computed once across the three. */
  def build(corpus: DataFrame, id: String, text: String, dir: String,
      prefix: String = "dedup_idx", buckets: Int = DefaultBuckets,
      pvals: Int = AutoPvals): Unit = {
    val s = corpus.sparkSession
    val l = layout(prefix)
    val nc = corpus.select(col(id).cast("long").as("doc_id"),
      col(text).cast("string").as("text"))
    // AUTO grain: one count of the narrow (id, text) projection — a small
    // fraction of the multi-pass derivation cost below, and the price of
    // a grain that probes at constant cost as the corpus decades up
    val pv = IndexLifecycle.resolveGrain("pvals", pvals, AutoPvals,
      nc.count())
    // the wave history restarts with the rebuild: old markers must not
    // make the new tables' wave=0 visible before it is written (build is
    // not atomic — the single-writer contract covers rebuilds; readers
    // of a LIVE index rebuild into a fresh directory instead)
    Bucketing.clearWaveMarkers(s, dir)
    val frames = Seq(
      nc.select(col("doc_id"), md5(col("text")).as("ch"))
        .groupBy("ch").agg(min("doc_id").as("exact_partner")),
      TextDedup.bandRowsOf(nc),
      TextDedup.shingleSetsOf(nc))
    l.tables.zip(frames).foreach { case (t, df) =>
      IndexLifecycle.writeTable(l, t,
        withPart(t, df, pv).withColumn("wave", lit(0)), dir, buckets)
    }
    writeMeta(s, prefix, dir, pv, buckets)
    IndexLifecycle.finishBuild(s, l, dir)
    // release the derivation caches build() itself populated: the index
    // is on disk now, and a long-lived builder session should not keep
    // the corpus-sized shingle/band plans pinned
    TextDedup.unpersistDerivationsOf(nc)
  }

  /** APPEND a batch of documents to an attached/built index. The
    * MinHash/shingle derivations are model-free (no quantizer to
    * freeze), so an appended index serves verdicts bit-identical to a
    * full rebuild over corpus ∪ batch whenever the appended content is
    * novel (the admitted ingest stream — spec-pinned in DedupIndexSpec).
    * The one divergence: a batch doc whose content hash ALREADY exists
    * keeps the corpus's exact-partner row (its novel-ch filter skips the
    * collision), where a rebuild would re-minimize over both ids —
    * irrelevant for admitted (verdict `new`) docs, which have no existing
    * partner by definition. Each append adds one file set per bucket;
    * compact to collapse them.
    *
    * ATOMIC PUBLISH: the wave's rows are staged
    * under `wave=W` partition directories across all three tables and
    * become visible only when the single `_wave_W` marker is created
    * LAST ([[IndexLifecycle.commit]]) — a reader between the three table
    * writes still resolves the previous committed wave and sees a
    * CONSISTENT index, never a torn one (exact-dup rows present, near-dup
    * rows missing); a crash mid-append leaves only invisible garbage a
    * later [[compact]] reclaims, and the retried append stages wave W+1.
    * Staging is WRITER-PRIVATE ([[Bucketing.appendWave]]: the wave's
    * files are written under a dot-prefixed private root and moved into
    * place file by file, then the marker lands as the wave's manifest),
    * so concurrent appenders — other threads AND other processes, on
    * local disk, HDFS or an object store — interleave safely with no
    * lock, under the DISJOINT-CONTENT contract (see [[appendStaged]]).
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
      prefix: String = "dedup_idx"): Unit =
    IndexLifecycle.commit(batch.sparkSession, layout(prefix),
      appendStaged(batch, id, text, prefix))

  /** The staging half of [[append]] ([[IndexLifecycle.appendStaged]]):
    * writes the wave's files across all tables WITHOUT publishing them
    * and returns the staged wave number. `maxTables` is the
    * fault-injection knob the torn-write spec uses to stop after N table
    * writes. */
  private[queries] def appendStaged(batch: DataFrame, id: String,
      text: String, prefix: String = "dedup_idx",
      maxTables: Int = Int.MaxValue): Int = {
    val s = batch.sparkSession
    val l = layout(prefix)
    val meta = s.table(s"${prefix}_meta").head()
    val pvals = meta.getAs[Int]("pvals")
    // committed-set horizon for the novel-ch anti-join: an UNCOMMITTED
    // leftover wave (crashed append) must not suppress re-appending its
    // content — those rows are invisible to every probe forever
    val cws = Bucketing.committedWaves(s, location(s, prefix))
    // the anti-join below would re-insert the hashes of a wave this
    // session's catalog does not know as novel — duplicate exact-verdict
    // rows until compact; self-heal first
    IndexLifecycle.recoverUnseenWaves(s, l, cws)
    IndexLifecycle.appendStaged(
      batch.select(col(id).cast("long").as("doc_id"),
        col(text).cast("string").as("text")),
      l, meta.getAs[Int]("buckets"), maxTables,
      TextDedup.unpersistDerivationsOf) { nc =>
      // novel-ch anti-join, PRUNED: any index ch equal to a batch ch
      // necessarily lives in one of the batch's pch partitions (same
      // partValue derivation), so the anti-join scans |batch ch|/pvals of
      // the corpus-sized table instead of all of it. It reads the
      // committed snapshot, so two concurrent writers carrying the same
      // new text would each see it as novel and both insert its hash row
      // (compact collapses them by ch) — hence the disjoint-content
      // contract
      val pch = nc.select(md5(col("text")).as("ch"))
        .select(partValue("pch", pvals).as("p"))
        .distinct().collect().map(_.getInt(0)).sorted
      val existingCh = s.table(s"${prefix}_hashes")
        .where(col("wave").isin(cws.map(Integer.valueOf): _*) &&
          col("pch").isin(pch.map(Integer.valueOf): _*))
        .select("ch")
      val frames = Seq(
        nc.select(col("doc_id"), md5(col("text")).as("ch"))
          .groupBy("ch").agg(min("doc_id").as("exact_partner"))
          // novel-ch only: a second row per ch would multiply the probe join
          .join(existingCh, Seq("ch"), "left_anti"),
        TextDedup.bandRowsOf(nc),
        TextDedup.shingleSetsOf(nc))
      l.tables.zip(frames).map { case (t, df) => withPart(t, df, pvals) }
    }
  }

  /** COMPACT an attached index into `outDir`
    * ([[IndexLifecycle.compact]]): every [[append]] adds one file set per
    * bucket (and partition); compaction rewrites the three tables
    * (collapsing them) with identical content, so serving is
    * bit-identical (the derivations are data, not model — nothing to
    * freeze). Refuses the live location.
    *
    * `buckets <= 0` (the default) INHERITS the source index's bucket
    * count (its meta row), so compacting an index built with a
    * non-default count never silently rewrites its layout/parallelism
    * (r14 advisor); pass an explicit positive value only to deliberately
    * re-bucket.
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
    * verdicts are grain-invariant (spec-pinned).
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
    * the fresh history starts at wave 0. Deletions materialize here too:
    * tombstoned rows are dropped (hashes by their partner id,
    * bands/shingles by doc id), and duplicate rows a replayed append left
    * behind (identical by construction — the derivations are
    * deterministic) collapse, so the compacted artifact matches
    * [[stats]]' distinct-id counts.
    *
    * `upToWave` — the WAVE-HORIZON (online) mode (r18 verdict item 1): at
    * 100 TB a full-index rewrite is hours, and the enforced quiesce above
    * halts ingest for all of it — the last stop-the-world in the design.
    * Passing a horizon H folds committed waves ≤ H into `outDir` as a
    * fresh wave 0 WHILE WRITERS KEEP APPENDING waves > H at the old
    * location; the > H waves are then CARRIED over — per-file copies
    * published one marker at a time under the ordinary wave protocol,
    * numbers preserved when free and lease-remapped when a writer already
    * appending at `outDir` took one ([[Bucketing.claimCarryWave]]). The
    * compact's own carry loop runs until it finds nothing new; waves
    * committed at the OLD location after it returns reach the new one
    * via [[carryNewWaves]] until the operator redirects writers. Horizon
    * mode differences: TOMBSTONES are carried, not cleared (so
    * re-admitting a removed id still needs a FULL compact);
    * re-graining/re-bucketing is refused (carried waves' partition values
    * were derived at the source grain); quarantined waves stay behind at
    * the old location (forensics) exactly as a full compact purges
    * them. */
  def compact(spark: SparkSession, outDir: String,
      prefix: String = "dedup_idx", outPrefix: String = null,
      buckets: Int = 0, pvals: Int = 0, force: Boolean = false,
      upToWave: Int = Int.MaxValue): Unit = {
    // null outPrefix (the default) = in place under `prefix`: a literal
    // "dedup_idx" default silently compacted a prefix="x" index into the
    // unrelated "dedup_idx" catalog entries (Scala cannot default one
    // parameter to another)
    val outPfx = Option(outPrefix).getOrElse(prefix)
    val out = layout(outPfx)
    val meta = spark.table(s"${prefix}_meta").head()
    val outBuckets =
      if (buckets > 0) buckets else meta.getAs[Int]("buckets")
    IndexLifecycle.compact(spark, layout(prefix), out, outDir,
      meta.getAs[Int]("pvals"), pvals, AutoPvals, pvals != 0 || buckets > 0,
      force, upToWave)(
      live => live("shingles").select("doc_id").distinct().count()) {
      (live, outPvals) =>
        // ALWAYS recompute the partition column at the output grain
        // (identical values when the grain is inherited — partValue is
        // the one shared derivation — and the re-grain path otherwise)
        out.tables.foreach(t => IndexLifecycle.writeTable(out, t,
          withPart(t, live(t.sub).drop(t.partCols.head), outPvals), outDir,
          outBuckets))
        writeMeta(spark, outPfx, outDir, outPvals, outBuckets)
    }
  }

  /** CATCH-UP carry for a wave-horizon [[compact]]
    * ([[IndexLifecycle.carryNewWaves]]): returns the (fromWave → toWave)
    * pairs carried this call; empty once the old location is drained. */
  def carryNewWaves(spark: SparkSession,
      prefix: String = "dedup_idx"): Seq[(Int, Int)] =
    IndexLifecycle.carryNewWaves(spark, layout(prefix))

  /** RETIRE the stranded prior locations a past in-place [[compact]] left
    * behind ([[IndexLifecycle.retirePrior]]); `force = true` overrides
    * the live-lease/reader guard. Returns the deleted directories. */
  def retirePrior(spark: SparkSession, prefix: String = "dedup_idx",
      force: Boolean = false): Seq[String] =
    IndexLifecycle.retirePrior(spark, layout(prefix), force)

  /** Register an existing index written by [[build]] in `spark`'s catalog
    * — metadata only (no data job, no corpus recomputation) plus one
    * partition-discovery pass; buckets/pvals come from `dir/meta`.
    * Refuses a meta-less or grain-0 (flat-layout) artifact and one with
    * no committed wave ([[IndexLifecycle.attach]]). */
  def attach(spark: SparkSession, dir: String,
      prefix: String = "dedup_idx"): Unit =
    IndexLifecycle.attach(spark, layout(prefix), dir, "pvals")

  /** WARM an attached index's bytes through the page cache
    * ([[IndexLifecycle.warm]]) — call after [[attach]] on a cold
    * deployment, before the first serving request. Returns bytes read. */
  def warm(spark: SparkSession, prefix: String = "dedup_idx"): Long =
    IndexLifecycle.warm(spark, layout(prefix))

  /** q48-semantics ingest verdicts for `batch`, served entirely off the
    * persisted `<prefix>_*` tables ([[build]] or [[attach]] must have
    * registered them in `batch`'s session). Batch-proportional: the batch
    * derives its own hashes/bands/shingles; the corpus contributes only
    * bucketed table scans — pruned to the partition values the batch
    * probes (two tiny batch-side collect jobs
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
    // the tombstone anti-join rides the partner-bearing sides only: a
    // filtered exactMap hides removed exact partners, filtered corpus
    // bands keep removed docs out of the candidate set — the shingle
    // side needs nothing (candidates are already live-only)
    def live(df: DataFrame, idCol: String) =
      IndexLifecycle.notTombstoned(s, layout(prefix), df, idCol)
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
    val cws = Bucketing.committedWaves(s, location(s, prefix))
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
      cand => {
        val pdoc = cand
          .select(pmod(col("partner_id"), lit(pvals.toLong)).cast("int")
            .as("p"))
          .distinct().collect().map(_.getInt(0)).sorted
        pruned(s"${prefix}_shingles", "pdoc", pdoc)
      }, threshold,
      // stage candidates ONCE (eager local checkpoint): the pruner's
      // collect above and the re-rank join both consume the staged
      // frame, so the band-probe join runs a single time per call
      candStage = _.localCheckpoint(true))
  }
}
