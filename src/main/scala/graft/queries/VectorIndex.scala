package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bucketing, IndexLifecycle, WaveStats}
import graft.operators.IndexLifecycle.WaveTable

/** PERSISTED vector serving index — the embedding twin of [[DedupIndex]]
  * (the r13 verdict's top next-round item): the artifacts the cell-sharded
  * semantic-dedup and PQ-ANN serving paths derive per session
  * ([[VectorOps.semanticIncrementalCellsIndexed]]'s k-means centroids +
  * cell assignment + banded LSH rows, [[VectorOps.pqIndexOf]]'s codebooks
  * + encoded codes) written ONCE to external tables, so a FRESH session —
  * or a different cluster entirely — [[attach]]es the artifact (metadata
  * only) and serves bit-identical verdicts with ZERO corpus recomputation:
  * no k-means retraining, no signature pass, no PQ re-encoding, not even a
  * scan of the raw embeddings.
  *
  * Layout under `dir` (bucketed+sorted external tables, [[Bucketing]];
  * vecs/bands additionally carry Hive-style `pcell = cell % pcells`
  * partition directories so serving probes PRUNE the scan to the cells
  * the batch actually lands in — bucketing alone prunes exchanges, not
  * scans; all four data tables carry `wave` as their first partition
  * column for the atomic multi-table publish — [[append]] stages a wave
  * across the tables and ONE marker-file create makes it visible, probes
  * filter `wave IN (committed set)`, see [[DedupIndex]]):
  *
  *   - `<prefix>_vecs`    (vec_id, efp, nrm / pcell)    bucketed vec_id,
  *                        partitioned pcell — the quantized index,
  *                        re-rank side of every probe
  *   - `<prefix>_bands`   (partner_id, cell, k, v / pcell) bucketed
  *                        (cell,k,v), partitioned pcell — the cell-scoped
  *                        LSH band index; the batch's probe join needs no
  *                        exchange on this side and scans only probed
  *                        pcell directories
  *   - `<prefix>_cells`   (vec_id, cell)                bucketed vec_id —
  *                        the coarse-quantizer assignment
  *   - `<prefix>_pqcodes` (vec_id, codes, rnorm2)       bucketed vec_id —
  *                        the m-byte PQ representation + reconstructed norm
  *   - `<prefix>_cents`   (cell, cefp)                  plain parquet —
  *                        k-means centroids (driver-collected at probe time)
  *   - `<prefix>_pqbooks` (j, code, w)                  plain parquet —
  *                        per-subspace PQ codewords (driver-collected)
  *   - `<prefix>_meta`    one row of build knobs        plain parquet
  *
  * Bit-parity contract (pinned by `VectorIndexSpec`): [[incrementalDedup]]
  * equals the building session's
  * [[VectorOps.semanticIncrementalCellsIndexed]] and [[knn]] equals its
  * [[VectorOps.knnPqIndexed]] — both paths feed the SAME probe cores with
  * the SAME persisted derivations (parquet round-trips of long/int arrays
  * are exact; centroids/codebooks re-collect to identical driver arrays).
  *
  * 100 TB shape: the index never moves — probe joins read the bucketed
  * layout in place; each serving batch pays only its own signatures +
  * assignment + the (cell, band, value)-bucketed candidate join, volume
  * pinned to ~targetCellRows per batch vector regardless of corpus size.
  * The LSH shape is frozen at build time (sized by [[VectorOps.autoShape]]
  * against the build `minCos`), so every serving session probes with the
  * exact scheme the bands were written under.
  */
object VectorIndex {

  /** Default bucket count per table — raise at real scale so each bucket
    * file stays executor-sized ([[DedupIndex.DefaultBuckets]] rationale). */
  val DefaultBuckets = 8

  /** AUTO-SIZE sentinel for the cell-range PARTITION count `pcells` of
    * the bands/vecs tables (`pcell = cell % pcells` Hive-style directories
    * above the bucket files): bucketing prunes EXCHANGES but not SCANS,
    * so without them a constant-size serving batch still reads the whole
    * band table — the linear residual the r14 probe series measured (2.2×
    * wall for 100× index). A batch probes only the cells it lands in, and
    * the probe filters `pcell IN (batch's cells % pcells)` —
    * planning-time directory pruning caps the scan at |probed
    * pcells|/pcells of the index. The grain derives from the corpus row
    * count via [[Bucketing.autoGrain]] ([[DedupIndex.AutoPvals]] twin), so
    * it follows the corpus across decades — the r15 series' one open
    * scale finding. The default for [[build]]; [[compact]] and
    * [[rebuild]] accept it to RE-grain from live rows. */
  val AutoPcells: Int = -1

  /** Driver-held image of `<prefix>_meta`. */
  final case class Meta(minCos: Double, dims: Int, nCells: Int,
      kmeansIters: Int, trainSampleCap: Long, targetCellRows: Int,
      planes: Int, bands: Int, pqM: Int, pqKsub: Int, corpusRows: Long,
      buckets: Int, pcells: Int)

  private def metaOf(r: Row): Meta = Meta(
    r.getAs[Double]("min_cos"), r.getAs[Int]("dims"), r.getAs[Int]("n_cells"),
    r.getAs[Int]("kmeans_iters"), r.getAs[Long]("train_sample_cap"),
    r.getAs[Int]("target_cell_rows"), r.getAs[Int]("planes"),
    r.getAs[Int]("bands"), r.getAs[Int]("pq_m"), r.getAs[Int]("pq_ksub"),
    r.getAs[Long]("corpus_rows"), r.getAs[Int]("buckets"),
    r.getAs[Int]("pcells"))

  /** Read the persisted meta row for `prefix` from the session catalog. */
  def meta(spark: SparkSession, prefix: String = "vec_idx"): Meta =
    metaOf(spark.table(s"${prefix}_meta").head())

  /** The lifecycle layout of the index under `prefix`
    * ([[IndexLifecycle]]): vecs/bands are cell-range partitioned
    * (`pcell`), cells/pqcodes only by wave; tombstones match the vector
    * id (the partner id on the band side); the k-means centroids, PQ
    * codebooks and meta are the plain model tables. */
  private[queries] def layout(prefix: String): IndexLifecycle.Layout =
    IndexLifecycle.Layout(prefix, anchor = "meta", idCol = "vec_id",
      tables = Seq(
        WaveTable("vecs", Seq("vec_id"), Seq("pcell"), "vec_id",
          Seq("vec_id")),
        WaveTable("bands", Seq("cell", "k", "v"), Seq("pcell"),
          "partner_id", Seq("partner_id", "cell", "k", "v")),
        WaveTable("cells", Seq("vec_id"), Nil, "vec_id", Seq("vec_id")),
        WaveTable("pqcodes", Seq("vec_id"), Nil, "vec_id", Seq("vec_id"))),
      plain = Seq("cents", "pqbooks", "meta"),
      // wave `w`'s stats sidecar: cell occupancy; no protocol-disjoint
      // aux column on the vector side
      waveStats = (spark, d, w) => WaveStats.ensure(spark, d, w,
        ids = spark.table(s"${prefix}_cells")
          .where(col("wave") === w).select("vec_id"),
        aux = None,
        occ = spark.table(s"${prefix}_cells")
          .where(col("wave") === w).groupBy("cell")
          .agg(count_distinct(col("vec_id")).as("n"))))

  private def writeMeta(s: SparkSession, m: Meta, prefix: String,
      dir: String): Unit = {
    import s.implicits._
    Bucketing.writePlainExternal(Seq((m.minCos, m.dims, m.nCells,
      m.kmeansIters, m.trainSampleCap, m.targetCellRows, m.planes, m.bands,
      m.pqM, m.pqKsub, m.corpusRows, m.buckets, m.pcells))
      .toDF("min_cos", "dims", "n_cells", "kmeans_iters",
        "train_sample_cap", "target_cell_rows", "planes", "bands",
        "pq_m", "pq_ksub", "corpus_rows", "buckets", "pcells")
      .coalesce(1), s"${prefix}_meta", s"$dir/meta")
  }

  /** The four data-table frames of the indexed vectors `idx` (layout
    * order) under a model — its cell assignment `cells`, LSH shape and PQ
    * codebooks — shared by [[build]] and [[append]]; vecs and bands carry
    * their `pcell = cell % pcells` partition column. */
  private def dataFrames(idx: DataFrame, cells: DataFrame, planes: Int,
      bands: Int, dims: Int, books: IndexedSeq[IndexedSeq[Array[Long]]],
      pcells: Int): Seq[DataFrame] = {
    val pcellOf = pmod(col("cell"), lit(pcells)).cast("int").as("pcell")
    val vecs = idx.select(col("vec_id"), col("efp"), col("nrm"))
    val bandCols = Seq(col("vec_id").as("partner_id"), col("cell"),
      col("k"), col("v"))
    Seq(
      vecs.join(cells, Seq("vec_id"))
        .select(col("vec_id"), col("efp"), col("nrm"), pcellOf),
      VectorOps.lshBandRows(idx, planes, bands, dims)
        .join(cells, Seq("vec_id"))
        .select(bandCols :+ pcellOf: _*),
      cells,
      VectorOps.pqEncodeIndexed(idx, books)
        .withColumn("rnorm2", VectorOps.pqRnorm2Col(col("codes"), books)))
  }

  /** Derive the serving artifacts from `corpus` and persist them under
    * `dir` (also registering `<prefix>_*` in the building session's
    * catalog). `minCos` is the dedup threshold the LSH shape is sized
    * against — the index serves recall-calibrated verdicts AT THIS
    * THRESHOLD (probing with a higher one is safe; a lower one loses
    * recall the frozen shape was never sized for). Knob defaults mirror
    * [[VectorOps.semanticIncrementalCellsIndexed]] /
    * [[VectorOps.pqIndexOf]], so default builds are bit-compatible with
    * default in-session calls. */
  def build(corpus: DataFrame, id: String, vec: String, dir: String,
      minCos: Double, prefix: String = "vec_idx",
      nCells: Int = VectorOps.AutoCells, kmeansIters: Int = 2,
      targetCellRows: Int = VectorOps.DefaultCellRows, dims: Int = 64,
      trainSampleCap: Long = 0L, pqM: Int = 8, pqKsub: Int = 16,
      buckets: Int = DefaultBuckets, pcells: Int = AutoPcells): Unit = {
    val idx = VectorOps.index(corpus, id, vec)
    try buildIndexed(idx, dir, minCos, prefix, nCells, kmeansIters,
      targetCellRows, dims, trainSampleCap, pqM, pqKsub, buckets, pcells)
    finally idx.unpersist(false) // the index lives on disk now
  }

  /** The derivation + write core shared by [[build]] (quantizes a raw
    * float corpus first) and [[rebuild]] (starts from the index's own
    * persisted quantized vectors): everything downstream of the
    * (vec_id, efp, nrm) contract is a pure function of it. */
  private def buildIndexed(idx: DataFrame, dir: String, minCos: Double,
      prefix: String, nCells: Int, kmeansIters: Int, targetCellRows: Int,
      dims: Int, trainSampleCap: Long, pqM: Int, pqKsub: Int,
      buckets: Int, pcells0: Int): Unit = {
    val s = idx.sparkSession
    val l = layout(prefix)
    val rows = idx.count()
    // AUTO grain resolves here — `rows` is already on hand
    val pcells = IndexLifecycle.resolveGrain("pcells", pcells0, AutoPcells,
      rows)
    val k = VectorOps.autoCellCount(rows, nCells, targetCellRows)
    val cellRows = math.max(1L, (rows + k - 1) / k)
    val (p, b) = VectorOps.autoShape(cellRows, minCos)

    val cents = VectorOps.kmeansCentroids(idx, k, kmeansIters,
      trainSampleCap)
    val cells = VectorOps.assignCells(idx, cents)
    val books = VectorOps.pqBooksSampled(idx, pqM, pqKsub)
    // the wave history restarts with the rebuild (single-writer covers
    // rebuilds; wave 0 commits last — [[IndexLifecycle.finishBuild]])
    Bucketing.clearWaveMarkers(s, dir)
    l.tables.zip(dataFrames(idx, cells, p, b, dims, books, pcells))
      .foreach { case (t, df) =>
        IndexLifecycle.writeTable(l, t, df.withColumn("wave", lit(0)), dir,
          buckets)
      }

    import scala.jdk.CollectionConverters._
    val centRows: Seq[Row] = cents.zipWithIndex.map { case (c, i) =>
      Row(i, c.toSeq)
    }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cefp",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false),
        nullable = false)))
    Bucketing.writePlainExternal(s.createDataFrame(
      new java.util.ArrayList[Row](centRows.asJava), centSchema)
      .coalesce(1), s"${prefix}_cents", s"$dir/cents")

    val bookRows: Seq[Row] = for {
      j <- books.indices
      c <- books(j).indices
    } yield Row(j, c, books(j)(c).toSeq)
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false),
        nullable = false)))
    Bucketing.writePlainExternal(s.createDataFrame(
      new java.util.ArrayList[Row](bookRows.asJava), bookSchema)
      .coalesce(1), s"${prefix}_pqbooks", s"$dir/pqbooks")

    writeMeta(s, Meta(minCos, dims, k, kmeansIters, trainSampleCap,
      targetCellRows, p, b, pqM, pqKsub, rows, buckets, pcells), prefix, dir)
    IndexLifecycle.finishBuild(s, l, dir)
  }

  /** REBUILD an attached index into `outDir` from ITS OWN persisted
    * vectors — the quantizer-refresh half of index maintenance
    * ([[compact]] is the file-hygiene half, which deliberately does NOT
    * retrain): when [[stats]]' appended-mass fraction crosses the
    * measured ~0.3 PQ-recall knee (BENCH_NOTES r15 drift calibration),
    * the centroids/LSH shape/PQ codebooks need retraining over
    * corpus ∪ appended — and at real scale re-reading the original float
    * corpus to do it means re-shipping 100 TB. The `vecs` table already
    * stores every committed vector at FULL index precision (`efp` IS the
    * representation [[build]] derives from floats, exactly), so rebuild
    * retrains from the index alone: committed waves only, tombstones
    * dropped physically, replay-duplicate rows collapsed. The result is
    * BIT-IDENTICAL to a scratch [[build]] over the same live vector set
    * with the same knobs (spec-pinned): every derivation downstream of
    * quantization is a pure function of (vec_id, efp, nrm), and the
    * k-means seeds / PQ training sample are deterministic in vec_id.
    *
    * Knobs default to the source meta (`0`/`-1` sentinels; `pcells = 0`
    * inherits the grain, as for [[compact]]) — pass explicit values to
    * re-shape while re-training (e.g. more cells after growth;
    * `nCells = AutoCells`, the default, already re-sizes the cell count
    * to the LIVE row count, and `pcells = AutoPcells` re-sizes the
    * partition grain the same way). Like [[compact]]: fresh
    * `outDir` required, writer quiesce ENFORCED (a live lease refuses the
    * rebuild unless `force = true` — [[Bucketing.requireQuiesced]]),
    * readers of the old location are unaffected throughout.
    *
    * (No [[DedupIndex]] twin: the text index is model-free — nothing to
    * retrain — and its hashes derive from raw text the index does not
    * store; its maintenance story is complete with compact.) */
  def rebuild(spark: SparkSession, outDir: String,
      prefix: String = "vec_idx", outPrefix: String = null,
      nCells: Int = VectorOps.AutoCells, kmeansIters: Int = 0,
      targetCellRows: Int = 0, trainSampleCap: Long = -1L,
      pqM: Int = 0, pqKsub: Int = 0, buckets: Int = 0,
      pcells: Int = 0, force: Boolean = false): Unit = {
    val l = layout(prefix)
    val m = meta(spark, prefix)
    val srcDir = location(spark, prefix)
    Bucketing.requireQuiesced(spark, srcDir, force, "rebuild")
    // null outPrefix (the default) = IN PLACE under `prefix` — Scala
    // cannot default one parameter to another in the same list, and a
    // literal "vec_idx" default silently rebuilt a prefix="x" index into
    // the unrelated "vec_idx" catalog entries (r15 advisor)
    val outPfx = Option(outPrefix).getOrElse(prefix)
    IndexLifecycle.requireFreshTarget(spark, l, outDir, "rebuild")
    // read the source from its FILES, not the catalog table
    // ([[IndexLifecycle.committedFiles]]): the writes drop/recreate the
    // catalog entries mid-derivation; a path-based scan — and the cache
    // entries over it — is immune to those refreshes
    val committed = IndexLifecycle.committedFiles(spark, l, "vecs",
      Bucketing.committedWaves(spark, srcDir))
    val live = IndexLifecycle.notTombstoned(spark, l, committed, "vec_id")
      .select("vec_id", "efp", "nrm")
      .dropDuplicates("vec_id") // replayed appends write duplicate rows
    val idx = live.persist()
    try {
      buildIndexed(idx, outDir, m.minCos, outPfx, nCells,
        if (kmeansIters > 0) kmeansIters else m.kmeansIters,
        if (targetCellRows > 0) targetCellRows else m.targetCellRows,
        m.dims,
        if (trainSampleCap >= 0L) trainSampleCap else m.trainSampleCap,
        if (pqM > 0) pqM else m.pqM,
        if (pqKsub > 0) pqKsub else m.pqKsub,
        if (buckets > 0) buckets else m.buckets,
        // inherit / auto-size from live rows (buildIndexed resolves the
        // Auto sentinel against its own count) / explicit
        if (pcells == 0) m.pcells else pcells)
      // in-place flip: the old location is stranded — record it for the
      // guarded retire ([[IndexLifecycle.compact]] rationale)
      if (outPfx == prefix)
        Bucketing.recordPriorLocation(spark, outDir, srcDir)
    } finally idx.unpersist(false)
  }

  /** The live index directory (parent of the meta table's location). */
  def location(spark: SparkSession, prefix: String = "vec_idx"): String =
    IndexLifecycle.dirOf(spark, layout(prefix))

  /** [[location]] for the maintenance layer. */
  private[queries] def liveDir(spark: SparkSession, prefix: String): String =
    location(spark, prefix)

  /** Register an existing index written by [[build]] in `spark`'s catalog
    * — metadata only (no data job, no corpus recomputation). Bucket
    * counts come from the persisted meta, so the planner proves the
    * layout exactly as at write time. Refuses a meta-less or pcells-0
    * (flat-layout) artifact and one with no committed wave marker
    * ([[IndexLifecycle.attach]]) — re-`build` it from the corpus. */
  def attach(spark: SparkSession, dir: String,
      prefix: String = "vec_idx"): Unit =
    IndexLifecycle.attach(spark, layout(prefix), dir, "pcells")

  /** TOMBSTONE vectors out of an attached/built index — the takedown /
    * deletion half of index maintenance ([[append]] is the growth half):
    * removed ids land in a tiny `<prefix>_tombs` table persisted next to
    * the index ([[IndexLifecycle.remove]]), and every probe anti-joins
    * the BROADCAST tombstone set against the index side — map-side, no
    * extra exchange, no index rewrite, and no quantizer retraining (the
    * frozen-model contract [[append]] already documents). [[compact]]
    * materializes the deletion physically and clears the tombstones. A
    * removed id never again appears as a dedup partner or an ANN result;
    * re-admitting one needs a [[compact]] first. */
  def remove(ids: DataFrame, id: String, prefix: String = "vec_idx"): Unit =
    IndexLifecycle.remove(ids, id, layout(prefix))

  /** [[remove]] for a driver-known takedown list. */
  def remove(spark: SparkSession, ids: Seq[Long], prefix: String): Unit =
    IndexLifecycle.remove(spark, ids, layout(prefix))

  /** Operational statistics of an attached index — the maintenance
    * decision surface. Rebuild/compact heuristics these numbers drive:
    *
    *   - `appendedRows / corpusRowsAtBuild` — frozen-quantizer drift:
    *     appended mass was assigned with centroids/PQ codebooks trained
    *     before it existed. MEASURED (BENCH_NOTES "Frozen-quantizer
    *     drift calibration": shifted-distribution waves vs a retrained
    *     counterfactual): rebuild when the
    *     fraction exceeds ~0.3 IF the index serves PQ ANN — frozen
    *     recall matches a rebuild up to 0.25, then falls away (−27% of
    *     attainable recall at 0.35, −42% at 0.5, −76% at 2.0). The
    *     [[incrementalDedup]] verdict path measured drift-IMMUNE to
    *     2.0× appended mass (recall 1.0 at every point): its candidates
    *     come from data-independent LSH hyperplanes, and the frozen
    *     router mis-routes a shifted cluster CONSISTENTLY — batch and
    *     appended twins land in the same cell, which is all dedup needs.
    *     A dedup-only index can therefore run far past 0.3; watch
    *     `cellSkew` instead (the shifted mass piles into one hot cell —
    *     skew 1.1→5.8 across the same waves — growing that cell's probe
    *     candidate volume linearly).
    *   - `cellSkew` (max / mean cell occupancy) — hot cells grow probe
    *     candidate volume linearly; skew ≫ the build-time balance (and
    *     `maxCellRows` ≫ targetCellRows) says rebuild with more cells.
    *   - `tombstones / totalRows` — every probe pays the anti-join
    *     against this set; a growing fraction says [[compact]].
    *   - `fileSets` vs buckets × (pcells + 1) — each [[append]] adds one
    *     file set per table; counts far above the layout minimum say
    *     [[compact]] (small-file pressure on the scan side).
    *
    * Cost: the cell occupancy folds from per-wave cached sidecars
    * ([[IndexLifecycle.foldedStats]]; `StatsFoldSpec` checks them
    * against the live aggregate over the narrow cells table) + a count
    * of the tiny tombstone set + driver-side file listings. */
  final case class IndexStats(corpusRowsAtBuild: Long, totalRows: Long,
      liveRows: Long, tombstones: Long, appendedRows: Long, cells: Long,
      maxCellRows: Long, meanCellRows: Double, cellSkew: Double,
      fileSets: Map[String, Int], committedWave: Int, abandonedWaves: Int,
      committedWaveCount: Int, stagingDirs: Int = 0,
      staleStagingDirs: Int = 0, priorDirs: Seq[String] = Nil,
      quarantinedWaveCount: Int = 0)

  def stats(spark: SparkSession, prefix: String = "vec_idx"): IndexStats = {
    val m = meta(spark, prefix)
    val l = layout(prefix)
    // DISTINCT vec_ids, not row counts: an at-least-once REPLAYED append
    // (verdict-neutral by the probe core's batch-id anti-join) writes
    // duplicate cell rows per vector, and raw counts would drift
    // totalRows/appendedRows and the compaction trigger after any replay
    // (r14 advisor). [[compact]] dedups by id, re-aligning the physical
    // artifact with these logical counts.
    val c = IndexLifecycle.census(spark, l)
    val f = IndexLifecycle.foldedStats(spark, l, c.committedWaves, Seq("cell"))
    val total = f.occSum
    // appendedRows derives from the meta's build-time row count, which
    // compact() deliberately preserves (it is the quantizer's training
    // size); compacting away tombstoned BUILD-time rows therefore
    // under-counts appended mass by that many rows — clamped at 0 so a
    // removal-heavy compacted index reads "no drift" rather than nonsense
    IndexStats(m.corpusRows, total, total - c.tombstones, c.tombstones,
      math.max(0L, total - m.corpusRows), f.occCnt, f.occMax, f.occMean,
      if (f.occMean == 0.0) 0.0 else f.occMax / f.occMean, c.fileSets,
      c.committedWave, c.abandonedWaves, c.committedWaves.length,
      c.stagingDirs, c.staleStagingDirs, c.priorDirs, c.quarantinedWaves)
  }

  /** Centroids re-collected from the persisted table — identical driver
    * arrays to the building session's (exact long round-trip). */
  def centroids(spark: SparkSession,
      prefix: String = "vec_idx"): IndexedSeq[Array[Long]] =
    spark.table(s"${prefix}_cents").orderBy("cell")
      .select("cefp").collect()
      .map(_.getSeq[Long](0).toArray).toIndexedSeq

  /** PQ codebooks re-collected from the persisted table. */
  def pqBooks(spark: SparkSession,
      prefix: String = "vec_idx"): IndexedSeq[IndexedSeq[Array[Long]]] = {
    val rows = spark.table(s"${prefix}_pqbooks")
      .orderBy("j", "code").collect()
    rows.groupBy(_.getAs[Int]("j")).toIndexedSeq.sortBy(_._1).map {
      case (_, rs) =>
        rs.sortBy(_.getAs[Int]("code"))
          .map(_.getSeq[Long](2).toArray).toIndexedSeq
    }
  }

  /** [[VectorOps.semanticIncrementalCellsIndexed]]-semantics ingest
    * verdicts for `batch`, served entirely off the persisted `<prefix>_*`
    * tables ([[build]] or [[attach]] must have registered them in
    * `batch`'s session). Batch-proportional: the batch derives its own
    * signatures + cell assignment (with the CORPUS's persisted centroids
    * — identical scoring to training); the corpus contributes only
    * bucketed table scans. `minCos` defaults (NaN) to the build
    * threshold; `probes = 2` widens the batch-side cell probe, gated by
    * `probeMargin` ([[VectorOps.assignCellsMulti]]). */
  def incrementalDedup(batch: DataFrame, id: String, vec: String,
      prefix: String = "vec_idx", minCos: Double = Double.NaN,
      probes: Int = 1, probeMargin: Double = 2.0,
      asOfWave: Int = Int.MaxValue): DataFrame = {
    val s = batch.sparkSession
    val m = meta(s, prefix)
    val th = if (minCos.isNaN) m.minCos else minCos
    val cents = centroids(s, prefix)
    // uncached batch index: a narrow projection consumed three times is
    // cheaper than a cache entry per serving epoch the caller can't free
    val batchIdx = VectorOps.indexUncached(batch, id, vec)
    // ...but the cell ASSIGNMENT (the centroid cross-score, the expensive
    // batch-side piece) is staged once — the probed-pcell collect below
    // and the candidate join would otherwise each evaluate it (the text
    // probe's candidate-staging argument)
    val assigned = VectorOps.assignCellsMulti(batchIdx, cents, probes,
      probeMargin).localCheckpoint(true)
    // collect the batch's probed pcell values (one small
    // batch-proportional job, ≤ pcells integers) and prune the index
    // scans to those directories at planning time — every candidate
    // partner necessarily lives in a probed cell, so filtering BOTH the
    // band table and the re-rank vec table is recall-neutral (parity
    // spec-pinned); the scan cost becomes |probed|/pcells of the index
    // instead of all of it. The wave filter is the probe's consistency
    // horizon: the committed wave SET, resolved once per call, so both
    // scans see the same snapshot even while a writer stages or
    // publishes the next wave — the atomic-publish read side
    // ([[DedupIndex]] note); planning-time directory pruning, zero data
    // cost. `asOfWave` time-travels the horizon (waves ≤ it); takedowns
    // stay global by design ([[DedupIndex.incrementalDedup]] note).
    val cws = Bucketing.committedWaves(s, location(s, prefix))
      .filter(_ <= asOfWave).map(Integer.valueOf)
    val probed = assigned
      .select(pmod(col("cell"), lit(m.pcells)).cast("int").as("pcell"))
      .distinct().collect().map(_.getInt(0)).sorted
    def pruned(table: String) = s.table(s"${prefix}_$table")
      .where(col("wave").isin(cws: _*) &&
        col("pcell").isin(probed.map(Integer.valueOf): _*))
    val bandsT = pruned("bands").drop("wave", "pcell")
    val vecsT = pruned("vecs").select(col("vec_id"), col("efp"), col("nrm"))
    val bb = VectorOps.lshBandRows(batchIdx, m.planes, m.bands, m.dims)
      .join(assigned, Seq("vec_id"))
    // tombstoned vectors leave the candidate set at the band side
    // (broadcast anti-join, map-side over the pruned scan)
    val cand = bb
      .join(IndexLifecycle.notTombstoned(s, layout(prefix), bandsT,
        "partner_id"),
        Seq("cell", "k", "v"))
      .select(col("vec_id"), col("partner_id")).distinct()
    VectorOps.bestPartnerOf(vecsT, batchIdx, cand, th)
  }

  /** APPEND a batch of vectors to an attached index — incremental index
    * maintenance with a FROZEN quantizer (standard IVF serving practice:
    * centroids, LSH shape, and PQ codebooks stay the build-time model;
    * only the four data tables grow). The batch derives its bands / cell
    * assignment / PQ codes with the persisted model — identical scoring
    * to the original build — and appends bucketed files to each table,
    * so later probes ([[incrementalDedup]], [[knn]],
    * [[graft.streaming.EventStream.runVectorIngestIndexed]] epochs) see
    * corpus ∪ appended with no rebuild and no retraining. Composes the
    * serving loop: ingest admits `new` vectors → append → the NEXT epoch
    * dedups against them (IngestPrepSpec).
    *
    * Contract notes: ids must be novel (the index does not dedup ids);
    * a frozen quantizer drifts from what a full retrain would pick as
    * the appended mass grows — periodic rebuilds are the real-scale
    * answer (as for any IVF index), and each append adds one file set
    * per bucket (compact by rebuilding when file counts matter).
    *
    * ATOMIC PUBLISH: the wave's rows stage under
    * `wave=W` directories across all four data tables and become visible
    * only when the single `_wave_W` marker lands LAST
    * ([[IndexLifecycle.commit]]) — a reader
    * between the four table commits, or after a mid-append crash, always
    * resolves a consistent committed snapshot. Staging is WRITER-PRIVATE
    * ([[Bucketing.appendWave]]: per-file moves, then the manifest
    * marker), so concurrent appenders — threads AND processes, on any
    * supported filesystem — interleave safely lock-free under the
    * disjoint-content contract.
    *
    * Visibility: the writing session (and any session attached LATER)
    * sees the append immediately; a DIFFERENT already-attached session
    * holds its own cached file listing and must
    * `spark.catalog.refreshTable` to observe it (standard Spark
    * per-session relation caching) — plus `RECOVER PARTITIONS` first
    * when the append came from another PROCESS and catalogs are
    * per-process ([[DedupIndex.append]] note; CrossJvmWriterSpec). */
  def append(batch: DataFrame, id: String, vec: String,
      prefix: String = "vec_idx"): Unit =
    IndexLifecycle.commit(batch.sparkSession, layout(prefix),
      appendStaged(batch, id, vec, prefix))

  /** The staging half of [[append]] ([[IndexLifecycle.appendStaged]]):
    * writes the wave WITHOUT publishing it; returns the staged wave
    * number.
    * The batch derives its bands / cell assignment / PQ codes with the
    * persisted model ([[dataFrames]]). `maxTables` is the torn-write
    * spec's fault-injection knob. */
  private[queries] def appendStaged(batch: DataFrame, id: String,
      vec: String, prefix: String = "vec_idx",
      maxTables: Int = Int.MaxValue): Int = {
    val s = batch.sparkSession
    val m = meta(s, prefix)
    IndexLifecycle.appendStaged(VectorOps.indexUncached(batch, id, vec),
      layout(prefix), m.buckets, maxTables, _.unpersist(false)) {
      bIdx =>
        val cents = centroids(s, prefix)
        val books = pqBooks(s, prefix)
        dataFrames(bIdx, VectorOps.assignCells(bIdx, cents), m.planes,
          m.bands, m.dims, books, m.pcells)
    }
  }

  /** COMPACT an attached index into `outDir`: every [[append]] adds one
    * file set per bucket, so a long-appended index accumulates small
    * files; compaction rewrites the four data tables (one file per
    * bucket again) and copies the model tables unchanged — NO
    * retraining, NO re-derivation, so the compacted index serves
    * bit-identical verdicts (spec-pinned). Registers `<outPrefix>_*` in
    * the session; [[attach]] works on `outDir` from any later session.
    * This is the file-hygiene half of the real-scale maintenance story
    * (the other half — refreshing the frozen quantizer as appended mass
    * drifts — is a [[build]] rebuild by design).
    *
    * `pcells` RE-GRAINS during the rewrite (the r15 write-once-grain
    * finding): `0` (default)
    * inherits; [[AutoPcells]] re-sizes from the LIVE row count (the
    * standing maintenance recipe); positive pins. Re-graining joins the
    * vecs rewrite with the cells table to recover each vector's cell
    * (the old pcell cannot be re-derived from itself) — both sides are
    * vec_id-bucketed, so the join needs no exchange; the bands table
    * recomputes from its own cell column. The rewritten meta carries the
    * new grain, so every probe derives its pruning filter at it.
    *
    * Interleaving contract and wave-horizon mode (`upToWave`): see
    * [[IndexLifecycle.compact]] and [[DedupIndex.compact]] — compaction
    * snapshots the committed wave set once, writer quiesce is ENFORCED
    * (a live lease refuses the compact unless `force = true`), abandoned
    * waves are reclaimed, tombstoned rows dropped and replay duplicates
    * (identical by construction — the frozen model re-derives the same
    * assignment / bands / codes) collapsed. A horizon compact folds
    * waves ≤ H while writers keep appending > H at the old location,
    * then carries those over; [[carryNewWaves]] is the catch-up. SOUND
    * for compact because the model tables ride unchanged — carried waves
    * were encoded with the SAME frozen centroids/codebooks; [[rebuild]]
    * deliberately has no horizon mode: it RETRAINS the model, and a
    * carried wave's bands/codes derived under the old model would
    * silently mis-probe under the new one. */
  def compact(spark: SparkSession, outDir: String,
      prefix: String = "vec_idx", outPrefix: String = null,
      pcells: Int = 0, force: Boolean = false,
      upToWave: Int = Int.MaxValue): Unit = {
    // null outPrefix (the default) = in place under `prefix` (the
    // [[rebuild]] rationale — a literal default mis-targeted non-default
    // prefixes)
    val outPfx = Option(outPrefix).getOrElse(prefix)
    val out = layout(outPfx)
    val m = meta(spark, prefix)
    IndexLifecycle.compact(spark, layout(prefix), out, outDir, m.pcells,
      pcells, AutoPcells, pcells != 0, force, upToWave)(
      live => live("cells").count()) { (live, outPcells) =>
      val newPcell = pmod(col("cell"), lit(outPcells)).cast("int")
        .as("pcell")
      // re-grain recovers each vector's cell from the cells table (both
      // sides vec_id-bucketed — no exchange); inherit keeps rows as-is
      val frames =
        if (outPcells == m.pcells) out.subs.map(live)
        else Seq(
          live("vecs").drop("pcell")
            .join(live("cells").select("vec_id", "cell"), Seq("vec_id"))
            .withColumn("pcell", newPcell).drop("cell"),
          live("bands").drop("pcell").withColumn("pcell", newPcell),
          live("cells"),
          live("pqcodes"))
      out.tables.zip(frames).foreach { case (t, df) =>
        IndexLifecycle.writeTable(out, t, df, outDir, m.buckets)
      }
      // model tables ride unchanged (collect→rewrite keeps them tiny and
      // avoids reading a table the same statement is overwriting)
      val cents = spark.table(s"${prefix}_cents").orderBy("cell").collect()
      val books = spark.table(s"${prefix}_pqbooks").orderBy("j", "code")
        .collect()
      def rewrite(rows: Array[Row], sub: String): Unit = {
        val schema = spark.table(s"${prefix}_$sub").schema
        import scala.jdk.CollectionConverters._
        Bucketing.writePlainExternal(spark.createDataFrame(
          new java.util.ArrayList[Row](rows.toSeq.asJava), schema)
          .coalesce(1), out.table(sub), s"$outDir/$sub")
      }
      rewrite(cents, "cents")
      rewrite(books, "pqbooks")
      // the meta row is REGENERATED (not copied) so the output grain lands
      // in it
      writeMeta(spark, m.copy(pcells = outPcells), outPfx, outDir)
    }
  }

  /** CATCH-UP carry for a wave-horizon [[compact]]
    * ([[IndexLifecycle.carryNewWaves]]) over the four vector data
    * tables; returns the (fromWave → toWave) pairs carried this call. */
  def carryNewWaves(spark: SparkSession,
      prefix: String = "vec_idx"): Seq[(Int, Int)] =
    IndexLifecycle.carryNewWaves(spark, layout(prefix))

  /** RETIRE the stranded prior locations past in-place [[compact]]s /
    * [[rebuild]]s left behind ([[IndexLifecycle.retirePrior]]). */
  def retirePrior(spark: SparkSession, prefix: String = "vec_idx",
      force: Boolean = false): Seq[String] =
    IndexLifecycle.retirePrior(spark, layout(prefix), force)

  /** WARM an attached index's bytes through the page cache
    * ([[IndexLifecycle.warm]]) — call after [[attach]], before the first
    * serving request. Returns bytes read. */
  def warm(spark: SparkSession, prefix: String = "vec_idx"): Long =
    IndexLifecycle.warm(spark, layout(prefix))

  /** [[VectorOps.knnPqIndexed]]-semantics ANN top-k for a query batch,
    * served off the persisted PQ codes + codebooks — no corpus
    * re-encoding; the exact re-rank reads full vectors only for the
    * rerank-bounded candidate pool, off the vec_id-bucketed table. */
  def knn(queries: DataFrame, id: String, vec: String, k: Int,
      prefix: String = "vec_idx", rerank: Int = 50,
      asOfWave: Int = Int.MaxValue): DataFrame = {
    val s = queries.sparkSession
    // committed-snapshot reads (the atomic-publish read side): the wave
    // set is resolved ONCE, so the ADC codes and the re-rank vectors see
    // the same snapshot even while a concurrent writer publishes;
    // `asOfWave` time-travels it ([[incrementalDedup]] note)
    val cws = Bucketing.committedWaves(s, location(s, prefix))
      .filter(_ <= asOfWave).map(Integer.valueOf)
    def committedT(table: String) =
      s.table(table).where(col("wave").isin(cws: _*)).drop("wave")
    // tombstoned vectors leave the ADC scoring universe (broadcast
    // anti-join, map-side) — removed ids can never reach the re-rank
    val pq = VectorOps.PqIndex(pqBooks(s, prefix),
      IndexLifecycle.notTombstoned(s, layout(prefix),
        committedT(s"${prefix}_pqcodes"), "vec_id"))
    VectorOps.knnPqWithIndex(committedT(s"${prefix}_vecs"), pq,
      VectorOps.indexUncached(queries, id, vec), k, rerank)
  }
}
