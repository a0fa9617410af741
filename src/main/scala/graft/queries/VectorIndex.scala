package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Bucketing

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

  /** Default cell-range PARTITION count for the bands/vecs tables
    * (`pcell = cell % pcells` Hive-style directories above the bucket
    * files): bucketing prunes EXCHANGES but not SCANS, so without it a
    * constant-size serving batch still reads the whole band table — the
    * linear residual the r14 probe series measured (2.2× wall for 100×
    * index). A batch probes only the cells it lands in, and the probe
    * filters `pcell IN (batch's cells % pcells)` — planning-time
    * directory pruning caps the scan at |probed pcells|/pcells of the
    * index. 64 keeps directory counts trivial (64 × buckets files per
    * table) while a small batch typically probes a handful. Kept for
    * harnesses that pin the fixed-grain operating point; [[build]]
    * defaults to [[AutoPcells]] since r16. */
  val DefaultPcells = 64

  /** AUTO-SIZE sentinel for `pcells` ([[DedupIndex.AutoPvals]] twin): the
    * grain derives from the corpus row count via [[Bucketing.autoGrain]],
    * so it follows the corpus across decades instead of freezing the
    * build-time default — the r15 series' one open scale finding. The
    * default for [[build]]; [[compact]] accepts it to RE-grain from live
    * rows during its rewrite. */
  val AutoPcells: Int = -1

  /** [[rebuild]]'s "inherit the source grain" sentinel (its default;
    * distinct from [[AutoPcells]], which re-sizes — rebuild can express
    * an explicit flat 0, so inherit needs its own value). */
  val InheritPcells: Int = -2

  /** Driver-held image of `<prefix>_meta`. `pcells = 0` marks a legacy
    * unpartitioned index (pre-r14 layout) — probes skip the partition
    * filter and scan as before. */
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
    if (r.schema.fieldNames.contains("pcells")) r.getAs[Int]("pcells")
    else 0)

  /** Read the persisted meta row for `prefix` from the session catalog. */
  def meta(spark: SparkSession, prefix: String = "vec_idx"): Meta =
    metaOf(spark.table(s"${prefix}_meta").head())

  private def writePlain(df: DataFrame, table: String,
      location: String): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", location).option("compression", "snappy")
      .saveAsTable(table)
  }

  private def attachPlain(spark: SparkSession, table: String,
      location: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val schema = spark.read.parquet(location).schema.toDDL
    spark.sql(
      s"CREATE TABLE $table ($schema) USING PARQUET LOCATION '$location'")
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
    locally {
      val rows = idx.count()
      // AUTO grain resolves here — `rows` is already on hand
      val pcells =
        if (pcells0 == AutoPcells) Bucketing.autoGrain(rows) else pcells0
      val k = VectorOps.autoCellCount(rows, nCells, targetCellRows)
      val cellRows = math.max(1L, (rows + k - 1) / k)
      val (p, b) = VectorOps.autoShape(cellRows, minCos)

      val cents = VectorOps.kmeansCentroids(idx, k, kmeansIters,
        trainSampleCap)
      val cells = VectorOps.assignCells(idx, cents)
      val pcellOf = pmod(col("cell"), lit(pcells)).cast("int").as("pcell")
      val books = VectorOps.pqBooksSampled(idx, pqM, pqKsub)
      val pqcodes = VectorOps.pqEncodeIndexed(idx, books)
        .withColumn("rnorm2", VectorOps.pqRnorm2Col(col("codes"), books))

      if (pcells > 0) {
        // the wave history restarts with the rebuild ([[DedupIndex.build]]
        // rationale: single-writer covers rebuilds; wave 0 commits last)
        Bucketing.clearWaveMarkers(s, dir)
        Bucketing.writePartitionedBucketedExternal(
          idx.select(col("vec_id"), col("efp"), col("nrm"))
            .join(cells, Seq("vec_id")).select(col("vec_id"), col("efp"),
              col("nrm"), pcellOf).withColumn("wave", lit(0)),
          s"${prefix}_vecs", Seq("wave", "pcell"), Seq("vec_id"),
          s"$dir/vecs", buckets)
        Bucketing.writePartitionedBucketedExternal(
          VectorOps.lshBandRows(idx, p, b, dims).join(cells, Seq("vec_id"))
            .select(col("vec_id").as("partner_id"), col("cell"), col("k"),
              col("v"), pcellOf).withColumn("wave", lit(0)),
          s"${prefix}_bands", Seq("wave", "pcell"), Seq("cell", "k", "v"),
          s"$dir/bands", buckets)
        Bucketing.writePartitionedBucketedExternal(
          cells.withColumn("wave", lit(0)),
          s"${prefix}_cells", Seq("wave"), Seq("vec_id"), s"$dir/cells",
          buckets)
        Bucketing.writePartitionedBucketedExternal(
          pqcodes.withColumn("wave", lit(0)),
          s"${prefix}_pqcodes", Seq("wave"), Seq("vec_id"), s"$dir/pqcodes",
          buckets)
      } else {
        // legacy layout (pcells = 0): kept buildable so the pruning
        // parity spec can compare against it directly
        Bucketing.writeBucketedExternal(
          idx.select(col("vec_id"), col("efp"), col("nrm")),
          s"${prefix}_vecs", Seq("vec_id"), s"$dir/vecs", buckets)
        Bucketing.writeBucketedExternal(
          VectorOps.lshBandRows(idx, p, b, dims).join(cells, Seq("vec_id"))
            .select(col("vec_id").as("partner_id"), col("cell"), col("k"),
              col("v")),
          s"${prefix}_bands", Seq("cell", "k", "v"), s"$dir/bands", buckets)
        Bucketing.writeBucketedExternal(cells,
          s"${prefix}_cells", Seq("vec_id"), s"$dir/cells", buckets)
        Bucketing.writeBucketedExternal(pqcodes,
          s"${prefix}_pqcodes", Seq("vec_id"), s"$dir/pqcodes", buckets)
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
      writePlain(s.createDataFrame(
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
      writePlain(s.createDataFrame(
        new java.util.ArrayList[Row](bookRows.asJava), bookSchema)
        .coalesce(1), s"${prefix}_pqbooks", s"$dir/pqbooks")

      import s.implicits._
      writePlain(Seq((minCos, dims, k, kmeansIters, trainSampleCap,
        targetCellRows, p, b, pqM, pqKsub, rows, buckets, pcells))
        .toDF("min_cos", "dims", "n_cells", "kmeans_iters",
          "train_sample_cap", "target_cell_rows", "planes", "bands",
          "pq_m", "pq_ksub", "corpus_rows", "buckets", "pcells")
        .coalesce(1), s"${prefix}_meta", s"$dir/meta")
      // a rebuild starts with no removals: drop any stale tombstone
      // entry a previous index under this prefix left in the catalog
      // AND delete the on-disk tombstone files at this location —
      // otherwise a fresh session's attach would re-arm the previous
      // index's takedown list against the rebuilt data
      s.sql(s"DROP TABLE IF EXISTS ${prefix}_tombs")
      DedupIndex.deleteTombFiles(s, dir)
      // PUBLISH wave 0 — last, so every table is in place before any
      // reader can resolve a committed wave
      if (pcells > 0) {
        Bucketing.commitWave(s, dir, 0)
        DedupIndex.buildWaveStatsAtCommit(s, dir, prefix, 0)(ensureWaveStats)
      }
    }
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
    * Knobs default to the source meta (`0`/`-1`/[[InheritPcells]]
    * sentinels) — pass explicit values to re-shape while re-training
    * (e.g. more cells after growth; `nCells = AutoCells`, the default,
    * already re-sizes the cell count to the LIVE row count, and
    * `pcells = AutoPcells` re-sizes the partition grain the same way). Like [[compact]]: fresh
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
      pcells: Int = InheritPcells, force: Boolean = false): Unit = {
    if (meta(spark, prefix).pcells > 0)
      Bucketing.requireQuiesced(spark, dirOf(spark, prefix), force,
        "rebuild")
    // null outPrefix (the default) = IN PLACE under `prefix` — Scala
    // cannot default one parameter to another in the same list, and a
    // literal "vec_idx" default silently rebuilt a prefix="x" index into
    // the unrelated "vec_idx" catalog entries (r15 advisor)
    val outPfx = Option(outPrefix).getOrElse(prefix)
    val m = meta(spark, prefix)
    val srcLoc = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_vecs"))
      .location.toString
    require(!Bucketing.samePath(spark, srcLoc, s"$outDir/vecs"),
      s"rebuild target $outDir is the live index location — rebuild " +
        "rewrites tables while reading them, so it needs a fresh directory")
    // read the source from its FILES, not the catalog table (the compact
    // rationale: when outPrefix == prefix the writes drop/recreate the
    // catalog entries mid-derivation; a path-based scan — and the cache
    // entries over it — is immune to those refreshes)
    val committed = {
      val df = spark.read.parquet(srcLoc)
      if (m.pcells > 0) {
        val cws = Bucketing.committedWaves(spark, dirOf(spark, prefix))
        df.where(col("wave").isin(cws.map(Integer.valueOf): _*))
      } else df
    }
    val live = notTombstoned(spark, prefix, committed, "vec_id")
      .select("vec_id", "efp", "nrm")
      .dropDuplicates("vec_id") // replayed appends write duplicate rows
    val idx = graft.queries.Caching.cached(live,
      "spark.graft.vector.storageLevel")
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
        // Auto sentinel against its own count) / explicit (0 = flat)
        if (pcells == InheritPcells) m.pcells else pcells)
      // in-place flip: the old location is stranded — record it for the
      // guarded retire ([[compact]] rationale)
      if (outPfx == prefix)
        Bucketing.recordPriorLocation(spark, outDir,
          new org.apache.hadoop.fs.Path(srcLoc).getParent.toString)
    } finally idx.unpersist(false)
  }

  /** The live directory of an attached/built index (parent of the meta
    * table's location). */
  private def dirOf(spark: SparkSession, prefix: String): String =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_meta"))
      .location).getParent.toString

  /** [[dirOf]] for the maintenance layer ([[DedupIndex.liveDir]] twin). */
  private[queries] def liveDir(spark: SparkSession, prefix: String): String =
    dirOf(spark, prefix)

  /** The live index directory — public form ([[DedupIndex.location]]
    * twin). */
  def location(spark: SparkSession, prefix: String = "vec_idx"): String =
    dirOf(spark, prefix)

  private val DataSubs = Seq("vecs", "bands", "cells", "pqcodes")

  /** Register an existing index written by [[build]] in `spark`'s catalog
    * — metadata only (no data job, no corpus recomputation). Bucket
    * counts come from the persisted meta, so the planner proves the
    * layout exactly as at write time.
    *
    * Refuses a partitioned artifact with NO committed wave marker: every
    * healthy partitioned index has one (`build`/`compact`/`rebuild`
    * commit `_wave_0` last, even for an empty corpus), so a markerless
    * directory is either a crashed build or a pre-wave (r14-layout)
    * artifact — in both cases probes would resolve an EMPTY committed set
    * and serve `new` for everything, which in a dedup/decontamination
    * gate silently admits the whole stream. Loud beats silent here;
    * rebuild the artifact (crashed build) or re-`build` it under the
    * current layout (pre-wave). */
  def attach(spark: SparkSession, dir: String,
      prefix: String = "vec_idx"): Unit = {
    val m = metaOf(spark.read.parquet(s"$dir/meta").head())
    require(m.pcells == 0 ||
        Bucketing.committedWaves(spark, dir).nonEmpty,
      s"$dir has a partitioned layout (pcells=${m.pcells}) but no " +
        "committed wave marker — a crashed build or a pre-wave artifact; " +
        "attaching would serve an empty index (every verdict 'new'). " +
        "Rebuild it under the current layout.")
    attachPlain(spark, s"${prefix}_meta", s"$dir/meta")
    attachPlain(spark, s"${prefix}_cents", s"$dir/cents")
    attachPlain(spark, s"${prefix}_pqbooks", s"$dir/pqbooks")
    if (m.pcells > 0) {
      Bucketing.attachPartitionedBucketed(spark, s"${prefix}_vecs",
        Seq("wave", "pcell"), Seq("vec_id"), s"$dir/vecs", m.buckets)
      Bucketing.attachPartitionedBucketed(spark, s"${prefix}_bands",
        Seq("wave", "pcell"), Seq("cell", "k", "v"), s"$dir/bands",
        m.buckets)
      Bucketing.attachPartitionedBucketed(spark, s"${prefix}_cells",
        Seq("wave"), Seq("vec_id"), s"$dir/cells", m.buckets)
      Bucketing.attachPartitionedBucketed(spark, s"${prefix}_pqcodes",
        Seq("wave"), Seq("vec_id"), s"$dir/pqcodes", m.buckets)
    } else {
      Bucketing.attachBucketed(spark, s"${prefix}_vecs", Seq("vec_id"),
        s"$dir/vecs", m.buckets)
      Bucketing.attachBucketed(spark, s"${prefix}_bands",
        Seq("cell", "k", "v"), s"$dir/bands", m.buckets)
      Bucketing.attachBucketed(spark, s"${prefix}_cells", Seq("vec_id"),
        s"$dir/cells", m.buckets)
      Bucketing.attachBucketed(spark, s"${prefix}_pqcodes", Seq("vec_id"),
        s"$dir/pqcodes", m.buckets)
    }
    // the tombstone table rides along when the artifact has removals —
    // and a stale entry from a DIFFERENT index under this prefix must not
    val tp = new org.apache.hadoop.fs.Path(s"$dir/tombs")
    if (tp.getFileSystem(spark.sessionState.newHadoopConf()).exists(tp))
      attachPlain(spark, s"${prefix}_tombs", s"$dir/tombs")
    else spark.sql(s"DROP TABLE IF EXISTS ${prefix}_tombs")
  }

  /** TOMBSTONE vectors out of an attached/built index — the takedown /
    * deletion half of index maintenance ([[append]] is the growth half):
    * removed ids land in a tiny `<prefix>_tombs` table persisted next to
    * the index (a fresh session's [[attach]] keeps honoring them), and
    * every probe anti-joins the BROADCAST tombstone set against the
    * index side — map-side, no extra exchange, no index rewrite, and no
    * quantizer retraining (the frozen-model contract [[append]] already
    * documents). [[compact]] materializes the deletion physically and
    * clears the tombstones. A removed id never again appears as a dedup
    * partner or an ANN result; re-admitting one needs a [[compact]]
    * first. */
  def remove(ids: DataFrame, id: String, prefix: String = "vec_idx"): Unit = {
    val s = ids.sparkSession
    val dir = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_meta"))
        .location).getParent.toString
    val fresh = ids.select(col(id).cast("long").as("vec_id")).distinct()
    // anti-join the PERSISTED set too: a retried takedown job must not
    // double-count (verdicts would stay right — the anti-join dedups —
    // but stats' tombstone fraction, the compaction trigger, would lie)
    val novel =
      if (s.catalog.tableExists(s"${prefix}_tombs"))
        fresh.join(s.table(s"${prefix}_tombs"), Seq("vec_id"), "left_anti")
      else fresh
    // cross-JVM-safe per-file moves, first-tombstone table creation
    // included ([[DedupIndex.remove]] twin — publish files, then
    // register; the lock serializes only same-JVM catalog DDL)
    Bucketing.appendFilesByRenameTo(s, novel.coalesce(1), s"$dir/tombs",
      dir)
    if (s.catalog.tableExists(s"${prefix}_tombs"))
      s.catalog.refreshTable(s"${prefix}_tombs")
    else Bucketing.withWriteLock(s, dir) {
      if (!s.catalog.tableExists(s"${prefix}_tombs"))
        attachPlain(s, s"${prefix}_tombs", s"$dir/tombs")
    }
  }

  /** [[remove]] for a driver-known takedown list. */
  def remove(spark: SparkSession, ids: Seq[Long], prefix: String): Unit = {
    import spark.implicits._
    remove(ids.toDF("vec_id"), "vec_id", prefix)
  }

  /** `df` minus rows whose `idCol` is tombstoned — a broadcast anti-join
    * (map-side; the takedown set is tiny by nature); identity when the
    * index has no tombstones. */
  private def notTombstoned(s: SparkSession, prefix: String, df: DataFrame,
      idCol: String): DataFrame =
    if (!s.catalog.tableExists(s"${prefix}_tombs")) df
    else df.join(
      broadcast(s.table(s"${prefix}_tombs")
        .select(col("vec_id").as("__tomb_id"))),
      col(idCol) === col("__tomb_id"), "left_anti")

  /** Operational statistics of an attached index — the maintenance
    * decision surface. Rebuild/compact heuristics these numbers drive:
    *
    *   - `appendedRows / corpusRowsAtBuild` — frozen-quantizer drift:
    *     appended mass was assigned with centroids/PQ codebooks trained
    *     before it existed. MEASURED (graft.DriftCalibration, shifted-
    *     distribution waves vs a retrained counterfactual — BENCH_NOTES
    *     "Frozen-quantizer drift calibration"): rebuild when the
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
    * Cost: one aggregate over the narrow cells table + a count of the
    * tiny tombstone set + driver-side file listings. */
  final case class IndexStats(corpusRowsAtBuild: Long, totalRows: Long,
      liveRows: Long, tombstones: Long, appendedRows: Long, cells: Long,
      maxCellRows: Long, meanCellRows: Double, cellSkew: Double,
      fileSets: Map[String, Int], committedWave: Int, abandonedWaves: Int,
      committedWaveCount: Int, stagingDirs: Int = 0,
      staleStagingDirs: Int = 0, priorDirs: Seq[String] = Nil,
      quarantinedWaveCount: Int = 0)

  /** Wave `w`'s stats sidecar bound to this index's tables — the
    * [[DedupIndex.ensureWaveStats]] twin (cell occupancy; no
    * protocol-disjoint aux column on the vector side). */
  private def ensureWaveStats(spark: SparkSession, d: String,
      prefix: String, w: Int): graft.operators.WaveStats.PerWave =
    graft.operators.WaveStats.ensure(spark, d, w,
      ids = spark.table(s"${prefix}_cells")
        .where(col("wave") === w).select("vec_id"),
      aux = None,
      occ = spark.table(s"${prefix}_cells")
        .where(col("wave") === w).groupBy("cell")
        .agg(count_distinct(col("vec_id")).as("n")))

  def stats(spark: SparkSession, prefix: String = "vec_idx"): IndexStats = {
    val m = meta(spark, prefix)
    // DISTINCT vec_ids, not row counts: an at-least-once REPLAYED append
    // (verdict-neutral by the probe core's batch-id anti-join) writes
    // duplicate cell rows per vector, and raw counts would drift
    // totalRows/appendedRows and the compaction trigger after any replay
    // (r14 advisor). [[compact]] dedups by id, re-aligning the physical
    // artifact with these logical counts. Counting sees what probes see —
    // committed waves only; `abandonedWaves > 0` is the crashed-append
    // detector (invisible garbage; compact reclaims it).
    val (cws, abandoned) =
      if (m.pcells > 0) {
        val d = dirOf(spark, prefix)
        (Bucketing.committedWaves(spark, d),
          Bucketing.abandonedWaves(spark, d, DataSubs))
      } else (Nil, 0)
    // r19: fold from per-wave cached sidecars ([[DedupIndex.stats]]
    // rationale — the cells-table occupancy aggregate was the
    // data-proportional term); `spark.graft.stats.mode=full` restores
    // the live aggregate (the parity oracle)
    val (total, nCells, maxN, meanN) =
      if (m.pcells > 0 &&
          graft.operators.WaveStats.mode(spark) == "folded") {
        val d = dirOf(spark, prefix)
        // catalog self-heal before computing sidecars: a wave committed
        // by ANOTHER process prunes out of this session's scans until a
        // RECOVER, and a sidecar computed over that pruned view would
        // PERSIST zeros for the wave ([[DedupIndex.stats]] twin)
        if ({
          val known = Bucketing.catalogWaves(spark, s"${prefix}_cells")
          cws.exists(!known(_))
        }) DataSubs.foreach { sub =>
          spark.sql(s"ALTER TABLE ${prefix}_$sub RECOVER PARTITIONS")
          spark.catalog.refreshTable(s"${prefix}_$sub")
        }
        val perWave = cws.map(w => ensureWaveStats(spark, d, prefix, w))
        val f = graft.operators.WaveStats.fold(spark, d, perWave,
          Seq("cell"))
        (f.occSum, f.occCnt, f.occMax, f.occMean)
      } else {
        val cellsT =
          if (m.pcells > 0) spark.table(s"${prefix}_cells")
            .where(col("wave").isin(cws.map(Integer.valueOf): _*))
          else spark.table(s"${prefix}_cells")
        val occ = cellsT
          .groupBy("cell").agg(count_distinct(col("vec_id")).as("n"))
          .agg(sum("n"), count(lit(1)), max("n"), avg("n")).head()
        // an empty index (degenerate but attachable) aggregates to nulls
        (if (occ.isNullAt(0)) 0L else occ.getLong(0), occ.getLong(1),
          if (occ.isNullAt(2)) 0L else occ.getLong(2),
          if (occ.isNullAt(3)) 0.0 else occ.getDouble(3))
      }
    val tombs =
      if (spark.catalog.tableExists(s"${prefix}_tombs"))
        spark.table(s"${prefix}_tombs").count()
      else 0L
    def loc(table: String) = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    val files = Seq("vecs", "bands", "cells", "pqcodes").map { sub =>
      sub -> Bucketing.partFileCount(spark, loc(s"${prefix}_$sub"))
    }.toMap
    // appendedRows derives from the meta's build-time row count, which
    // compact() deliberately preserves (it is the quantizer's training
    // size); compacting away tombstoned BUILD-time rows therefore
    // under-counts appended mass by that many rows — clamped at 0 so a
    // removal-heavy compacted index reads "no drift" rather than nonsense
    // staging roots split by age ([[DedupIndex.stats]] rationale): young
    // = probably an in-flight writer, old = crash garbage
    val stages = if (m.pcells > 0)
      Bucketing.stagingDirAges(spark, dirOf(spark, prefix)) else Nil
    val ttl = Bucketing.writerLiveTtlMs(spark)
    IndexStats(m.corpusRows, total, total - tombs, tombs,
      math.max(0L, total - m.corpusRows), nCells, maxN, meanN,
      if (meanN == 0.0) 0.0 else maxN / meanN, files,
      cws.foldLeft(-1)(math.max), abandoned, cws.length,
      stages.size, stages.count(_._2 >= ttl),
      // stranded prior locations (past in-place compacts/rebuilds)
      Bucketing.priorLocations(spark, dirOf(spark, prefix)),
      if (m.pcells > 0)
        Bucketing.quarantinedWaves(spark, dirOf(spark, prefix)).size
      else 0)
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
    require(asOfWave == Int.MaxValue || m.pcells > 0,
      "asOfWave needs the wave-partitioned layout — a flat index keeps " +
        "no append history to rewind")
    val th = if (minCos.isNaN) m.minCos else minCos
    val cents = centroids(s, prefix)
    // uncached batch index: a narrow projection consumed three times is
    // cheaper than a cache entry per serving epoch the caller can't free
    val batchIdx = VectorOps.indexUncached(batch, id, vec)
    // ...but the cell ASSIGNMENT (the centroid cross-score, the expensive
    // batch-side piece) is staged once on the partitioned path — the
    // probed-pcell collect below and the candidate join would otherwise
    // each evaluate it (the text probe's candidate-staging argument)
    val assigned0 = VectorOps.assignCellsMulti(batchIdx, cents, probes,
      probeMargin)
    val assigned =
      if (m.pcells > 0) assigned0.localCheckpoint(true) else assigned0
    // partitioned layout: collect the batch's probed pcell values (one
    // small batch-proportional job, ≤ pcells integers) and prune the
    // index scans to those directories at planning time — every
    // candidate partner necessarily lives in a probed cell, so filtering
    // BOTH the band table and the re-rank vec table is recall-neutral
    // (parity spec-pinned); the scan cost becomes |probed|/pcells of the
    // index instead of all of it
    val (bandsT, vecsT) =
      if (m.pcells > 0) {
        // the probe's consistency horizon: the committed wave SET,
        // resolved once per call, so both scans see the same snapshot
        // even while a writer stages or publishes the next wave — the
        // atomic-publish read side ([[DedupIndex]] twin); planning-time
        // directory pruning, zero data cost. `asOfWave` time-travels the
        // horizon (waves ≤ it); takedowns stay global by design
        // ([[DedupIndex.incrementalDedup]] note).
        val cws = Bucketing.committedWaves(s, dirOf(s, prefix))
          .filter(_ <= asOfWave).map(Integer.valueOf)
        val probed = assigned
          .select(pmod(col("cell"), lit(m.pcells)).cast("int").as("pcell"))
          .distinct().collect().map(_.getInt(0)).sorted
        (s.table(s"${prefix}_bands")
            .where(col("wave").isin(cws: _*) &&
              col("pcell").isin(probed.map(Integer.valueOf): _*))
            .drop("wave", "pcell"),
          s.table(s"${prefix}_vecs")
            .where(col("wave").isin(cws: _*) &&
              col("pcell").isin(probed.map(Integer.valueOf): _*))
            .select(col("vec_id"), col("efp"), col("nrm")))
      } else (s.table(s"${prefix}_bands"), s.table(s"${prefix}_vecs"))
    val bb = VectorOps.lshBandRows(batchIdx, m.planes, m.bands, m.dims)
      .join(assigned, Seq("vec_id"))
    // tombstoned vectors leave the candidate set at the band side
    // (broadcast anti-join, map-side over the pruned scan)
    val cand = bb
      .join(notTombstoned(s, prefix, bandsT, "partner_id"),
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
    * ATOMIC PUBLISH (partitioned layout): the wave's rows stage under
    * `wave=W` directories across all four data tables and become visible
    * only when the single `_wave_W` marker lands LAST
    * ([[Bucketing.commitWave]]; [[DedupIndex.append]] twin) — a reader
    * between the four table commits, or after a mid-append crash, always
    * resolves a consistent committed snapshot. Staging is WRITER-PRIVATE
    * ([[Bucketing.appendWave]]: per-file moves, then the manifest
    * marker), so concurrent appenders — threads AND processes, on any
    * supported filesystem — interleave safely lock-free under the
    * disjoint-content contract. Legacy pcells = 0 indexes keep per-table
    * commit semantics.
    *
    * Visibility: the writing session (and any session attached LATER)
    * sees the append immediately; a DIFFERENT already-attached session
    * holds its own cached file listing and must
    * `spark.catalog.refreshTable` to observe it (standard Spark
    * per-session relation caching) — plus `RECOVER PARTITIONS` first
    * when the append came from another PROCESS and catalogs are
    * per-process ([[DedupIndex.append]] note; CrossJvmWriterSpec). */
  def append(batch: DataFrame, id: String, vec: String,
      prefix: String = "vec_idx"): Unit = {
    val s = batch.sparkSession
    val w = appendStaged(batch, id, vec, prefix)
    if (w >= 0) {
      val d = dirOf(s, prefix)
      Bucketing.commitWave(s, d, w)
      Bucketing.releaseWave(s, d, w) // the marker supersedes the lease
      DedupIndex.buildWaveStatsAtCommit(s, d, prefix, w)(ensureWaveStats)
    }
  }

  /** The staging half of [[append]] ([[DedupIndex.appendStaged]] twin):
    * writes the wave WITHOUT publishing it; returns the staged wave
    * number (−1 on the legacy layout, whose writes publish per-table).
    * `maxTables` is the torn-write spec's fault-injection knob. */
  private[queries] def appendStaged(batch: DataFrame, id: String,
      vec: String, prefix: String = "vec_idx",
      maxTables: Int = Int.MaxValue): Int = {
    val s = batch.sparkSession
    val m = meta(s, prefix)
    // wave number LEASED before staging, so concurrent appenders land on
    // disjoint waves ([[Bucketing.acquireWave]]; [[DedupIndex]] twin —
    // including its disjoint-content contract: ids must be novel AND not
    // concurrently duplicated across writers)
    val wave =
      if (m.pcells == 0) -1
      else Bucketing.acquireWave(s, dirOf(s, prefix), DataSubs)
    val cents = centroids(s, prefix)
    val books = pqBooks(s, prefix)
    // EAGER local checkpoint, not persist: a caller's `batch` routinely
    // derives from probe verdicts against THIS index (the appendAdmitted
    // loops), and each table write below refreshes its catalog table —
    // which invalidates every cache whose lineage reads it, so later
    // writes would silently recompute the batch against the half-appended
    // index (where each row now duplicates ITSELF ⇒ empty appends; the
    // bug JointDebug exposed). The checkpoint severs the lineage: the
    // staged frame references no tables, so no refresh can touch it.
    // Blocks are executor-local and freed by GC after the four writes.
    val bIdx = VectorOps.indexUncached(batch, id, vec)
      .localCheckpoint(true)
    try {
      val cells = VectorOps.assignCells(bIdx, cents)
      // partitioned layout: writer-private staging, per-FILE moves —
      // cross-JVM-safe, lock-free ([[Bucketing.appendWave]];
      // [[DedupIndex.appendStaged]] twin); the flat layout appends in
      // place and publishes per table
      def appendTo(df: DataFrame, table: String, keys: Seq[String],
          partCols: Seq[String] = Nil): Unit = {
        val staged =
          (if (m.pcells > 0) df.withColumn("wave", lit(wave)) else df)
            .repartition(m.buckets, keys.map(col): _*)
        if (m.pcells > 0)
          Bucketing.appendWave(s, staged, s"${prefix}_$table", keys,
            partCols, m.buckets, dirOf(s, prefix), wave)
        else
          staged.write.mode(org.apache.spark.sql.SaveMode.Append)
            .bucketBy(m.buckets, keys.head, keys.tail: _*)
            .sortBy(keys.head, keys.tail: _*)
            .option("compression", "snappy")
            .saveAsTable(s"${prefix}_$table")
      }
      val pcellOf = pmod(col("cell"), lit(m.pcells)).cast("int").as("pcell")
      // only vecs/bands differ between layouts (the pcell partition
      // column); cells/pqcodes are layout-independent — appendTo adds the
      // wave column itself — so build those closures ONCE (r15 review:
      // the two copied Seqs could silently diverge under future edits)
      val bandRows = VectorOps.lshBandRows(bIdx, m.planes, m.bands, m.dims)
        .join(cells, Seq("vec_id"))
      // lease heartbeat between table writes ([[DedupIndex]] rationale:
      // liveness age = time since last progress, not append start)
      def beat(): Unit =
        if (wave >= 0) Bucketing.touchLease(s, dirOf(s, prefix), wave)
      val writes: Seq[() => Unit] =
        (if (m.pcells > 0) Seq(
          () => { appendTo(bIdx.select(col("vec_id"), col("efp"),
              col("nrm"))
              .join(cells, Seq("vec_id")).select(col("vec_id"), col("efp"),
                col("nrm"), pcellOf),
            "vecs", Seq("vec_id"), Seq("pcell"))
            beat() },
          () => { appendTo(
            bandRows.select(col("vec_id").as("partner_id"), col("cell"),
              col("k"), col("v"), pcellOf),
            "bands", Seq("cell", "k", "v"), Seq("pcell"))
            beat() })
        else Seq(
          () => appendTo(bIdx.select(col("vec_id"), col("efp"), col("nrm")),
            "vecs", Seq("vec_id")),
          () => appendTo(
            bandRows.select(col("vec_id").as("partner_id"), col("cell"),
              col("k"), col("v")),
            "bands", Seq("cell", "k", "v")))) ++ Seq(
          () => { appendTo(cells, "cells", Seq("vec_id")); beat() },
          () => appendTo(
            VectorOps.pqEncodeIndexed(bIdx, books)
              .withColumn("rnorm2",
                VectorOps.pqRnorm2Col(col("codes"), books)),
            "pqcodes", Seq("vec_id")))
      writes.take(math.max(0, maxTables)).foreach(_())
      if (m.pcells > 0) Bucketing.releaseStaging(s, dirOf(s, prefix), wave)
      wave
    } finally bIdx.unpersist(false) // checkpoint blocks also free on GC
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
    * `pcells` RE-GRAINS during the rewrite ([[DedupIndex.compact]]'s
    * `pvals` twin — the r15 write-once-grain finding): `0` (default)
    * inherits; [[AutoPcells]] re-sizes from the LIVE row count (the
    * standing maintenance recipe); positive pins. Re-graining joins the
    * vecs rewrite with the cells table to recover each vector's cell
    * (the old pcell cannot be re-derived from itself) — both sides are
    * vec_id-bucketed, so the join needs no exchange; the bands table
    * recomputes from its own cell column. A flat source upgrades to the
    * partitioned layout (the no-original-corpus legacy migration);
    * downgrading is not supported. The rewritten meta carries the new
    * grain, so every probe derives its pruning filter at it.
    *
    * Interleaving contract ([[DedupIndex.compact]] twin): compaction
    * snapshots the committed wave set once — appends/removals committing
    * after the snapshot are not in the output; writer quiesce is ENFORCED
    * (a live lease refuses the compact unless `force = true`). Abandoned
    * (never-committed) waves are physically reclaimed here.
    *
    * `upToWave` — the WAVE-HORIZON (online) mode, the
    * [[DedupIndex.compact]] twin (see there for the full contract):
    * folds committed waves ≤ H while writers keep appending > H at the
    * old location (no quiesce check), then carries the > H waves over
    * under the marker protocol; [[carryNewWaves]] is the catch-up.
    * Tombstones carry instead of clearing; re-graining is refused
    * (carried pcell values are source-grain). SOUND for compact because
    * the model tables ride unchanged — carried waves were encoded with
    * the SAME frozen centroids/codebooks; [[rebuild]] deliberately has no
    * horizon mode: it RETRAINS the model, and a carried wave's
    * bands/codes derived under the old model would silently mis-probe
    * under the new one. */
  def compact(spark: SparkSession, outDir: String,
      prefix: String = "vec_idx", outPrefix: String = null,
      pcells: Int = 0, force: Boolean = false,
      upToWave: Int = Int.MaxValue): Unit = {
    val horizon = upToWave != Int.MaxValue
    if (horizon) {
      require(meta(spark, prefix).pcells > 0,
        "wave-horizon compact needs the wave-partitioned layout")
      require(pcells == 0,
        "wave-horizon compact cannot re-grain: carried waves keep their " +
          "source-grain pcell values, which a new grain would silently " +
          "mis-prune — run a full (quiesced) compact to re-shape")
      require(upToWave >= 0, s"upToWave=$upToWave is not a wave horizon")
    }
    if (meta(spark, prefix).pcells > 0 && !horizon)
      Bucketing.requireQuiesced(spark, dirOf(spark, prefix), force,
        "compact")
    // null outPrefix (the default) = in place under `prefix` (the
    // [[rebuild]] rationale — a literal default mis-targeted non-default
    // prefixes)
    val outPfx = Option(outPrefix).getOrElse(prefix)
    val oldLoc = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_vecs"))
      .location.toString
    // Hadoop-Path comparison, NOT java.io.File ([[DedupIndex.compact]]
    // rationale: File mangles scheme-qualified locations)
    require(!Bucketing.samePath(spark, oldLoc, s"$outDir/vecs"),
      s"compact target $outDir is the live index location — compaction " +
        "rewrites tables while reading them, so it needs a fresh directory")
    val m = meta(spark, prefix)
    // read each source from its FILES, not the catalog table: with
    // outPrefix == prefix (the default) the write drops the catalog
    // entry first, and a PARTITIONED table's scan consults the catalog
    // lazily at execution (CatalogFileIndex) — reading the location
    // keeps the plan catalog-independent (partition columns come back
    // via directory inference, identically valued)
    def srcDf(table: String) = spark.read.parquet(
      spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString)
    // deletions materialize here: tombstoned rows are dropped from the
    // rewrite (bands by partner id, the rest by vec id) and the
    // tombstone table is NOT carried into the compacted artifact.
    // Duplicate rows a replayed append left behind (identical by
    // construction — the frozen model re-derives the same assignment /
    // bands / codes) collapse too, so the compacted artifact matches
    // [[stats]]' distinct-id counts.
    val dedupKeysOf = Map("vecs" -> Seq("vec_id"),
      "bands" -> Seq("partner_id", "cell", "k", "v"),
      "cells" -> Seq("vec_id"), "pqcodes" -> Seq("vec_id"))
    // committed-set horizon ([[DedupIndex.compact]] rationale): abandoned
    // crashed-append waves are filtered out here — compaction is where
    // their garbage is physically reclaimed — and the compacted artifact
    // restarts its wave history at 0
    val cws = (if (m.pcells > 0)
      Bucketing.committedWaves(spark, dirOf(spark, prefix)) else Nil)
      .filter(_ <= upToWave)
    def live(table: String, idCol: String) = {
      val sub = table.stripPrefix(s"${prefix}_")
      val committed =
        if (m.pcells > 0) srcDf(table)
          .where(col("wave").isin(cws.map(Integer.valueOf): _*))
          .withColumn("wave", lit(0))
        else srcDf(table)
      notTombstoned(spark, prefix, committed, idCol)
        .dropDuplicates(dedupKeysOf(sub))
    }
    // the output grain: inherit / auto-size from the LIVE distinct row
    // count / explicit; flat sources upgrade when outPcells > 0
    val outPcells =
      if (pcells == 0) m.pcells
      else if (pcells == AutoPcells) Bucketing.autoGrain(
        live(s"${prefix}_cells", "vec_id").count())
      else pcells
    require(outPcells > 0 || m.pcells == 0,
      "downgrading a partitioned index to the flat layout is not supported")
    if (outPcells > 0) Bucketing.clearWaveMarkers(spark, outDir)
    // a flat source's rows gain their wave column in the rewrite
    def waved(df: DataFrame) =
      if (m.pcells > 0) df else df.withColumn("wave", lit(0))
    if (outPcells > 0) {
      val regrain = outPcells != m.pcells
      val newPcell = pmod(col("cell"), lit(outPcells)).cast("int")
        .as("pcell")
      // re-grain recovers each vector's cell from the cells table (both
      // sides vec_id-bucketed — no exchange); inherit keeps rows as-is
      val vecs =
        if (!regrain) live(s"${prefix}_vecs", "vec_id")
        else waved(live(s"${prefix}_vecs", "vec_id"))
          .drop("pcell")
          .join(live(s"${prefix}_cells", "vec_id").select("vec_id", "cell"),
            Seq("vec_id"))
          .withColumn("pcell", newPcell).drop("cell")
      val bands =
        if (!regrain) live(s"${prefix}_bands", "partner_id")
        else waved(live(s"${prefix}_bands", "partner_id"))
          .drop("pcell").withColumn("pcell", newPcell)
      Bucketing.writePartitionedBucketedExternal(
        vecs, s"${outPfx}_vecs",
        Seq("wave", "pcell"), Seq("vec_id"), s"$outDir/vecs", m.buckets)
      Bucketing.writePartitionedBucketedExternal(
        bands, s"${outPfx}_bands",
        Seq("wave", "pcell"), Seq("cell", "k", "v"), s"$outDir/bands",
        m.buckets)
      Bucketing.writePartitionedBucketedExternal(
        waved(live(s"${prefix}_cells", "vec_id")), s"${outPfx}_cells",
        Seq("wave"), Seq("vec_id"), s"$outDir/cells", m.buckets)
      Bucketing.writePartitionedBucketedExternal(
        waved(live(s"${prefix}_pqcodes", "vec_id")), s"${outPfx}_pqcodes",
        Seq("wave"), Seq("vec_id"), s"$outDir/pqcodes", m.buckets)
    } else {
      Bucketing.writeBucketedExternal(
        live(s"${prefix}_vecs", "vec_id"), s"${outPfx}_vecs",
        Seq("vec_id"), s"$outDir/vecs", m.buckets)
      Bucketing.writeBucketedExternal(
        live(s"${prefix}_bands", "partner_id"), s"${outPfx}_bands",
        Seq("cell", "k", "v"), s"$outDir/bands", m.buckets)
      Bucketing.writeBucketedExternal(
        live(s"${prefix}_cells", "vec_id"), s"${outPfx}_cells",
        Seq("vec_id"), s"$outDir/cells", m.buckets)
      Bucketing.writeBucketedExternal(
        live(s"${prefix}_pqcodes", "vec_id"), s"${outPfx}_pqcodes",
        Seq("vec_id"), s"$outDir/pqcodes", m.buckets)
    }
    // model tables ride unchanged (collect→rewrite keeps them tiny and
    // avoids reading a table the same statement is overwriting)
    val cents = spark.table(s"${prefix}_cents").orderBy("cell").collect()
    val books = spark.table(s"${prefix}_pqbooks").orderBy("j", "code")
      .collect()
    def rewrite(rows: Array[Row], like: String, table: String,
        loc: String): Unit = {
      val schema = spark.table(like).schema
      import scala.jdk.CollectionConverters._
      writePlain(spark.createDataFrame(
        new java.util.ArrayList[Row](rows.toSeq.asJava), schema)
        .coalesce(1), table, loc)
    }
    rewrite(cents, s"${prefix}_cents", s"${outPfx}_cents",
      s"$outDir/cents")
    rewrite(books, s"${prefix}_pqbooks", s"${outPfx}_pqbooks",
      s"$outDir/pqbooks")
    // the meta row is REGENERATED (not copied) so the output grain lands
    // in it — and a legacy pre-pcells meta gains the column on upgrade
    locally {
      import spark.implicits._
      writePlain(Seq((m.minCos, m.dims, m.nCells, m.kmeansIters,
        m.trainSampleCap, m.targetCellRows, m.planes, m.bands, m.pqM,
        m.pqKsub, m.corpusRows, m.buckets, outPcells))
        .toDF("min_cos", "dims", "n_cells", "kmeans_iters",
          "train_sample_cap", "target_cell_rows", "planes", "bands",
          "pq_m", "pq_ksub", "corpus_rows", "buckets", "pcells")
        .coalesce(1), s"${outPfx}_meta", s"$outDir/meta")
    }
    val oldDir = new org.apache.hadoop.fs.Path(oldLoc).getParent.toString
    spark.sql(s"DROP TABLE IF EXISTS ${outPfx}_tombs")
    if (horizon) {
      // tombstones carry forward ([[DedupIndex.compact]] rationale)
      if (Bucketing.syncTombFiles(spark, oldDir, outDir))
        attachPlain(spark, s"${outPfx}_tombs", s"$outDir/tombs")
    }
    if (outPcells > 0) {
      Bucketing.commitWave(spark, outDir, 0)
      // carried (> H) waves stay lazy ([[DedupIndex.compact]] rationale)
      DedupIndex.buildWaveStatsAtCommit(spark, outDir, outPfx, 0)(
        ensureWaveStats)
    }
    if (horizon) {
      Bucketing.writeCarryLedger(spark, outDir, oldDir, upToWave, Nil)
      while (carryNewWaves(spark, outPfx).nonEmpty) ()
    }
    // in-place flip: record the stranded old location for the guarded
    // retire ([[DedupIndex.compact]] rationale — r17 verdict item 2)
    if (outPfx == prefix)
      Bucketing.recordPriorLocation(spark, outDir, oldDir)
  }

  /** CATCH-UP carry for a wave-horizon [[compact]] —
    * [[DedupIndex.carryNewWaves]] twin over the four vector data
    * tables. */
  def carryNewWaves(spark: SparkSession,
      prefix: String = "vec_idx"): Seq[(Int, Int)] = {
    val dir = dirOf(spark, prefix)
    val ledger = Bucketing.readCarryLedger(spark, dir)
    require(ledger.isDefined,
      s"$dir has no _carried ledger — not a wave-horizon compact target")
    val (from, upTo, mapping) = ledger.get
    if (Bucketing.syncTombFiles(spark, from, dir) &&
        !spark.catalog.tableExists(s"${prefix}_tombs"))
      attachPlain(spark, s"${prefix}_tombs", s"$dir/tombs")
    else if (spark.catalog.tableExists(s"${prefix}_tombs"))
      spark.catalog.refreshTable(s"${prefix}_tombs")
    val pending = Bucketing.committedWaves(spark, from)
      .filter(_ > upTo).filterNot(mapping.contains)
    var m = mapping
    pending.map { w =>
      val toW = Bucketing.claimCarryWave(spark, dir, DataSubs, w)
      val parts = Bucketing.copyWaveFiles(spark, from, dir, w, toW)
      DataSubs.foreach { sub =>
        parts.get(sub).foreach(rel =>
          Bucketing.registerWavePartitions(spark, s"${prefix}_$sub", toW,
            rel))
      }
      Bucketing.commitCarriedWave(spark, from, dir, w, toW)
      Bucketing.releaseWave(spark, dir, toW)
      m = m + (w -> toW)
      Bucketing.writeCarryLedger(spark, dir, from, upTo, m.toSeq)
      (w, toW)
    }
  }

  /** RETIRE the stranded prior locations past in-place [[compact]]s /
    * [[rebuild]]s left behind ([[DedupIndex.retirePrior]] twin). */
  def retirePrior(spark: SparkSession, prefix: String = "vec_idx",
      force: Boolean = false): Seq[String] =
    Bucketing.retirePriors(spark, dirOf(spark, prefix), force)

  /** WARM an attached index's bytes through the page cache
    * ([[DedupIndex.warm]] twin — call after [[attach]], before the first
    * serving request, to move the measured 2.8–9× cold-first-probe
    * penalty out of request latency). Returns bytes read. */
  def warm(spark: SparkSession, prefix: String = "vec_idx"): Long = {
    val d = dirOf(spark, prefix)
    (DataSubs ++ Seq("cents", "pqbooks", "meta", "tombs"))
      .map(sub => Bucketing.warmFiles(spark, s"$d/$sub")).sum
  }

  /** [[VectorOps.knnPqIndexed]]-semantics ANN top-k for a query batch,
    * served off the persisted PQ codes + codebooks — no corpus
    * re-encoding; the exact re-rank reads full vectors only for the
    * rerank-bounded candidate pool, off the vec_id-bucketed table. */
  def knn(queries: DataFrame, id: String, vec: String, k: Int,
      prefix: String = "vec_idx", rerank: Int = 50,
      asOfWave: Int = Int.MaxValue): DataFrame = {
    val s = queries.sparkSession
    val m = meta(s, prefix)
    require(asOfWave == Int.MaxValue || m.pcells > 0,
      "asOfWave needs the wave-partitioned layout — a flat index keeps " +
        "no append history to rewind")
    // committed-snapshot reads (the atomic-publish read side): the wave
    // set is resolved ONCE, so the ADC codes and the re-rank vectors see
    // the same snapshot even while a concurrent writer publishes;
    // `asOfWave` time-travels it ([[incrementalDedup]] note)
    val cws = if (m.pcells > 0)
      Bucketing.committedWaves(s, dirOf(s, prefix))
        .filter(_ <= asOfWave).map(Integer.valueOf)
    else Nil
    def committedT(table: String) =
      if (m.pcells > 0)
        s.table(table).where(col("wave").isin(cws: _*)).drop("wave")
      else s.table(table)
    // tombstoned vectors leave the ADC scoring universe (broadcast
    // anti-join, map-side) — removed ids can never reach the re-rank
    val pq = VectorOps.PqIndex(pqBooks(s, prefix),
      notTombstoned(s, prefix, committedT(s"${prefix}_pqcodes"), "vec_id"))
    VectorOps.knnPqWithIndex(committedT(s"${prefix}_vecs"), pq,
      VectorOps.indexUncached(queries, id, vec), k, rerank)
  }
}
