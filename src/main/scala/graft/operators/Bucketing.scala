package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** A GUARD REFUSAL: the request was well-formed but conflicts with live
  * state (a possibly-live writer lease, reader marker, or a too-fresh
  * stranded prior) — retryable after a drain/TTL/grace, or with force
  * where the guard allows one. Its own type so API layers can map exactly
  * these to HTTP 409: a blanket IllegalStateException→409 also caught
  * stopped-SparkContext and writer-storm-exhaustion errors, misreporting
  * internal failures as retryable conflicts (r18 advisor). Extends
  * IllegalStateException so existing catch sites keep working. */
final class ConflictException(msg: String) extends IllegalStateException(msg)

/** Bucketed-table helpers for co-located joins (SURVEY.md §4 shuffle row;
  * builder directive "repartition/bucketing for co-located joins").
  *
  * Joining two tables bucketed into the same number of buckets on the
  * join key lets Spark plan a SortMergeJoin with NO exchange on either
  * side — at 100 TB this converts the recurring fact⋈fact join (e.g.
  * lineitem⋈orders on orderkey) from two full shuffles per query into a
  * one-time layout cost at ingest. The write itself shuffles once
  * (repartition by key keeps one file per bucket per partition writer).
  */
object Bucketing {

  /** Persist `df` as a bucketed+sorted catalog table (drops any previous
    * registration first — Overwrite alone does not reclaim a managed
    * location orphaned by a prior session). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    // an in-memory catalog forgets managed tables across JVMs but their
    // warehouse directories survive; reclaim the orphaned location so
    // Overwrite semantics hold (unqualified default-db names only)
    if (!table.contains(".")) {
      val wh = df.sparkSession.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val loc = new java.io.File(wh, table.toLowerCase)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete()
        }
        rm(loc)
      }
    }
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("compression", "snappy")
      .saveAsTable(table)
  }

  /** Persist `df` as a bucketed+sorted EXTERNAL table at `location` with
    * Hive-style PARTITION directories on `partCols` layered above the
    * bucket files — the serving-artifact form: the data outlives the
    * session, and [[attachPartitionedBucketed]] re-registers it in any
    * later session (even a new JVM, whose in-memory catalog forgot the
    * table) without touching the data. Multi-column keys bucket on the
    * tuple, so an equi-join on exactly those keys needs no exchange on
    * this side. The partitions serve probes scoped to a data-dependent
    * key subset (e.g. the IVF cells a serving batch actually lands in): a
    * literal partition-column predicate prunes whole directories at
    * planning time, so the probe's scan touches
    * |probed partitions|/|partitions| of the data instead of all of it,
    * while the bucket spec still proves the exchange-free side of the
    * probe join. `partCols` must be
    * present in `df`; they land LAST in the on-disk schema (Spark moves
    * partition columns to the end). */
  def writePartitionedBucketedExternal(df: DataFrame, table: String,
      partCols: Seq[String], keys: Seq[String], location: String,
      buckets: Int): Unit = {
    require(partCols.nonEmpty && keys.nonEmpty,
      "need at least one partition column and one bucket key")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", location)
      .option("compression", "snappy")
      .saveAsTable(table)
  }

  /** Register an existing [[writePartitionedBucketedExternal]] artifact —
    * metadata plus partition discovery (no data read): partition
    * registration is what re-arms planning-time pruning in the fresh
    * session. Discovery reads the WAVE MANIFESTS ([[registerPartitions]]
    * — zero listing); artifacts whose markers predate manifest bodies
    * RECOVER (one recursive listing). */
  def attachPartitionedBucketed(spark: SparkSession, table: String,
      partCols: Seq[String], keys: Seq[String], location: String,
      buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val schema = spark.read.parquet(location).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $table ($schema) USING PARQUET
         |PARTITIONED BY (${partCols.mkString(", ")})
         |CLUSTERED BY (${keys.mkString(", ")})
         |SORTED BY (${keys.mkString(", ")})
         |INTO $buckets BUCKETS
         |LOCATION '$location'""".stripMargin)
    registerPartitions(spark, table, partCols, location)
  }

  /** Partition discovery for a fresh attach. Wave markers inventory
    * every key of their wave ([[commitWave]]), so
    * the table's partitions derive from ~|waves| SMALL OBJECT READS with
    * zero directory listing — where `RECOVER PARTITIONS` walks the whole
    * prefix tree: O(partitions) LIST calls against an object store, the
    * term that grows with [[autoGrain]] at 100 TB (65536 partitions ×
    * subs per attach). Quarantined waves' retained manifests register
    * too, so a later [[unquarantineWave]] serves from already-known
    * partitions. Falls back to RECOVER whenever any committed wave lacks
    * a manifest body (an empty marker written before every commit carried
    * one, or a legacy layout) or carries no rows for this table. */
  private def registerPartitions(spark: SparkSession, table: String,
      partCols: Seq[String], location: String): Unit = {
    def recover(): Unit =
      spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    if (!partCols.headOption.contains("wave")) return recover()
    val loc = new org.apache.hadoop.fs.Path(location)
    val dir = loc.getParent.toString
    val sub = loc.getName
    val cws = committedWaves(spark, dir)
    if (cws.isEmpty) return recover()
    val manifests = cws.map(w => waveManifest(spark, dir, w)) ++
      quarantinedWaves(spark, dir).map(w => quarantinedManifest(spark,
        dir, w))
    if (manifests.exists(_.isEmpty)) return recover()
    val parsed = manifests.flatMap(_.get.keys)
      .filter(_.startsWith(sub + "/"))
      .map { rel =>
        val segs = rel.stripPrefix(sub + "/").split("/").dropRight(1)
        if (segs.length == partCols.length &&
            segs.iterator.zip(partCols.iterator)
              .forall { case (s, c) => s.startsWith(c + "=") })
          Some(segs.toSeq)
        else None
      }
    // ANY key in an unexpected layout voids the whole derivation — a
    // silent partial registration would under-read; the listing is the
    // safe fallback
    if (parsed.isEmpty || parsed.exists(_.isEmpty)) return recover()
    val parts = parsed.map(_.get).distinct
    // directory names are Hive-escaped: unescape and quote so the
    // catalog stores true values and re-derives locations itself (the
    // appendWave registration rationale, r16 advisor)
    val specs = parts.map(_.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      val lit = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(v)
        .replace("\\", "\\\\").replace("'", "\\'")
      s"$k='$lit'"
    }.mkString("PARTITION (", ", ", ")"))
    // batched: one statement per 1000 specs — a max-grain index is 65536
    // partitions × waves, and a single multi-MB ALTER statement trades
    // parser wall for nothing
    specs.grouped(1000).foreach(g =>
      spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS " +
        g.mkString(" ")))
  }

  /** Persist `df` as a plain (unbucketed, unpartitioned) external table —
    * the single-row meta / small-dimension artifact form next to the
    * bucketed tables above. */
  def writePlainExternal(df: DataFrame, table: String,
      location: String): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode(SaveMode.Overwrite)
      .option("path", location).option("compression", "snappy")
      .saveAsTable(table)
  }

  /** Register an existing [[writePlainExternal]] artifact — metadata only. */
  def attachPlain(spark: SparkSession, table: String,
      location: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val schema = spark.read.parquet(location).schema.toDDL
    spark.sql(
      s"CREATE TABLE $table ($schema) USING PARQUET LOCATION '$location'")
  }

  /** True when `a` and `b` name the SAME filesystem location, across
    * scheme qualification and relative/absolute spellings — the
    * live-location guard for compact/rebuild. `java.io.File` comparison
    * silently never matches scheme-qualified locations (`s3a://…`,
    * `mock://…` mangle into `<cwd>/s3a:/…`), which let a rebuild target
    * the live remote index it was reading (r15 review). Each side is
    * qualified by ITS OWN filesystem (relative paths resolve against the
    * FS working directory, local paths gain `file:`), so a remote
    * `mock://root/idx` and a local `/root/idx` correctly compare
    * UNEQUAL, while `/tmp/x` and `file:/tmp/x` compare equal. Authority
    * case is normalized (hostnames are case-insensitive per RFC 3986);
    * the RESIDUAL gap: two authority spellings of one service that
    * differ structurally — an explicit default port vs none
    * (`hdfs://nn:8020/x` vs `hdfs://nn/x`) or a host alias vs its
    * canonical name — still compare unequal, so the live-location guard
    * fails OPEN for them (resolving those requires asking the remote
    * FS/DNS, which this planning-time check deliberately does not do;
    * spell index locations consistently within a deployment). */
  def samePath(spark: SparkSession, a: String, b: String): Boolean =
    normPath(spark, a) == normPath(spark, b)

  /** True when `a` and `b` name the same location OR one is nested under
    * the other — the containment form of [[samePath]] the retirement
    * inventory needs: a compact whose outDir is a SUBDIRECTORY of the old
    * index root (`/data/idx` → `/data/idx/v2`) records the ancestor in
    * `_prior`, and a later retire would then recursively delete the live
    * index — its leases/readers sit under the NESTED dir, not the recorded
    * root, so the marker guard never fires (r18 advisor, medium). Same
    * normalization as [[samePath]]; containment is a whole-segment prefix
    * (`/a/bc` does not overlap `/a/b`). */
  def pathOverlaps(spark: SparkSession, a: String, b: String): Boolean = {
    val na = normPath(spark, a)
    val nb = normPath(spark, b)
    na._1 == nb._1 && na._2 == nb._2 && {
      val (pa, pb) = (na._3, nb._3)
      pa == pb || pa.startsWith(pb + "/") || pb.startsWith(pa + "/")
    }
  }

  // qualify ONLY scheme-less paths (resolves relative spellings and
  // adds file:): an already-qualified path is compared as written —
  // calling makeQualified on it would route through the named FS's
  // checkPath, which some FS impls (empty-authority URIs) reject for
  // authority-bearing paths even though the location is theirs
  private def normPath(spark: SparkSession,
      p: String): (String, String, String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    val u =
      if (path.toUri.getScheme != null) path.toUri
      else path.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(path).toUri
    (u.getScheme,
      Option(u.getAuthority).map(_.toLowerCase).getOrElse(""),
      u.getPath.stripSuffix("/") match { case "" => "/"; case s => s })
  }

  /** AUTO-SIZE a hash-partition grain (pvals/pcells) from the row count
    * it has to spread: the next power of two above rows/[[GrainTargetRows]],
    * clamped to [[MinGrain]], [[MaxGrain]]. The serving indexes' probe
    * cost is |probed partitions|/grain of the index, so a FIXED grain
    * means a linearly growing scan residual as the index grows — the r15
    * 1000×-decade series measured exactly that (text probe 1.13 → 3.57 s
    * across one decade at pvals=64, recovered at 512). This function is
    * the measured operating rule ("size grain to the corpus, fixed target
    * rows per partition — the Hive partition-sizing norm") turned into
    * the default: 500k rows → 64 (the grain the r14 series validated),
    * 5M → 512 (the r15 fix), 100B → the 65536 cap (grain "in the tens of
    * thousands", keeping directory counts filesystem-sane while each
    * partition holds ~1.5M rows). Power-of-two rounding keeps successive
    * re-grains stable (a few % row drift never flips the grain). */
  def autoGrain(rows: Long): Int = {
    val want = math.max(1L, (rows + GrainTargetRows - 1) / GrainTargetRows)
    var g = MinGrain
    while (g < want && g < MaxGrain) g <<= 1
    g
  }

  /** Target rows per hash partition for [[autoGrain]]. */
  val GrainTargetRows = 10000L

  /** [[autoGrain]] clamp: floors tiny test corpora at a grain that still
    * exercises pruning; caps directory counts at real scale. */
  val MinGrain = 16
  val MaxGrain = 65536

  /** Every FILE status under `path`, recursively — the shared listing
    * primitive for warm/stats/manifest paths. NOT `FileSystem.listFiles
    * (path, recursive = true)` on local filesystems: that path
    * constructs LocatedFileStatus per file, which materializes
    * PERMISSIONS — and non-native local Hadoop loads them by FORKING
    * `ls` once per file. Measured (r18 WarmDebugProbe, 4k-file table):
    * 20.9 s warm for listFiles vs 0.15 s for this plain listStatus walk
    * — a ~140x tax that dominated fine-grain warm() wall (the r17
    * "file-count bound" was never disk: raw reads of the same files run
    * at 400+ MB/s) and every fine-grain stats/manifest listing. Object
    * stores KEEP listFiles: there it is a flat LIST (one call per 1000
    * keys — cheaper than this walk's per-prefix LISTs) and nothing
    * forks. */
  def listFileStatuses(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    // the fork lives in RawLocalFileSystem's permission loading, so key
    // the walk on the IMPLEMENTATION (any RawLocal-derived FS — file://
    // and the local-backed mock remote schemes), not the scheme string;
    // real object-store clients are not RawLocal and keep the flat list
    def localBacked(f: org.apache.hadoop.fs.FileSystem): Boolean =
      f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem] ||
        (f match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem =>
            localBacked(c.getRawFileSystem)
          case _ => false
        })
    if (fs.getUri.getScheme == "file" || localBacked(fs)) {
      def walk(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) walk(st.getPath) else out += st
        }
      walk(path)
    } else {
      val it = fs.listFiles(path, true)
      while (it.hasNext) out += it.next()
    }
    out.toSeq
  }

  /** Recursive `part-` data-file count under `location` (any Hadoop FS
    * scheme) — the file-hygiene signal: each append adds one file set,
    * and a count far above buckets × partitions says compact. */
  def partFileCount(spark: SparkSession, location: String): Int = {
    val path = new org.apache.hadoop.fs.Path(location)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) 0
    else listFileStatuses(fs, path)
      .count(_.getPath.getName.startsWith("part-"))
  }

  // ---- wave-commit markers (atomic multi-table publish) ----------------
  //
  // A serving index spans several external tables; appending a wave of
  // data commits each table separately, and a reader listing files
  // between those commits would see a TORN index (exact-dup rows present,
  // near-dup rows missing — silent under-detection). The fix is the
  // classic staged-write + single-commit-object pattern, Spark-native:
  // every data table carries `wave` as its FIRST partition column, a wave's
  // files land under wave=W directories across all tables, and the wave
  // becomes visible only when the writer creates the marker file
  // `<dir>/_wave_W` — ONE atomic conditional create whose body is the
  // wave's file manifest ([[commitWave]]). Readers resolve
  // [[committedWave]] once per probe and filter `wave <= committed`
  // (planning-time directory pruning, so the filter costs nothing), which
  // makes a mid-append crash leave only INVISIBLE garbage (reclaimed by
  // compaction) instead of a torn index. Single-writer per index is still
  // the contract — markers serialize visibility, not writers.

  /** The committed wave SET under `dir` (sorted; empty when none): the
    * read-side filter is `wave IN (set)` — NOT `wave <= max` — because a
    * crashed append abandons its wave number and the retry publishes a
    * HIGHER one; a ≤-horizon would resurrect the abandoned garbage the
    * moment the retry commits. The set stays small (one entry per append
    * since the last rebuild/compact, both of which reset it to {0}). */
  def committedWaves(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.matches("_wave_\\d+")).map(_.stripPrefix("_wave_").toInt)
      .sorted.toSeq
  }

  /** Highest committed wave under `dir` (−1 when no marker exists). */
  def committedWave(spark: SparkSession, dir: String): Int =
    committedWaves(spark, dir).foldLeft(-1)(math.max)

  /** QUARANTINE committed wave `wave` under `dir` — the recovery lever
    * for a failed manifest audit (r17 verdict item 4:
    * [[verifyWaveManifests]] detects missing manifested keys — data loss
    * — and correctly refuses to auto-rewrite, but left the operator with
    * no tool). One marker-level move, zero data movement: `_wave_W`
    * renames to `_quar_W` (single-object rename — atomic and legal on
    * object stores), so the wave leaves the committed set and every
    * probe's next horizon excludes it — a damaged wave stops serving
    * partial content IMMEDIATELY. Its data files STAY for forensics:
    * [[reclaimGarbage]] treats quarantined waves as protected (they are
    * no longer committed, but they are not deletable garbage either),
    * [[abandonedWaves]] does not count them, and the next compact —
    * which rewrites committed waves only — purges them physically.
    *
    * Recovery path: the wave's content has LEFT the committed horizon, so
    * re-appending it from source is admitted as novel (the appends'
    * anti-joins read committed waves only) — re-ingest, then compact to
    * fold the history and drop the quarantined remnant. Restoring an
    * accidentally-quarantined HEALTHY wave is the reverse rename
    * (`_quar_W` → `_wave_W`), deliberately left manual. */
  def quarantineWave(spark: SparkSession, dir: String, wave: Int): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/_wave_$wave")
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(src),
      s"wave $wave is not committed under $dir — nothing to quarantine")
    renameWithRetry(fs, src,
      new org.apache.hadoop.fs.Path(s"$dir/_quar_$wave"))
  }

  /** Reverse a [[quarantineWave]] — `_quar_W` renames back to
    * `_wave_W`, restoring the wave to the committed set (probes serve it
    * again from their next horizon resolve). For the
    * accidentally-quarantined HEALTHY wave; restoring a wave whose
    * audit found missing keys just resurfaces the data loss (the audit
    * will flag it again). Same single-object atomic move as the
    * quarantine itself. */
  def unquarantineWave(spark: SparkSession, dir: String, wave: Int): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/_quar_$wave")
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(src),
      s"wave $wave is not quarantined under $dir — nothing to restore")
    renameWithRetry(fs, src,
      new org.apache.hadoop.fs.Path(s"$dir/_wave_$wave"))
  }

  /** Waves quarantined under `dir` (sorted; see [[quarantineWave]]). */
  def quarantinedWaves(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.matches("_quar_\\d+")).map(_.stripPrefix("_quar_").toInt)
      .sorted.toSeq
  }

  /** Create `p` atomically, failing (false) when it already exists — the
    * lease/marker primitive. `FileSystem.create(p, overwrite = false)` is
    * NOT atomic on the local filesystem (RawLocalFileSystem checks
    * existence then creates — two racing writers can BOTH pass the
    * check, which the r16 cross-JVM spec caught as a staging-path
    * collision truncating an in-flight wave), so the `file:` scheme goes
    * through java.nio `Files.createFile` (O_CREAT|O_EXCL — atomic across
    * threads AND processes on POSIX); other schemes keep
    * `create(false)`, which IS atomic where a central metadata service
    * arbitrates it (HDFS namenode; object stores need conditional-put —
    * S3 has it since 2024 — or an external lock, as documented on
    * [[acquireWave]]). */
  def createNoOverwrite(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    if (fs.getUri.getScheme == "file") {
      val local = new java.io.File(p.toUri.getPath)
      Option(local.getParentFile).foreach(_.mkdirs())
      try { java.nio.file.Files.createFile(local.toPath); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException =>
          // message-sniffing for "exist" also matched environmental
          // failures ("Parent path does not exist"), converting them into
          // a misleading lost-the-race false that callers retry 64 times
          // (r16 advisor) — ask the FS whether the path is actually there
          // and rethrow genuine errors
          if (fs.exists(p)) false else throw e
      }
    }

  /** PUBLISH wave `wave` under `dir` — one atomic create-no-overwrite;
    * the moment this returns, every reader's next [[committedWave]]
    * includes the wave's staged files across all tables. No-overwrite is
    * deliberate: the wave number was LEASED, so an existing marker means
    * a writer violated the lease protocol (or a buggy FS) — failing
    * loudly here turns a silent interleaved-content corruption into an
    * immediate error.
    *
    * The marker is a MANIFEST: it lists every data file of the wave
    * (size + path relative to `dir`), gathered by listing the writer's
    * own just-written `wave=W` directories — a read-your-writes listing,
    * strongly consistent on S3-class stores since 2020 and trivially so
    * on HDFS/local. Readers gate visibility on the marker NAME; the body
    * buys precise garbage reclamation ([[reclaimGarbage]]), the
    * integrity audit ([[verifyWaveManifests]]) and listing-free attach
    * ([[registerPartitions]]). The conditional-put (If-None-Match
    * semantics, [[createNoOverwriteContent]]) is the same primitive
    * [[createNoOverwrite]] already demands of the store. */
  def commitWave(spark: SparkSession, dir: String, wave: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_wave_$wave")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val ok = createNoOverwriteContent(fs, p, manifestBody(spark, dir, wave)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    require(ok,
      s"wave marker $p already exists — a second writer committed this " +
        "wave number; the lease protocol was bypassed or the filesystem " +
        "lacks atomic create-no-overwrite")
  }

  /** The manifest text for `wave`: one header line, then
    * `<size>\t<path-relative-to-dir>` per data file under every
    * `<dir>/<sub>/wave=<wave>` (subs discovered — any non-hidden child
    * directory carrying that wave). */
  private def manifestBody(spark: SparkSession, dir: String,
      wave: Int): String = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val rootUri = fs.makeQualified(root).toUri
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(root))
      fs.listStatus(root)
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".")
          && !st.getPath.getName.startsWith("_"))
        .foreach { sub =>
          val wd = new org.apache.hadoop.fs.Path(sub.getPath, s"wave=$wave")
          if (fs.exists(wd))
            listFileStatuses(fs, wd).foreach { f =>
              if (!f.getPath.getName.startsWith(".") &&
                  !f.getPath.getName.startsWith("_")) {
                val rel = rootUri
                  .relativize(fs.makeQualified(f.getPath).toUri).getPath
                entries += s"${f.getLen}\t$rel"
              }
            }
        }
    ("graft-wave-manifest v1" +: entries.sorted).mkString("\n")
  }

  /** Parse the `_wave_<wave>` manifest under `dir`: Some(relPath → size)
    * when the marker carries a manifest body, None for an empty marker
    * (written before every commit carried a manifest) or a missing one. */
  def waveManifest(spark: SparkSession, dir: String,
      wave: Int): Option[Map[String, Long]] =
    manifestAt(spark, s"$dir/_wave_$wave")

  /** [[waveManifest]] for a QUARANTINED wave's retained marker. */
  def quarantinedManifest(spark: SparkSession, dir: String,
      wave: Int): Option[Map[String, Long]] =
    manifestAt(spark, s"$dir/_quar_$wave")

  private def manifestAt(spark: SparkSession,
      marker: String): Option[Map[String, Long]] = {
    val p = new org.apache.hadoop.fs.Path(marker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p) || fs.getFileStatus(p).getLen == 0L) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
      val body = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      val lines = body.split("\n").toSeq
      if (!lines.headOption.exists(_.startsWith("graft-wave-manifest")))
        None
      else Some(lines.tail.filter(_.nonEmpty).map { l =>
        val Array(sz, rel) = l.split("\t", 2)
        rel -> sz.toLong
      }.toMap)
    }
  }

  /** [[createNoOverwrite]] carrying CONTENT — the conditional-put shape
    * (S3 `If-None-Match: *`): the object appears only if the key was
    * absent, and it appears WHOLE. On `file:` the body is written to a
    * hidden `.stage_`-prefixed sibling first (no `_wave_N` scan matches
    * it; a crashed writer's leftover is stale staging that
    * [[reclaimGarbage]] deletes) and then published with one hard link
    * — `link(2)` is atomic and fails when the target exists, so a reader
    * never parses a partial body: an O_EXCL create followed by a write
    * left a window in which [[reclaimGarbage]] would delete committed
    * files the partial body did not list yet. */
  def createNoOverwriteContent(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean =
    if (fs.getUri.getScheme == "file") {
      val local = new java.io.File(p.toUri.getPath)
      Option(local.getParentFile).foreach(_.mkdirs())
      val tmp = new java.io.File(local.getParentFile,
        s".stage_${local.getName}.${java.util.UUID.randomUUID()}").toPath
      java.nio.file.Files.write(tmp, content)
      try { java.nio.file.Files.createLink(local.toPath, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(content) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException =>
          if (fs.exists(p)) false else throw e
      }
    }

  /** Drop every wave marker, lease, AND staging root of a crashed append
    * under `dir` — a rebuild/compact starts the history over (its own
    * wave 0 is committed after the tables are written), and stale leases
    * or `.stage_w*` garbage from the retired history must not inflate
    * the new one's numbering or linger as dead bytes. */
  def clearWaveMarkers(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath)
        .filter(f => f.getName.matches("_wave_\\d+") ||
          f.getName.matches("_quar_\\d+") ||
          f.getName.matches("_lease_\\d+") ||
          f.getName.startsWith(".stage_") ||
          // a reused output dir must not inherit a past experiment's
          // stranded-prior inventory (retire would delete live dirs),
          // reader markers, or carry ledger — the new history starts empty
          f.getName == "_prior" || f.getName.startsWith("_reader_") ||
          f.getName == "_carried" ||
          // per-wave stats sidecars are keyed by wave NUMBER — the new
          // history reuses those numbers, so stale sidecars would be
          // trusted for waves they never measured ([[WaveStats]])
          f.getName == "_wavestats")
        .foreach(fs.delete(_, true))
  }

  // ---- wave leases (cooperative multi-writer numbering) -----------------
  //
  // commitWave's no-overwrite marker create turns a second writer into a
  // LOUD failure — correct, but only after both writers have already
  // staged rows under the SAME wave number (interleaved content the
  // failure can no longer untangle). Leases move the atomic create to
  // BEFORE staging: a writer first claims its number by creating the
  // empty `_lease_W` file (the same create-no-overwrite primitive), and
  // only the winner stages wave W — the loser retries at the next free
  // number. Two concurrent appenders therefore both land, on DISJOINT
  // waves, with no coordination service: the filesystem's atomic
  // create-no-overwrite IS the lock (atomic on HDFS and local FS;
  // object stores need conditional-put support — S3 has it since 2024 —
  // or an external lock). The lease is deleted when its wave commits;
  // a crashed writer's stale lease just keeps its number reserved
  // forever (numbering is monotonic anyway), and compact/rebuild clear
  // leases with the rest of the retired history.

  /** Wave numbers currently leased under `dir` (sorted; committed waves'
    * leases are deleted at commit, so these are in-flight or crashed). */
  def leasedWaves(spark: SparkSession, dir: String): Seq[Int] =
    leaseAges(spark, dir).map(_._1)

  /** (wave, ageMs) of every un-released lease under `dir`, age measured
    * from the lease file's mtime (= when the writer claimed the number) —
    * the writer-storm / quiesce diagnostic: a YOUNG lease is a writer
    * probably mid-append, an OLD one is crash garbage whose number stays
    * reserved harmlessly. */
  def leaseAges(spark: SparkSession, dir: String): Seq[(Int, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val now = System.currentTimeMillis()
      fs.listStatus(p)
        .filter(_.getPath.getName.matches("_lease_\\d+"))
        .map(st => (st.getPath.getName.stripPrefix("_lease_").toInt,
          math.max(0L, now - st.getModificationTime)))
        .sortBy(_._1).toSeq
    }
  }

  /** Leases younger than `ttlMs` — writers to presume LIVE (mid-append).
    * Older leases read as crashed: their numbers stay reserved, their
    * garbage stays invisible, and maintenance may proceed over them. */
  def liveLeases(spark: SparkSession, dir: String,
      ttlMs: Long): Seq[(Int, Long)] =
    leaseAges(spark, dir).filter(_._2 < ttlMs)

  /** The presumed-live writer TTL ([[liveLeases]] / [[requireQuiesced]]),
    * from `spark.graft.writerLiveTtlMs` (default 10 min — generous for an
    * append wave; a genuinely slow writer should bump the conf rather
    * than get compacted over). */
  def writerLiveTtlMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.writerLiveTtlMs", "600000").toLong

  /** The WRITER-QUIESCE guard for maintenance ops (compact/rebuild and
    * the [[graft.queries.Maintenance]] executors): those ops snapshot the
    * committed wave set once, so a wave committing mid-window is silently
    * ABSENT from the output — the quiesce contract was previously scaladoc
    * only, while the machinery to check it (leases) was already on disk
    * (r16 verdict item 2). Refuses loudly when any lease younger than
    * [[writerLiveTtlMs]] exists; `force = true` (the operator asserting
    * the writers are known-dead or drained) or waiting out the TTL
    * proceeds. Stale leases (crashed writers) never block. */
  def requireQuiesced(spark: SparkSession, dir: String, force: Boolean,
      op: String): Unit =
    if (!force) {
      val live = liveLeases(spark, dir, writerLiveTtlMs(spark))
      if (live.nonEmpty)
        throw new ConflictException(
          s"$op on $dir refused: possibly-live writer lease(s) " +
            live.map { case (w, a) => s"_lease_$w (${a / 1000}s old)" }
              .mkString("[", ", ", "]") +
            s" — a wave committing mid-$op would be silently lost. " +
            "Drain/stop writers (or wait out spark.graft.writerLiveTtlMs=" +
            s"${writerLiveTtlMs(spark)}), or pass force = true if they " +
            "are known dead.")
    }

  /** Atomically ACQUIRE the next free wave number under `dir`: computes
    * the first number above everything committed, staged, or leased,
    * then claims it with one create-no-overwrite; on a collision (a
    * concurrent writer claimed it first) the listing is re-taken and the
    * next number tried, `maxAttempts` times before giving up loudly. */
  def acquireWave(spark: SparkSession, dir: String, subs: Seq[String],
      maxAttempts: Int = 64): Int = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir)) // first append to a dir-less index
    var attempt = 0
    while (attempt < maxAttempts) {
      val next = math.max(
        math.max(committedWave(spark, dir), maxStagedWave(spark, dir, subs)),
        leasedWaves(spark, dir).foldLeft(-1)(math.max)) + 1
      // atomic claim ([[createNoOverwrite]] — the plain create(false) is
      // check-then-act on the local FS, and a double-claimed lease means
      // a shared staging path whose Overwrite truncates the other
      // writer's in-flight wave)
      if (createNoOverwrite(fs,
          new org.apache.hadoop.fs.Path(s"$dir/_lease_$next")))
        return next
      attempt += 1 // a concurrent writer won this number; re-list
    }
    // enumerate the holders so a writer-storm diagnosis needs no manual
    // _lease_* listing (r16 verdict item 7)
    val held = leaseAges(spark, dir)
      .map { case (w, a) => s"_lease_$w (${a / 1000}s old)" }
    throw new IllegalStateException(
      s"could not acquire a wave lease under $dir after $maxAttempts " +
        "attempts — writer storm or a filesystem without atomic " +
        s"create-no-overwrite; live leases: ${held.mkString("[", ", ", "]")}")
  }

  /** Release the lease for `wave` (called after its marker commits, or
    * to explicitly abandon a claimed-but-unstaged number). */
  def releaseWave(spark: SparkSession, dir: String, wave: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_lease_$wave")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
  }

  /** HEARTBEAT the lease for `wave` (bump its mtime): appends call this
    * between per-table writes, so [[liveLeases]]' age measures the time
    * since the writer last made PROGRESS, not since the whole append
    * began — without it, an append legitimately longer than
    * [[writerLiveTtlMs]] reads as crashed mid-write and a concurrent
    * maintenance run could compact over it. Object stores without
    * setTimes heartbeat by OVERWRITE-PUT instead ([[touchMarker]]). */
  def touchLease(spark: SparkSession, dir: String, wave: Int): Unit =
    touchMarker(spark, new org.apache.hadoop.fs.Path(s"$dir/_lease_$wave"))

  /** Bump a marker file's mtime — setTimes where the store supports it,
    * falling back to an overwrite-put of the (empty) marker where it does
    * not (real object stores: S3A throws on setTimes) — a silent no-op
    * there meant a reader/writer heartbeating longer than the TTL lost
    * its liveness protection while still active (r18 advisor). The
    * overwrite create is race-safe for these markers: the file exists
    * throughout (no delete window a concurrent [[acquireWave]] could
    * claim), and marker CONTENT is empty by contract. */
  private def touchMarker(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Unit = {
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.setTimes(p, System.currentTimeMillis(), -1)
    catch {
      case _: java.io.IOException | _: UnsupportedOperationException =>
        try { if (fs.exists(p)) fs.create(p, true).close() }
        catch { case _: java.io.IOException => () } // best-effort heartbeat
    }
  }

  /** Serialize same-JVM catalog DDL on one index: the FIRST tombstone
    * of an index publishes its files and then CREATEs the `<prefix>_tombs`
    * table over them, and two concurrent removers in one session must not
    * both run that CREATE. Every data write is lock-free — appends and
    * removes stage under writer-private roots and publish by per-file
    * moves ([[appendWave]], [[appendFilesByRenameTo]]). Keyed by the
    * qualified index directory, so two spellings of one location share a
    * lock. */
  def withWriteLock[A](spark: SparkSession, dir: String)(body: => A): A = {
    val lock = writeLocks.computeIfAbsent(normPath(spark, dir),
      _ => new Object)
    lock.synchronized(body)
  }

  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Object]()

  /** Move every FILE under `src` to the mirrored path under `dst` —
    * per-file renames only (the object-store-legal shape; a Hadoop
    * object-store FS implements single-file rename as one atomic
    * server-side copy + delete). The moves run on a bounded thread pool:
    * a wave can carry thousands of small files (batch partitions ×
    * buckets × tables at fine grain), and a sequential driver loop made
    * the per-file publish measurably slower than one directory rename
    * (r17 A/B) — per-object latency dominates on real stores too, and
    * these moves are embarrassingly parallel (the S3A committers batch
    * exactly the same way). */
  private def moveTree(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val moves = scala.collection.mutable
      .ArrayBuffer.empty[(org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path)]
    def walk(s: org.apache.hadoop.fs.Path,
        d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(s).foreach { st =>
        val to = new org.apache.hadoop.fs.Path(d, st.getPath.getName)
        if (st.isDirectory) walk(st.getPath, to)
        else { fs.mkdirs(d); moves += ((st.getPath, to)) }
      }
    walk(src, dst)
    if (moves.size <= 1)
      moves.foreach { case (f, to) => renameWithRetry(fs, f, to) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(moves.size, MovePoolThreads))
      try {
        val futures = moves.map { case (f, to) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = renameWithRetry(fs, f, to)
          })
        }
        futures.foreach(_.get()) // surface the first failure loudly
      } finally pool.shutdown()
    }
  }

  /** One publish move, throttle-tolerant: a 32-wide rename fan-out is
    * exactly the request pattern an object store answers with 503
    * SlowDown (surfaced by Hadoop FS clients as IOException once their
    * own retries drain), so each move retries with exponential backoff.
    * A timeout whose server-side copy actually LANDED is detected
    * (source gone ∧ destination present ⇒ done) rather than retried into
    * a spurious failure — safe because a wave's staging paths are
    * writer-private: nobody else can have moved the file. */
  private def renameWithRetry(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path): Unit = {
    var attempt = 0
    var delayMs = 50L
    while (true) {
      try {
        if (fs.rename(f, to)) return
        throw new java.io.IOException(s"rename returned false: $f -> $to")
      } catch {
        case e: java.io.IOException =>
          if (!fs.exists(f) && fs.exists(to)) return // the move landed
          if (attempt >= MoveRetries)
            throw new java.io.IOException(
              s"publish move failed after ${attempt + 1} attempts " +
                s"(throttling?): $f -> $to", e)
          attempt += 1
          Thread.sleep(delayMs)
          delayMs = math.min(delayMs * 2, 2000L)
      }
    }
  }

  /** Bounded parallelism for [[moveTree]]'s per-file publishes. */
  private val MovePoolThreads = 32

  /** Per-move retry budget against store throttling. */
  private val MoveRetries = 4

  /** CROSS-JVM-safe staged append of ONE wave's rows to a partitioned
    * bucketed table — the one publish path on every filesystem: the rows
    * are written to a WRITER-PRIVATE staging table under
    * `<indexDir>/.stage_w<wave>/<liveTable>`, their files are MOVED one at
    * a time into the live table's `wave=W` subtree ([[moveTree]]), and
    * the moved partitions are registered with one batched
    * `ALTER TABLE ADD IF NOT EXISTS PARTITION`. Two concurrent writers —
    * threads OR processes — never share a Hadoop committer staging dir
    * (`_temporary/0`), so no lock is taken: the wave lease already
    * guarantees the `wave=W` destination is this writer's alone.
    *
    * Per-object moves are atomic on object stores (no directory rename
    * is needed, which S3-class stores cannot do), and the non-atomicity
    * of the sequence is irrelevant: nothing under `wave=W` is visible to
    * any reader until [[commitWave]] lands the `_wave_W` manifest. A
    * dot-prefixed staging root is invisible to every table scan
    * (Hadoop's hidden-path filter); a crash before the moves leaves
    * garbage only there, and a crash mid-move leaves a partial file set
    * under an uncommitted wave — invisible garbage, reclaimed precisely
    * by [[reclaimGarbage]].
    *
    * `df` must already carry the `wave` column (= `wave`) and the
    * partition/bucket columns, pre-repartitioned by the caller.
    * Registration note: the live tables are catalog-partitioned (attach
    * registers partitions), so moved-in dirs must be ADDed for
    * planning-time pruning to see them — the statement is
    * batch-proportional (only partitions the batch touched exist under
    * `wave=W`). */
  def appendWave(spark: SparkSession, df: DataFrame,
      liveTable: String, keys: Seq[String], partColsAfterWave: Seq[String],
      buckets: Int, indexDir: String, wave: Int): Unit = {
    val stagePath = s"$indexDir/.stage_w$wave/$liveTable"
    val stageTable = s"${liveTable}__stage_w$wave"
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("wave" +: partColsAfterWave: _*)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", stagePath)
      .option("compression", "snappy")
      .saveAsTable(stageTable)
    spark.sql(s"DROP TABLE $stageTable") // external: files stay put
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(s"$stagePath/wave=$wave")
    val fs = src.getFileSystem(conf)
    if (fs.exists(src)) { // absent = empty batch (no rows ⇒ no dirs)
      val liveLoc = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(liveTable))
        .location.toString
      val dst = new org.apache.hadoop.fs.Path(s"$liveLoc/wave=$wave")
      moveTree(fs, src, dst)
      val parts =
        if (partColsAfterWave.isEmpty) Seq(s"PARTITION (wave=$wave)")
        else fs.listStatus(dst).map(_.getPath.getName)
          .filter(_.contains("=")).toSeq.sorted.map { d =>
            val Array(k, v) = d.split("=", 2)
            // directory names are Hive-ESCAPED ('%3A' for ':'): splicing
            // them verbatim registered wrong values for any future STRING
            // partition column (today's int columns happened to round-trip)
            // — unescape and quote, so the catalog stores the true value
            // and re-derives the escaped location itself (r16 advisor)
            val lit = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(v)
              .replace("\\", "\\\\").replace("'", "\\'")
            s"PARTITION (wave=$wave, $k='$lit')"
          }
      if (parts.nonEmpty)
        spark.sql(s"ALTER TABLE $liveTable ADD IF NOT EXISTS " +
          parts.mkString(" "))
    }
    fs.delete(new org.apache.hadoop.fs.Path(stagePath), true)
    spark.catalog.refreshTable(liveTable)
  }

  /** [[appendWave]] for an UNPARTITIONED live table at `liveLoc` (the
    * tombstone tables): writes `df` as plain parquet under a private
    * `.stage_t<tag>` root, then moves each part file into the live
    * directory (job-UUID file names never collide). Also the form the
    * FIRST tombstone of an index takes, before any `<prefix>_tombs` table
    * exists to look the location up from: publish the files, THEN the
    * caller registers the table over them. Two replicas' removes are safe
    * against each other — writer-private staging (no shared committer
    * dir) and job-UUID part names; each replica's CREATE lands in its own
    * catalog (r16 advisor: a saveAsTable on `$dir/tombs` shared its
    * committer staging dir across processes). Concurrent removers still
    * share the tombs SNAPSHOT their novel-anti-join read, so the same id
    * removed concurrently by two processes can double-insert (verdicts
    * stay right — the probe anti-join dedups — but the raw tombstone row
    * count inflates; compact collapses the rows). */
  def appendFilesByRenameTo(spark: SparkSession, df: DataFrame,
      liveLoc: String, indexDir: String): Unit = {
    val tag = java.util.UUID.randomUUID().toString.take(12)
    val stagePath = s"$indexDir/.stage_t$tag"
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "snappy").parquet(stagePath)
    val sp = new org.apache.hadoop.fs.Path(stagePath)
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(liveLoc))
    fs.listStatus(sp).map(_.getPath)
      .filter(_.getName.startsWith("part-")).foreach { f =>
        // throttle-tolerant like every publish move ([[renameWithRetry]])
        renameWithRetry(fs,
          f, new org.apache.hadoop.fs.Path(s"$liveLoc/${f.getName}"))
      }
    fs.delete(sp, true)
  }

  /** Wave partition values the session CATALOG currently knows for
    * `table` — with per-process in-memory catalogs this can TRAIL the
    * filesystem's committed set after another process appends (its ADD
    * PARTITION landed only in its own catalog); readers under-read
    * consistently, but a WRITER's novel-content anti-join would wrongly
    * re-insert the unseen waves' rows ([[graft.queries.DedupIndex]]
    * append uses this to self-heal with a RECOVER). */
  def catalogWaves(spark: SparkSession, table: String): Set[Int] =
    spark.sessionState.catalog.listPartitionNames(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
      .flatMap(_.split("/").find(_.startsWith("wave="))
        .map(_.stripPrefix("wave=").toInt)).toSet

  /** Drop ONE wave's staging root (normal end-of-append cleanup; the
    * per-table subtrees are already gone after their moves). */
  def releaseStaging(spark: SparkSession, dir: String, wave: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/.stage_w$wave")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** (name, ageMs) of every `.stage_*` staging root under `dir`, age from
    * the root's mtime — distinguishes a healthy IN-FLIGHT append (young)
    * from crash garbage (old): the r16 advisor's finding
    * that counting them all as a compact reason made a live append alone
    * trigger an executed compact mid-write. */
  def stagingDirAges(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val now = System.currentTimeMillis()
      fs.listStatus(p)
        .filter(_.getPath.getName.startsWith(".stage_"))
        .map(st => (st.getPath.getName,
          math.max(0L, now - st.getModificationTime)))
        .sortBy(_._1).toSeq
    }
  }

  /** Highest wave directory STAGED under any of `dir/<sub>` — committed
    * or not (−1 when none): the next append writes above every number any
    * previous (possibly crashed) writer used, so abandoned garbage can
    * never collide with live data. */
  def maxStagedWave(spark: SparkSession, dir: String,
      subs: Seq[String]): Int = {
    val conf = spark.sessionState.newHadoopConf()
    subs.flatMap { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.matches("wave=\\d+")).map(_.stripPrefix("wave=").toInt)
    }.foldLeft(-1)(math.max)
  }

  /** Waves staged on disk but never committed (crashed-append garbage
    * count — the torn-write detector surfaced through index stats).
    * Quarantined waves are NOT abandoned: their files stay deliberately
    * ([[quarantineWave]] forensics), so counting them would keep firing
    * the reclaim recommendation against undeletable bytes. */
  def abandonedWaves(spark: SparkSession, dir: String,
      subs: Seq[String]): Int = {
    val committed = committedWaves(spark, dir).toSet ++
      quarantinedWaves(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    subs.flatMap { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.matches("wave=\\d+")).map(_.stripPrefix("wave=").toInt)
    }.distinct.count(!committed(_))
  }

  /** One wave's manifest-vs-filesystem audit result: `missing` = keys the
    * manifest lists but the store no longer has (data loss / partial
    * replication — investigate loudly), `strays` = keys on the store the
    * manifest does not list (reclaimable; [[reclaimGarbage]] deletes
    * them). */
  final case class ManifestAudit(wave: Int, missing: Seq[String],
      strays: Seq[String])

  /** AUDIT every committed wave's manifest against the filesystem — the
    * integrity check the manifest bodies make cheap (one listing, no data
    * read): an empty result means every committed key is exactly where
    * its commit said. Empty markers (written before every commit carried
    * a manifest) have no inventory and are skipped. */
  def verifyWaveManifests(spark: SparkSession,
      dir: String): Seq[ManifestAudit] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val rootUri = fs.makeQualified(root).toUri
    committedWaves(spark, dir).flatMap { w =>
      waveManifest(spark, dir, w).flatMap { listed =>
        val onDisk = scala.collection.mutable.Set.empty[String]
        fs.listStatus(root)
          .filter(st => st.isDirectory &&
            !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_"))
          .foreach { sub =>
            val wd = new org.apache.hadoop.fs.Path(sub.getPath, s"wave=$w")
            if (fs.exists(wd))
              listFileStatuses(fs, wd).foreach { st =>
                val f = st.getPath
                if (!f.getName.startsWith(".") &&
                    !f.getName.startsWith("_"))
                  onDisk +=
                    rootUri.relativize(fs.makeQualified(f).toUri).getPath
              }
          }
        val missing = (listed.keySet -- onDisk).toSeq.sorted
        val strays = (onDisk -- listed.keySet).toSeq.sorted
        if (missing.isEmpty && strays.isEmpty) None
        else Some(ManifestAudit(w, missing, strays))
      }
    }
  }

  /** IN-PLACE garbage sweep — the precise-reclamation half the wave
    * manifests buy (r16 verdict item 1; compact reclaims too, but a
    * compact REWRITES the whole index, which at 100 TB is the expensive
    * lever — this one only deletes dead bytes). Removes, under `dir`:
    *
    *   - stale `.stage_*` roots (crashed writers' staged data or marker
    *     bodies; roots younger than [[writerLiveTtlMs]] are presumed a
    *     live writer and skipped),
    *   - `wave=N` directories of UNCOMMITTED waves under each
    *     `dir/<sub>`, unless N's lease is live (a writer mid-publish),
    *   - files inside COMMITTED wave directories that the wave's
    *     manifest does not list (belt-and-braces: the lease protocol
    *     means these should not exist; the manifest makes checking
    *     cheap). Waves with an empty marker have no inventory and are
    *     left alone.
    *
    * Returns the deleted paths. Safe to run concurrently with readers
    * (everything deleted was invisible to them) and with live writers
    * (their leases and young staging roots are skipped). */
  def reclaimGarbage(spark: SparkSession, dir: String,
      subs: Seq[String]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val ttl = writerLiveTtlMs(spark)
    val live = liveLeases(spark, dir, ttl).map(_._1).toSet
    val committed = committedWaves(spark, dir).toSet
    // quarantined waves are PROTECTED: no longer committed (probes skip
    // them) but retained for forensics — only compact purges them
    val quarantined = quarantinedWaves(spark, dir).toSet
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    // 1. stale staging roots
    stagingDirAges(spark, dir).filter(_._2 >= ttl).foreach { case (n, _) =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n")
      if (fs.delete(p, true)) deleted += p.toString
    }
    // 2. uncommitted (abandoned) wave directories, minus live writers'
    subs.foreach { sub =>
      val sp = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (fs.exists(sp))
        fs.listStatus(sp).map(_.getPath)
          .filter(_.getName.matches("wave=\\d+"))
          .foreach { wd =>
            val w = wd.getName.stripPrefix("wave=").toInt
            if (!committed(w) && !live(w) && !quarantined(w) &&
                fs.delete(wd, true))
              deleted += wd.toString
          }
    }
    // 3. manifest-precise sweep inside committed waves
    val rootUri = fs.makeQualified(root).toUri
    committed.toSeq.sorted.foreach { w =>
      waveManifest(spark, dir, w).foreach { listed =>
        subs.foreach { sub =>
          val wd = new org.apache.hadoop.fs.Path(s"$dir/$sub/wave=$w")
          if (fs.exists(wd)) {
            val strays = listFileStatuses(fs, wd).map(_.getPath)
              .filter { f =>
                val rel =
                  rootUri.relativize(fs.makeQualified(f).toUri).getPath
                !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
                  !listed.contains(rel)
              }
            strays.foreach(f =>
              if (fs.delete(f, false)) deleted += f.toString)
          }
        }
      }
    }
    deleted.toSeq
  }

  // ---- prior-location retirement (compact/rebuild strand the old dir) --
  //
  // compact/rebuild write a fresh directory and flip the serving catalog
  // to it; the OLD location keeps every byte and, before r18, belonged to
  // nobody — at 100 TB each maintenance-cadence compact silently DOUBLED
  // index storage until an operator hand-deleted (r17 verdict item 2).
  // The rewrite now records the stranded location in a `_prior` file at
  // the NEW directory (carrying forward any chain the old one had), stats
  // surface it, and [[retirePriors]] deletes it — guarded like every
  // destructive maintenance op: a live writer lease or a live READER
  // marker on the old location refuses the delete. Reader markers are
  // opt-in ([[registerReader]]): a deployment that keeps serving replicas
  // on the OLD artifact through a catalog flip registers one per replica
  // and unregisters (or just stops heartbeating) after re-attaching.

  /** Stranded prior index locations recorded under `dir/_prior` (oldest
    * first; empty when none). */
  def priorLocations(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_prior")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      if (len == 0) Nil
      else {
        val buf = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(buf) finally in.close()
        new String(buf, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq.filter(_.nonEmpty)
      }
    }
  }

  /** Record `priorDir` as STRANDED history under `dir/_prior` — called by
    * a compact/rebuild that flipped the catalog from `priorDir` to `dir`
    * in place (same prefix). Any chain `priorDir` itself carried rides
    * along, so A→B→C leaves C knowing about both A and B. Plain
    * overwrite-put (maintenance ops are single-writer by the quiesce
    * contract, and the file is advisory inventory, not a commit object).
    *
    * A prior that CONTAINS (or is contained by) the live dir is never
    * recorded — a compact into a subdirectory of the old root would
    * otherwise inventory an ancestor of the live index, and retiring it
    * would recursively delete the live data the guard markers (which sit
    * under the nested dir, not the recorded root) cannot protect (r18
    * advisor). Such a nested layout keeps its old copy until an operator
    * deletes the SIBLING content by hand — a storage leak beats a
    * self-delete. */
  def recordPriorLocation(spark: SparkSession, dir: String,
      priorDir: String): Unit = {
    val chain = (priorLocations(spark, priorDir) :+ priorDir)
      .filterNot(p => pathOverlaps(spark, p, dir)).distinct
    writePriors(spark, dir, chain)
  }

  private def writePriors(spark: SparkSession, dir: String,
      priors: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_prior")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (priors.isEmpty) { fs.delete(p, false); () }
    else {
      val out = fs.create(p, true)
      try out.write(priors.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** REGISTER a reader on `dir` (a `_reader_<token>` marker file): a
    * serving replica that probes this location directly announces itself
    * so [[retirePriors]] refuses to delete under it. Returns the token;
    * heartbeat with [[touchReader]] at probe cadence (liveness is marker
    * mtime vs [[writerLiveTtlMs]], like writer leases) and
    * [[unregisterReader]] after re-attaching elsewhere. Opt-in: plain
    * single-location deployments (the catalog flip moves every reader
    * atomically within a session) never need one. */
  def registerReader(spark: SparkSession, dir: String): String = {
    val token = java.util.UUID.randomUUID().toString.take(12)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_reader_$token")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(createNoOverwrite(fs, p), s"reader token collision at $p")
    token
  }

  /** Heartbeat a [[registerReader]] marker — setTimes, with the
    * overwrite-put fallback on stores without it ([[touchMarker]]): a
    * replica reading longer than [[writerLiveTtlMs]] keeps its retire
    * protection on object stores too. */
  def touchReader(spark: SparkSession, dir: String, token: String): Unit =
    touchMarker(spark, new org.apache.hadoop.fs.Path(s"$dir/_reader_$token"))

  /** Drop a [[registerReader]] marker. */
  def unregisterReader(spark: SparkSession, dir: String,
      token: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_reader_$token")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
  }

  /** (token, ageMs) of every reader marker under `dir`. */
  def readerAges(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val now = System.currentTimeMillis()
      fs.listStatus(p)
        .filter(_.getPath.getName.startsWith("_reader_"))
        .map(st => (st.getPath.getName.stripPrefix("_reader_"),
          math.max(0L, now - st.getModificationTime)))
        .sortBy(_._1).toSeq
    }
  }

  /** The minimum-stranded-age grace for [[retirePriors]], from
    * `spark.graft.retireGraceMs` (default = [[writerLiveTtlMs]]): a prior
    * must have been stranded at least this long before ANY retire — force
    * included — may delete it. The marker guards below are cooperative
    * (readers opt in), so a just-flipped catalog could otherwise lose the
    * copy an unregistered replica is still serving mid-rollover to a
    * hasty `force = true` (r18 verdict item 3); the age gate is the one
    * protection independent of markers. Set the conf to 0 to disable. */
  def retireGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.retireGraceMs")
      .map(_.toLong).getOrElse(writerLiveTtlMs(spark))

  /** RETIRE every stranded prior location recorded under `dir/_prior`:
    * the guarded grace-period delete that stops compact/rebuild doubling
    * index storage forever. Refuses LOUDLY — retiring nothing — when
    *
    *   - the priors have been stranded for less than [[retireGraceMs]]
    *     (measured from the `_prior` inventory's mtime = the latest
    *     catalog flip): NOT overridable by `force` — the grace is the
    *     only guard an unregistered replica gets (lower the conf to
    *     shorten it deliberately);
    *   - any prior still has a writer lease or reader marker younger
    *     than [[writerLiveTtlMs]] (a replica may still be serving off
    *     it); `force = true` (the operator asserting nothing reads the
    *     old copy) or waiting out the TTL proceeds.
    *
    * Returns the deleted locations and rewrites `_prior` to empty. Safe
    * against the live index by construction: nothing overlapping the
    * current `dir` — itself, an ancestor, or a descendant — is ever in
    * its own prior list ([[recordPriorLocation]] filters; the filter here
    * is the belt for hand-written inventories). */
  def retirePriors(spark: SparkSession, dir: String,
      force: Boolean = false): Seq[String] = {
    val priors = priorLocations(spark, dir)
      .filterNot(p => pathOverlaps(spark, p, dir)) // belt: never self-delete
    if (priors.isEmpty) return Nil
    val grace = retireGraceMs(spark)
    if (grace > 0) {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_prior")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val age = math.max(0L,
        System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)
      if (age < grace)
        throw new ConflictException(
          s"retire of ${priors.size} prior location(s) under $dir " +
            s"refused: stranded only ${age / 1000}s — less than the " +
            s"${grace / 1000}s minimum-stranded-age grace " +
            "(spark.graft.retireGraceMs; not overridable by force: an " +
            "unregistered replica may still serve the old copy " +
            "mid-rollover). Wait out the grace or lower the conf " +
            "deliberately.")
    }
    if (!force) {
      val ttl = writerLiveTtlMs(spark)
      val blockers = priors.flatMap { p =>
        liveLeases(spark, p, ttl).map { case (w, a) =>
          s"$p/_lease_$w (${a / 1000}s old)" } ++
          readerAges(spark, p).filter(_._2 < ttl).map { case (t, a) =>
            s"$p/_reader_$t (${a / 1000}s old)" }
      }
      if (blockers.nonEmpty)
        throw new ConflictException(
          s"retire of ${priors.size} prior location(s) under $dir " +
            "refused: possibly-live writer lease(s) / reader marker(s) " +
            blockers.mkString("[", ", ", "]") +
            " — a replica may still serve off the old artifact. " +
            "Unregister/drain them (or wait out " +
            s"spark.graft.writerLiveTtlMs=${writerLiveTtlMs(spark)}), or " +
            "pass force = true if they are known dead.")
    }
    val conf = spark.sessionState.newHadoopConf()
    val retired = priors.filter { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      !fs.exists(path) || fs.delete(path, true)
    }
    writePriors(spark, dir, priors.filterNot(retired.contains))
    retired
  }

  // ---- wave carry-over (the online-compact transition machinery) -------
  //
  // compact/rebuild used to requireQuiesced: a full-index rewrite at
  // 100 TB is HOURS of halted ingest per maintenance cycle — the last
  // stop-the-world in the design (r18 verdict item 1). The wave set
  // already provides consistent-snapshot semantics (as-of-wave reads
  // prove it), so a compact can fold committed waves ≤ a chosen horizon H
  // into the fresh location while writers KEEP APPENDING waves > H at the
  // old one; those waves are then CARRIED over — per-file copies (the
  // object-store-legal primitive; committed waves are immutable, so the
  // copy races nothing) published under the marker protocol at the new
  // location, atomically one wave at a time. A `_carried` ledger at the
  // new dir records the horizon and every fromWave→toWave mapping, so
  // catch-up carries are idempotent across calls and sessions. Wave
  // numbers are preserved when free and REMAPPED via the lease protocol
  // on collision (a writer already appending at the new location), so
  // carried history and new ingest interleave safely.

  /** Parse `toDir/_carried`: (fromDir, horizon, fromWave→toWave). None
    * when the dir has no carry ledger (not a horizon-compact target). */
  def readCarryLedger(spark: SparkSession,
      dir: String): Option[(String, Int, Map[Int, Int])] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_carried")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
      val lines = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
      if (!lines.headOption.exists(_.startsWith("graft-carry"))) None
      else {
        val from = lines.collectFirst {
          case l if l.startsWith("from=") => l.stripPrefix("from=") }
        val upTo = lines.collectFirst {
          case l if l.startsWith("upTo=") => l.stripPrefix("upTo=").toInt }
        val mapping = lines.drop(1).filter(_.contains("\t")).map { l =>
          val Array(a, b) = l.split("\t", 2)
          a.toInt -> b.toInt
        }.toMap
        for (f <- from; u <- upTo) yield (f, u, mapping)
      }
    }
  }

  /** (Re)write the carry ledger wholesale — single-maintenance-writer
    * context (the compact that created it / its catch-up calls), so a
    * plain overwrite-put is the right primitive, like `_prior`. */
  def writeCarryLedger(spark: SparkSession, dir: String, fromDir: String,
      upTo: Int, mapping: Seq[(Int, Int)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_carried")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val body = (Seq("graft-carry v1", s"from=$fromDir", s"upTo=$upTo") ++
      mapping.sortBy(_._1).map { case (a, b) => s"$a\t$b" }).mkString("\n")
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** CLAIM a wave number at `toDir` for a carried wave: the source number
    * when it is free (history keeps its numbering — as-of-wave probes
    * stay meaningful across the carry), else a fresh number from the
    * ordinary lease protocol (a writer already appending at `toDir` took
    * it — the remap case). Either way the returned number is LEASED;
    * release after the carried marker commits. */
  def claimCarryWave(spark: SparkSession, toDir: String, subs: Seq[String],
      desired: Int): Int = {
    val fs = new org.apache.hadoop.fs.Path(toDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val taken = committedWaves(spark, toDir).toSet ++
      quarantinedWaves(spark, toDir) ++
      leasedWaves(spark, toDir) ++
      (0 to maxStagedWave(spark, toDir, subs))
    if (!taken.contains(desired) && createNoOverwrite(fs,
        new org.apache.hadoop.fs.Path(s"$toDir/_lease_$desired")))
      desired
    else acquireWave(spark, toDir, subs)
  }

  /** COPY one committed wave's data files `fromDir` → `toDir` under the
    * (possibly remapped) number `toWave` — per-file copies, bounded-pool
    * parallel like every publish fan-out; committed waves are immutable,
    * so the copy is race-free against live writers, and NOTHING at
    * `toDir` is visible until [[commitCarriedWave]] lands the marker.
    * Returns, per sub, the partition directory paths RELATIVE to the wave
    * dir ("" for unpartitioned-below-wave tables) — exactly what
    * [[registerWavePartitions]] needs, with no extra listing. */
  def copyWaveFiles(spark: SparkSession, fromDir: String, toDir: String,
      fromWave: Int, toWave: Int): Map[String, Set[String]] = {
    val conf = spark.sessionState.newHadoopConf()
    val fromRoot = new org.apache.hadoop.fs.Path(fromDir)
    val ffs = fromRoot.getFileSystem(conf)
    val tfs = new org.apache.hadoop.fs.Path(toDir).getFileSystem(conf)
    val out = scala.collection.mutable.Map.empty[String, Set[String]]
    val copies = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
    ffs.listStatus(fromRoot)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".")
        && !st.getPath.getName.startsWith("_"))
      .foreach { sub =>
        val wd = new org.apache.hadoop.fs.Path(sub.getPath,
          s"wave=$fromWave")
        if (ffs.exists(wd)) {
          val wdUri = ffs.makeQualified(wd).toUri
          val parts = scala.collection.mutable.Set.empty[String]
          listFileStatuses(ffs, wd).foreach { st =>
            val f = st.getPath
            if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
              val rel = wdUri.relativize(ffs.makeQualified(f).toUri).getPath
              val relDir = rel.lastIndexOf('/') match {
                case -1 => ""
                case i => rel.substring(0, i)
              }
              parts += relDir
              copies += ((f, new org.apache.hadoop.fs.Path(
                s"$toDir/${sub.getPath.getName}/wave=$toWave/$rel")))
            }
          }
          if (parts.nonEmpty) out(sub.getPath.getName) = parts.toSet
        }
      }
    def copyOne(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Unit = {
      tfs.mkdirs(dst.getParent)
      // overwrite = true: a crashed earlier carry of THIS wave left a
      // partial uncommitted file set — invisible garbage the retry
      // overwrites in place
      org.apache.hadoop.fs.FileUtil.copy(ffs, src, tfs, dst, false, true,
        conf)
    }
    if (copies.size <= 1) copies.foreach { case (s, d) => copyOne(s, d) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(copies.size, MovePoolThreads))
      try {
        val fs2 = copies.map { case (s, d) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = copyOne(s, d)
          })
        }
        fs2.foreach(_.get())
      } finally pool.shutdown()
    }
    out.toMap
  }

  /** Register carried partition directories in `table`'s catalog entry —
    * batched ALTER ADD, values unescaped/quoted exactly like the append
    * path's registration. MUST run before the carried marker commits:
    * a same-session probe between marker and registration would resolve
    * the wave committed but scan none of its files. */
  def registerWavePartitions(spark: SparkSession, table: String,
      toWave: Int, relDirs: Set[String]): Unit = {
    val specs = relDirs.toSeq.sorted.map { rel =>
      val extra = rel.split("/").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        val lit = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(v)
          .replace("\\", "\\\\").replace("'", "\\'")
        s", $k='$lit'"
      }.mkString
      s"PARTITION (wave=$toWave$extra)"
    }
    specs.grouped(1000).foreach(g =>
      spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS " + g.mkString(" ")))
    spark.catalog.refreshTable(table)
  }

  /** SYNC tombstone part files `fromDir/tombs` → `toDir/tombs` (copy,
    * never move — the old location keeps serving its readers throughout a
    * horizon compact). Job-UUID part names are globally unique, so
    * name-presence is the idempotence check; a takedown landing at the
    * old location mid-carry reaches the new one on the next sync round.
    * Returns true when `toDir/tombs` has any files (⇒ attach a table). */
  def syncTombFiles(spark: SparkSession, fromDir: String,
      toDir: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(s"$fromDir/tombs")
    val ffs = src.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(s"$toDir/tombs")
    val tfs = dst.getFileSystem(conf)
    if (ffs.exists(src)) {
      val have =
        if (tfs.exists(dst)) tfs.listStatus(dst).map(_.getPath.getName).toSet
        else Set.empty[String]
      val fresh = ffs.listStatus(src).map(_.getPath)
        .filter(f => f.getName.startsWith("part-") && !have(f.getName))
      if (fresh.nonEmpty) tfs.mkdirs(dst)
      fresh.foreach(f => org.apache.hadoop.fs.FileUtil.copy(ffs, f, tfs,
        new org.apache.hadoop.fs.Path(dst, f.getName), false, true, conf))
    }
    tfs.exists(dst) && tfs.listStatus(dst)
      .exists(_.getPath.getName.startsWith("part-"))
  }

  /** PUBLISH a carried wave at `toDir`: the source manifest gets its
    * `wave=<from>` path segment rewritten to the (possibly remapped)
    * `wave=<to>`, so [[verifyWaveManifests]] audits the carried wave
    * exactly as a natively-appended one; a source with an empty marker
    * (written before every commit carried a manifest) is committed by
    * [[commitWave]], which lists the just-copied files. Same
    * no-overwrite contract as [[commitWave]] — the number was leased by
    * [[claimCarryWave]]. */
  def commitCarriedWave(spark: SparkSession, fromDir: String, toDir: String,
      fromWave: Int, toWave: Int): Unit = {
    val tp = new org.apache.hadoop.fs.Path(s"$toDir/_wave_$toWave")
    val tfs = tp.getFileSystem(spark.sessionState.newHadoopConf())
    val ok = waveManifest(spark, fromDir, fromWave) match {
      case None => commitWave(spark, toDir, toWave); true
      case Some(listed) =>
        val entries = listed.toSeq.map { case (rel, sz) =>
          val remapped = rel.split("/").map(seg =>
            if (seg == s"wave=$fromWave") s"wave=$toWave" else seg)
            .mkString("/")
          s"$sz\t$remapped"
        }.sorted
        createNoOverwriteContent(tfs, tp,
          ("graft-wave-manifest v1" +: entries).mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    require(ok,
      s"carried wave marker $tp already exists — the carry lease was " +
        "bypassed or the filesystem lacks atomic create-no-overwrite")
  }

  /** PREFETCH every data file under `location` through the OS page cache —
    * the cold-start mitigation the r16 cold/warm decomposition
    * (BENCH_NOTES) called for: the first probe after a cold attach pays 2.8–9× of the
    * warm steady state, and the measured dominant term is BYTES (cold
    * page cache), not listing — so the fix is to pay those bytes UP
    * FRONT, at sequential-read bandwidth, on deploy/attach, instead of as
    * scattered reads inside the first serving request's latency. Raw
    * streaming reads (no parquet decode), distributed one-file-per-task
    * across executor threads; returns total bytes pulled. On a cluster,
    * run it wherever the executors that will serve the probes live (page
    * cache is per-machine); storage tiers with their own cache (or a
    * shared metastore + FileStatusCache for the listing half) make it a
    * no-op that costs one sequential pass. */
  def warmFiles(spark: SparkSession, location: String): Long = {
    val path = new org.apache.hadoop.fs.Path(location)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(hconf)
    if (!fs.exists(path)) return 0L
    // listFileStatuses, NOT listFiles: the recursive LocatedFileStatus
    // listing forks per file on local FS — it alone was 20 of the 21
    // seconds a 4k-file warm took (r18 WarmDebugProbe)
    val files = listFileStatuses(fs, path).map(_.getPath.toUri.toString)
    if (files.isEmpty) return 0L
    // the SESSION Hadoop conf must reach the tasks: a bare
    // `new Configuration()` drops fs.<scheme>.impl registrations and
    // spark.hadoop.* credentials, so warm() threw "No FileSystem for
    // scheme" on any store needing session conf — mos:// and real S3
    // included, the very substrate it targets (r17 advisor). Hadoop's
    // Configuration is not Serializable (and Spark's wrapper is
    // private[spark]); ship the ENTRIES and rebuild once per task —
    // which also lifts the per-file `new Configuration()` tax that
    // dominated fine-grain warm wall (each instantiation re-parses the
    // default XML resources; at 12k+ files that was most of the time).
    val entries = {
      import scala.jdk.CollectionConverters._
      hconf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    }
    val bc = spark.sparkContext.broadcast(entries)
    val slices = math.min(files.size,
      math.max(1, spark.sparkContext.defaultParallelism * 2))
    // RDD on purpose: per-file imperative IO with no relational shape —
    // the one place the builder guide sanctions dropping below DataFrame
    spark.sparkContext.parallelize(files.toSeq, slices).mapPartitions { us =>
      val c = new org.apache.hadoop.conf.Configuration(false)
      bc.value.foreach { case (k, v) => c.set(k, v) }
      // ONE FileSystem per task, not per file: FileSystem.get per file
      // serializes all 32 executor threads on Hadoop's synchronized FS
      // cache + UGI current-user lookup — a lock convoy the r18
      // WarmDebugProbe measured at ~50x the entire read cost on a
      // 4k-file table (20.4 s hot-cache vs 0.43 s with the FS hoisted);
      // THIS, not disk and not bucket counts, was the r17 "file-count
      // bound" on fine-grain warm. One warm() call's files share a
      // location, hence a filesystem.
      var fs: org.apache.hadoop.fs.FileSystem = null
      val buf = new Array[Byte](1 << 20)
      var total = 0L
      us.foreach { u =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(u))
        if (fs == null) fs = p.getFileSystem(c)
        val in = fs.open(p)
        try {
          var r = in.read(buf)
          while (r >= 0) { total += r; r = in.read(buf) }
        } finally in.close()
      }
      Iterator.single(total)
    }.fold(0L)(_ + _)
  }

  /** Join two same-bucketed tables on their bucket key — shuffle-free by
    * construction (verified in BucketingSpec's plan assertion). */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
