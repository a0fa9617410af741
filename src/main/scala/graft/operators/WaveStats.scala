package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-wave CACHED index statistics — the r18 verdict's item 2.
  *
  * `stats()` on both serving indexes paid a data-proportional occupancy
  * aggregate per call (a `groupBy(bucket).count_distinct(id)` over the
  * full band/cell table — 14–30 s at the 5M-doc grain-512 decade once
  * the listing tax was gone). Waves are IMMUTABLE once committed, so a
  * wave's contribution to those numbers never changes: compute it once
  * (lazily, on the first `stats()` that sees the wave — the scan is
  * partition-pruned to `wave=W`, so the cost is wave-proportional, not
  * index-proportional), persist it beside the wave markers under
  * `<dir>/_wavestats/`, and FOLD the sidecars at read time.
  *
  * The sidecar per wave:
  *   - `nIds` / `idFp` — distinct id count and an order-insensitive
  *     fingerprint (XOR of xxhash64 over the distinct ids). The
  *     fingerprint detects REPLAY TWINS: an at-least-once re-append
  *     writes the same docs' rows again under a fresh wave number
  *     (verdict-neutral by the probe cores' batch-id anti-join), and the
  *     fold must count those docs once — exactly as the full aggregate's
  *     cross-wave DISTINCT does. Two waves with equal (nIds, idFp) are
  *     the same id set with md5-class confidence.
  *   - `nAux` — the auxiliary disjoint-by-protocol count (distinct
  *     content hashes for the text index: the append path's novel-ch
  *     anti-join guarantees a ch lands in at most one committed wave, so
  *     the fold is a plain sum — NOT twin-deduped, because a replayed
  *     append's hash rows were suppressed by that same anti-join and its
  *     nAux is already 0).
  *   - an occupancy table (`key columns + n`, n = distinct ids per
  *     bucket within the wave) persisted as parquet, plus its own
  *     (count, max, sum) so a single-wave index folds from metadata
  *     alone — zero data reads.
  *
  * Fold algebra (exact under the append protocol's invariants):
  * non-twin waves carry DISJOINT id sets (admission appends novel
  * content only; concurrent writers must append disjoint content — the
  * documented contract), so per-bucket occupancies ADD across waves.
  * The fold takes the largest wave's occupancy as the BASE (wave 0 —
  * the build/compact output — in any normal history), merges the small
  * appended waves' rows into a driver-side delta, and resolves the
  * overlap with ONE shuffle-free columnar scan of the base occupancy
  * joined against the broadcast delta. Per-call cost: metadata when the
  * committed set has one wave; a narrow 3-column scan plus a
  * batch-proportional delta otherwise — never the full band/cell
  * distinct aggregate. A delta larger than
  * `spark.graft.stats.deltaCap` (a pathological append history) falls
  * back to a sidecar-union fold — still cheaper than the raw aggregate
  * — and the standing advice is the same as for file-set pressure:
  * compact.
  *
  * Exactness residual (documented, self-healing): a replay twin of a
  * wave that an online compact folded into the new wave 0 is carried as
  * its own wave with no ≤-H twin left to match — its ids double-count
  * until the next compact's by-id dedup collapses the physical
  * duplicates (which are ALSO inflating probe candidates — the stats
  * drift is the least consequence of that state, and the window is the
  * compact-races-replay interleaving only).
  *
  * Crash safety: sidecars are DERIVED data — the meta marker is written
  * via temp + single-object rename (atomic on both substrates) after
  * the occupancy parquet, so a torn write leaves a missing marker and
  * the next `stats()` recomputes. Losing occupancy dirs from a lost
  * backfill race are swept once they age past the writer TTL.
  * [[Bucketing.clearWaveMarkers]] deletes the whole `_wavestats/` dir —
  * a rebuild/compact restarts the stats history with its wave numbers.
  */
object WaveStats {

  /** One wave's persisted stats contribution. `occRel` is the occupancy
    * parquet directory, relative to the `_wavestats` dir. */
  final case class PerWave(wave: Int, nIds: Long, idFp: Long, nAux: Long,
      occRel: String, occCnt: Long, occMax: Long, occSum: Long)

  /** The folded read-side numbers. */
  final case class Folded(nIds: Long, nAux: Long, occCnt: Long,
      occMax: Long, occSum: Long, twinWaves: Int) {
    def occMean: Double = if (occCnt == 0) 0.0 else occSum.toDouble / occCnt
  }

  /** Collected-delta row cap before the fold falls back to a
    * sidecar-union aggregate (`spark.graft.stats.deltaCap`). */
  def deltaCap(spark: SparkSession): Long =
    spark.conf.get("spark.graft.stats.deltaCap", "2000000").toLong

  def statsDir(dir: String): String = s"$dir/_wavestats"

  private def markerPath(dir: String, wave: Int) =
    new org.apache.hadoop.fs.Path(s"${statsDir(dir)}/w$wave")

  /** Read wave `wave`'s sidecar, or None when absent/torn. */
  def read(spark: SparkSession, dir: String, wave: Int): Option[PerWave] = {
    val p = markerPath(dir, wave)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      if (len == 0) None
      else {
        val buf = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(buf) finally in.close()
        val lines = new String(buf,
          java.nio.charset.StandardCharsets.UTF_8).split("\n")
        if (!lines.headOption.exists(_.startsWith("graft-wave-stats"))) None
        else {
          val kv = lines.tail.filter(_.contains("="))
            .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
            .toMap
          try Some(PerWave(kv("wave").toInt, kv("nids").toLong,
            java.lang.Long.parseUnsignedLong(kv("idfp"), 16),
            kv("naux").toLong, kv("occ"), kv("occcnt").toLong,
            kv("occmax").toLong, kv("occsum").toLong))
          catch { case _: NoSuchElementException |
                       _: NumberFormatException => None }
        }
      }
    }
  }

  /** Sidecar for `wave` — read it, or compute-and-persist from the
    * callbacks (each already filtered to the wave; the caller's table
    * reads prune on the `wave` partition column, so a missing sidecar
    * costs one wave-proportional pass, once).
    *
    *   - `ids`: one column of the wave's ids (duplicates tolerated)
    *   - `aux`: one column of the wave's protocol-disjoint keys (None
    *     for indexes without one)
    *   - `occ`: key columns + `n` (distinct ids per bucket, this wave)
    */
  def ensure(spark: SparkSession, dir: String, wave: Int,
      ids: => DataFrame, aux: => Option[DataFrame],
      occ: => DataFrame): PerWave =
    read(spark, dir, wave).getOrElse {
      val sd = new org.apache.hadoop.fs.Path(statsDir(dir))
      val fs = sd.getFileSystem(spark.sessionState.newHadoopConf())
      val idAgg = ids.distinct()
        .agg(count(lit(1)), expr(s"bit_xor(xxhash64(${ids.columns.head}))"))
        .head()
      val nIds = idAgg.getLong(0)
      val idFp = if (idAgg.isNullAt(1)) 0L else idAgg.getLong(1)
      val nAux = aux.map(_.distinct().count()).getOrElse(0L)
      val token = java.util.UUID.randomUUID().toString.take(8)
      val occRel = s"occ_w${wave}_$token"
      val o = occ.persist()
      try {
        o.write.mode(SaveMode.Overwrite)
          .option("compression", "snappy")
          .parquet(s"${statsDir(dir)}/$occRel")
        val oa = o.agg(count(lit(1)), max("n"), sum("n")).head()
        val (cnt, mx, sm) = (oa.getLong(0),
          if (oa.isNullAt(1)) 0L else oa.getLong(1),
          if (oa.isNullAt(2)) 0L else oa.getLong(2))
        val ws = PerWave(wave, nIds, idFp, nAux, occRel, cnt, mx, sm)
        val body = (Seq("graft-wave-stats v1", s"wave=$wave",
          s"nids=$nIds", s"idfp=${java.lang.Long.toHexString(idFp)}",
          s"naux=$nAux", s"occ=$occRel", s"occcnt=$cnt", s"occmax=$mx",
          s"occsum=$sm").mkString("\n"))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val tmp = new org.apache.hadoop.fs.Path(
          s"${statsDir(dir)}/.tmp_w${wave}_$token")
        val out = fs.create(tmp, true)
        try out.write(body) finally out.close()
        val won =
          try fs.rename(tmp, markerPath(dir, wave))
          catch { case _: java.io.IOException => false }
        if (!won) {
          // lost a concurrent backfill race (or the FS refuses
          // rename-over-existing): the winner's sidecar carries the same
          // deterministic numbers — adopt it, drop this attempt's files
          fs.delete(tmp, false)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"${statsDir(dir)}/$occRel"), true)
          read(spark, dir, wave).getOrElse(ws)
        } else {
          sweepOrphans(spark, dir)
          ws
        }
      } finally { o.unpersist(); () }
    }

  /** Delete occupancy dirs / temp markers no live sidecar references,
    * once older than the writer TTL (a lost backfill race, or a crash
    * between the occ write and the marker rename). One flat listing of
    * `_wavestats/` — maintenance-cadence cost. */
  private def sweepOrphans(spark: SparkSession, dir: String): Unit = {
    val sd = new org.apache.hadoop.fs.Path(statsDir(dir))
    val fs = sd.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(sd)) return
    val ttl = Bucketing.writerLiveTtlMs(spark)
    val now = System.currentTimeMillis()
    val occRe = "occ_w(\\d+)_.*".r
    val children = fs.listStatus(sd)
    val referenced = children.map(_.getPath.getName)
      .filter(_.matches("w\\d+"))
      .flatMap(n => read(spark, dir, n.stripPrefix("w").toInt))
      .map(_.occRel).toSet
    children.foreach { st =>
      val n = st.getPath.getName
      val orphan = n match {
        case occRe(_*) => !referenced(n)
        case _ => n.startsWith(".tmp_")
      }
      if (orphan && now - st.getModificationTime >= ttl)
        fs.delete(st.getPath, true)
    }
  }

  /** Fold the committed waves' sidecars ([[ensure]]d by the caller)
    * into the index-level numbers. `keyCols` are the occupancy bucket
    * key columns (`b, h` for the text index, `cell` for vectors). */
  def fold(spark: SparkSession, dir: String, waves: Seq[PerWave],
      keyCols: Seq[String]): Folded = {
    // replay-twin dedup for the id-keyed quantities: first wave of each
    // (nIds, idFp) group counts, later twins are the at-least-once
    // re-appends of the same docs. nAux sums over ALL waves (disjoint by
    // the append anti-join; a replayed wave's is 0 already).
    val sorted = waves.sortBy(_.wave)
    val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    val kept = sorted.filter { w =>
      w.nIds == 0 || seen.add((w.nIds, w.idFp))
    }
    val twins = sorted.size - kept.size
    val nIds = kept.map(_.nIds).sum
    val nAux = sorted.map(_.nAux).sum
    val occWaves = kept.filter(_.occCnt > 0)
    if (occWaves.isEmpty)
      return Folded(nIds, nAux, 0L, 0L, 0L, twins)
    val base = occWaves.maxBy(_.occCnt)
    val delta = occWaves.filterNot(_ eq base)
    if (delta.isEmpty)
      return Folded(nIds, nAux, base.occCnt, base.occMax, base.occSum,
        twins)
    val deltaPaths = delta.map(w => s"${statsDir(dir)}/${w.occRel}")
    val deltaAgg = spark.read.parquet(deltaPaths: _*)
      .groupBy(keyCols.map(col): _*).agg(sum("n").as("dn"))
    val cap = deltaCap(spark)
    // cap + 1 rows decide "over cap" without a full count of a
    // pathological delta
    val collected = deltaAgg.limit((math.min(cap, Int.MaxValue - 1L)
      .toInt) + 1).collect()
    if (collected.length > cap) {
      // append history too large for the driver-side merge: one
      // sidecar-union shuffle (still narrow (key, n) rows — never the
      // raw band/cell table) and the same standing advice: compact
      val all = spark.read
        .parquet((s"${statsDir(dir)}/${base.occRel}" +: deltaPaths): _*)
        .groupBy(keyCols.map(col): _*).agg(sum("n").as("mn"))
        .agg(count(lit(1)), max("mn"), sum("mn")).head()
      return Folded(nIds, nAux, all.getLong(0),
        if (all.isNullAt(1)) 0L else all.getLong(1),
        if (all.isNullAt(2)) 0L else all.getLong(2), twins)
    }
    val deltaMap = collected.map { r =>
      keyCols.indices.map(r.get).toIndexedSeq -> r.getLong(keyCols.size)
    }.toMap
    // ONE shuffle-free pass over the base occupancy: broadcast the delta
    // keys in, surface the (≤ |delta|) overlapping buckets
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toIndexedSeq, 1),
      deltaAgg.schema)
    val matched = spark.read.parquet(s"${statsDir(dir)}/${base.occRel}")
      .join(broadcast(local), keyCols)
      .select((keyCols.map(col) :+ col("n")): _*)
      .collect()
    val matchedKeys = matched
      .map(r => keyCols.indices.map(r.get).toIndexedSeq).toSet
    val mergedCnt = base.occCnt + deltaMap.size - matched.length
    val mergedSum = base.occSum + deltaMap.valuesIterator.sum
    val overlapMax = matched.foldLeft(0L) { (m, r) =>
      val k = keyCols.indices.map(r.get).toIndexedSeq
      math.max(m, r.getLong(keyCols.size) + deltaMap(k))
    }
    val deltaOnlyMax = deltaMap.iterator
      .collect { case (k, n) if !matchedKeys(k) => n }
      .foldLeft(0L)(math.max)
    Folded(nIds, nAux, mergedCnt,
      math.max(base.occMax, math.max(overlapMax, deltaOnlyMax)),
      mergedSum, twins)
  }
}
