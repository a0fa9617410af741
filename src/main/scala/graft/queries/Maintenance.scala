package graft.queries

import org.apache.spark.sql.SparkSession

import graft.operators.Bucketing

/** The stats → action DECISION FUNCTION for the persisted serving
  * indexes (r15 verdict item 2): `DedupIndex.stats` / `VectorIndex.stats`
  * report appended fraction, cell/band skew, tombstone fraction, wave
  * counts, and file pressure — each with a measured or documented
  * threshold — but until r16 an operator had to re-read three scaladocs
  * and a BENCH_NOTES table to decide compact-vs-rebuild-vs-nothing.
  * [[Maintenance.forText]] / [[Maintenance.forVectors]] compose those
  * rules into ONE typed recommendation.
  *
  * The rules and where each threshold comes from:
  *
  *   - REBUILD (vector index only; the text index is model-free — its
  *     maintenance story is complete with compact): appended mass
  *     fraction ≥ [[Maintenance.RebuildAppendedFraction]] AND the index
  *     serves PQ ANN. MEASURED (BENCH_NOTES "Frozen-quantizer drift
  *     calibration", r15): frozen-model
  *     PQ recall matches a retrained counterfactual up to ~0.25 appended
  *     fraction, then falls away (−27% of attainable recall at 0.35,
  *     −76% at 2.0). The DEDUP-VERDICT path measured drift-IMMUNE to
  *     2.0× appended mass — a dedup-only index (`servesAnn = false`)
  *     never rebuilds on this rule; its drift signal is hot-cell SKEW
  *     (performance, not recall), surfaced as a warning below.
  *
  *   - COMPACT, any of:
  *       · tombstone fraction ≥ [[Maintenance.CompactTombstoneFraction]]
  *         — every probe pays the broadcast anti-join against the
  *         takedown set, and removed rows still occupy scan bytes;
  *       · abandoned (crashed-append) waves on disk — invisible to
  *         probes but physical garbage only compact reclaims;
  *       · committed-wave count ≥ [[Maintenance.CompactWaveCount]] —
  *         the wave-set hygiene rule: every probe resolves the marker
  *         listing and plans `wave IN (set)`, both O(waves) at PLANNING
  *         time (the data cost stays pruned — spec-pinned at 200 waves);
  *         compact folds the history back to {0};
  *       · grain outgrown: [[Bucketing.autoGrain]] of the LIVE rows is
  *         ≥ [[Maintenance.GrainRatio]]× the current grain (or the
  *         current grain is that much too fine) — the r15 1000×-decade
  *         finding; compact with `pvals`/`pcells = Auto*` re-grains
  *         during the rewrite it already does.
  *
  *   - WARNINGS (no action forced): band/cell skew ≥
  *     [[Maintenance.SkewWarn]] — a hot (b,h) band bucket (boilerplate
  *     mass) or hot k-means cell (drifted ingest distribution, measured
  *     skew 1.1 → 5.8 across the r15 drift waves) multiplies probe
  *     candidate volume for batches landing in it. The text fix is
  *     upstream (df-capping / boilerplate pre-drop); the vector fix is a
  *     rebuild with more cells — forced only when recall is also at
  *     stake (the rebuild rule), since skew alone is a wall-clock
  *     concern.
  *
  * Priority: rebuild ⊃ compact (a rebuild rewrites everything compact
  * would), so one rebuild recommendation subsumes the compact reasons.
  * Cost: one [[DedupIndex.stats]]/[[VectorIndex.stats]] pass — a
  * maintenance-cadence operation, not per-probe.
  */
object Maintenance {

  /** Appended-mass fraction past which a PQ-ANN-serving vector index
    * should retrain (the r15 measured recall knee at ~0.3). */
  val RebuildAppendedFraction = 0.3

  /** Tombstone fraction past which physical deletion pays for itself. */
  val CompactTombstoneFraction = 0.1

  /** Committed-wave count past which marker listing + `wave IN (set)`
    * planning overhead warrants folding the history (each append since
    * the last compact adds one wave; probes stay CORRECT and pruned far
    * past this — it is planning-time hygiene, not a correctness cliff). */
  val CompactWaveCount = 64

  /** Grain-mismatch ratio (two power-of-two steps) before a re-graining
    * compact is recommended — wide enough that ordinary growth between
    * maintenance windows never flaps the recommendation. */
  val GrainRatio = 4

  /** Band/cell occupancy skew (max/mean) that earns a hot-spot warning. */
  val SkewWarn = 10.0

  /** What to do, why, and with what grain. `action` ∈ {"rebuild",
    * "compact", "reclaim", "none"}; `reasons` are the fired rules (empty
    * for "none"); `warnings` are advisory hot-spot signals;
    * `currentGrain` / `recommendedGrain` are pvals/pcells now vs
    * [[Bucketing.autoGrain]] of the live rows (pass `pvals = AutoPvals` /
    * `pcells = AutoPcells` to the recommended compact and it re-grains to
    * exactly that). "reclaim" fires when crash GARBAGE (abandoned waves /
    * stale staging roots) is the ONLY problem: at 100 TB a compact
    * rewrites every live byte, while [[Bucketing.reclaimGarbage]] only
    * deletes dead ones — recommending the rewrite for a deletion-sized
    * problem would be the wrong lever by orders of magnitude. */
  final case class Recommendation(action: String, reasons: Seq[String],
      warnings: Seq[String], currentGrain: Int, recommendedGrain: Int)

  private def grainReason(current: Int, recommended: Int): Option[String] =
    if (recommended >= current.toLong * GrainRatio)
      Some(s"grain outgrown: live rows want $recommended partitions, " +
        s"index has $current — probe scan fraction has grown " +
        s"${recommended / current}x past the design point")
    else if (current > Bucketing.MinGrain &&
        current >= recommended.toLong * GrainRatio)
      Some(s"grain too fine: live rows want $recommended partitions, " +
        s"index has $current — directory/file pressure with no probe win")
    else None

  /** Compose the compact-side rules shared by both indexes. Only STALE
    * staging roots (older than `spark.graft.writerLiveTtlMs`) count as a
    * compact reason — a young root is most likely a HEALTHY in-flight
    * append, and letting it alone trigger an EXECUTED compact
    * would run the compact concurrently with that live writer, the exact
    * quiesce violation [[graft.operators.Bucketing.requireQuiesced]]
    * exists to stop (r16 advisor); fresh roots surface as a warning
    * instead. */
  private def compactReasons(tombstones: Long, liveRows: Long,
      abandonedWaves: Int, waveCount: Int, staleStagingDirs: Int,
      grain: Option[String]): Seq[String] =
    Seq(
      Option.when(liveRows > 0 &&
          tombstones.toDouble / (liveRows + tombstones) >=
            CompactTombstoneFraction)(
        s"tombstone fraction ${tombstones}/${liveRows + tombstones} >= " +
          s"$CompactTombstoneFraction — probes pay the anti-join and " +
          "removed rows still occupy scan bytes"),
      Option.when(abandonedWaves > 0)(
        s"$abandonedWaves abandoned (crashed-append) wave(s) on disk — " +
          "invisible to probes, reclaimed only by compact"),
      Option.when(staleStagingDirs > 0)(
        s"$staleStagingDirs STALE staging root(s) (.stage_*, older than " +
          "the live-writer TTL) on disk — crashed appends or removes; " +
          "dead bytes, reclaimed by compact"),
      Option.when(waveCount >= CompactWaveCount)(
        s"$waveCount committed waves >= $CompactWaveCount — marker " +
          "listing and wave IN (set) planning overhead; compact folds " +
          "the history to {0}"),
      grain).flatten

  /** True when every fired reason is crash GARBAGE — deletable in place
    * by [[graft.operators.Bucketing.reclaimGarbage]]; a compact's full
    * rewrite buys nothing extra for these. */
  private def garbageOnly(reasons: Seq[String]): Boolean =
    reasons.nonEmpty && reasons.forall(r =>
      r.contains("abandoned (crashed-append)") ||
        r.contains("STALE staging") || r.contains("stray key"))

  /** Manifest-audit findings folded into the decision (waves whose
    * marker predates manifest bodies carry no inventory and audit to
    * nothing): STRAY keys are reclaimable garbage (a reason — reclaim
    * deletes exactly them); MISSING manifested keys are data loss and
    * deliberately NOT an action — an automated rewrite would bake the
    * loss in; they surface as the loudest warning instead. */
  private def auditFindings(spark: SparkSession,
      dir: String): (Seq[String], Seq[String]) = {
    val audits = Bucketing.verifyWaveManifests(spark, dir)
    val strays = audits.map(_.strays.size).sum
    (Seq(Option.when(strays > 0)(
      s"$strays manifest-unlisted stray key(s) inside committed waves — " +
        "reclaimable garbage (a torn upload or an interrupted publish); " +
        "reclaim deletes exactly them")).flatten,
      audits.filter(_.missing.nonEmpty).map(a =>
        s"INTEGRITY: wave ${a.wave} is MISSING ${a.missing.size} " +
          "manifested key(s) — data loss or partial replication; " +
          "investigate before any rewrite (a compact would bake the " +
          "loss in). Recovery lever: quarantineWave(" + a.wave + ") " +
          "retires the damaged wave from the committed set (marker-only, " +
          "files retained for forensics), then re-ingest its content " +
          s"from source. Missing: ${a.missing.take(3).mkString(", ")}"))
  }

  /** Quarantined-history advisory: damaged waves an operator retired from
    * the committed set ([[graft.operators.Bucketing.quarantineWave]]) —
    * not serving, not reclaimable, purged physically by the next
    * compact. */
  private def quarantineWarning(quarantined: Int): Option[String] =
    Option.when(quarantined > 0)(
      s"$quarantined quarantined wave(s) retained for forensics — not " +
        "serving; re-ingest their content from source if not already " +
        "done, then compact to purge the remnants physically")

  /** The stranded-prior advisory shared by both indexes: past in-place
    * compacts/rebuilds left full dead copies of the index that nobody
    * deletes — at 100 TB each one DOUBLES storage. Advisory (not an
    * action): retirement deletes data a replica might still read, so it
    * stays an explicit, guarded operator call
    * ([[DedupIndex.retirePrior]] / [[VectorIndex.retirePrior]]). */
  private def priorDirsWarning(priorDirs: Seq[String]): Option[String] =
    Option.when(priorDirs.nonEmpty)(
      s"${priorDirs.size} stranded prior location(s) from past " +
        "compact/rebuild rounds — full dead index copies; run " +
        "retirePrior() (guarded: refuses under live leases/readers) to " +
        s"reclaim: ${priorDirs.take(2).mkString(", ")}" +
        (if (priorDirs.size > 2) ", …" else ""))

  /** The in-flight-writer advisory shared by both indexes. */
  private def liveStagingWarning(stagingDirs: Int,
      staleStagingDirs: Int): Option[String] =
    Option.when(stagingDirs > staleStagingDirs)(
      s"${stagingDirs - staleStagingDirs} staging root(s) younger than " +
        "the live-writer TTL — an append is probably in " +
        "flight; maintenance actions will refuse until it commits or " +
        "goes stale (requireQuiesced)")

  /** Maintenance recommendation for an attached [[DedupIndex]]. The text
    * index never needs a model rebuild, so the action space is
    * compact-or-nothing (compact with `pvals = AutoPvals` when the grain
    * reason fires). */
  def forText(spark: SparkSession,
      prefix: String = "dedup_idx"): Recommendation = {
    val st = DedupIndex.stats(spark, prefix)
    val current = DedupIndex.pvalsOf(spark, prefix)
    val recommended = Bucketing.autoGrain(st.liveDocs)
    val (strayReasons, integrity) =
      auditFindings(spark, DedupIndex.liveDir(spark, prefix))
    val reasons = compactReasons(st.tombstones, st.liveDocs,
      st.abandonedWaves, st.committedWaveCount, st.staleStagingDirs,
      grainReason(current, recommended)) ++ strayReasons
    val warnings = integrity ++ Seq(
      Option.when(st.bandSkew >= SkewWarn)(
        f"band-bucket skew ${st.bandSkew}%.1f (max ${st.maxBandBucket}) — " +
          "boilerplate mass multiplies probe candidates; df-cap or " +
          "pre-drop the template upstream"),
      liveStagingWarning(st.stagingDirs, st.staleStagingDirs),
      priorDirsWarning(st.priorDirs),
      quarantineWarning(st.quarantinedWaveCount)).flatten
    Recommendation(
      if (reasons.isEmpty) "none"
      else if (garbageOnly(reasons)) "reclaim"
      else "compact",
      reasons, warnings, current, recommended)
  }

  /** Maintenance recommendation for an attached [[VectorIndex]].
    * `servesAnn = false` declares a dedup-verdict-only index, which the
    * r15 calibration measured drift-immune — the appended-fraction
    * rebuild rule is then skipped and drift surfaces only through the
    * skew warning. */
  def forVectors(spark: SparkSession, prefix: String = "vec_idx",
      servesAnn: Boolean = true): Recommendation = {
    val st = VectorIndex.stats(spark, prefix)
    val current = VectorIndex.meta(spark, prefix).pcells
    val recommended = Bucketing.autoGrain(st.liveRows)
    val appendedFraction =
      if (st.corpusRowsAtBuild == 0) 0.0
      else st.appendedRows.toDouble / st.corpusRowsAtBuild
    val rebuild = Option.when(servesAnn &&
        appendedFraction >= RebuildAppendedFraction)(
      f"appended fraction $appendedFraction%.2f >= " +
        f"$RebuildAppendedFraction%.1f — frozen-quantizer PQ recall is " +
        "past the measured knee (r15 drift calibration); rebuild " +
        "retrains from the index's own vectors")
    val (strayReasons, integrity) =
      auditFindings(spark, VectorIndex.liveDir(spark, prefix))
    val compact = compactReasons(st.tombstones, st.liveRows,
      st.abandonedWaves, st.committedWaveCount, st.staleStagingDirs,
      grainReason(current, recommended)) ++ strayReasons
    val warnings = integrity ++ Seq(
      Option.when(st.cellSkew >= SkewWarn)(
        f"cell skew ${st.cellSkew}%.1f (max ${st.maxCellRows} rows) — a " +
          "hot cell grows probe candidate volume linearly; rebuild with " +
          "more cells if the probe wall matters"),
      Option.when(!servesAnn && appendedFraction >= RebuildAppendedFraction)(
        f"appended fraction $appendedFraction%.2f — verdict path is " +
          "drift-immune (measured), but a rebuild would rebalance cells"),
      liveStagingWarning(st.stagingDirs, st.staleStagingDirs),
      priorDirsWarning(st.priorDirs),
      quarantineWarning(st.quarantinedWaveCount)
    ).flatten
    val (action, reasons) = rebuild match {
      case Some(r) => ("rebuild", r +: compact)
      case None if compact.nonEmpty =>
        (if (garbageOnly(compact)) "reclaim" else "compact", compact)
      case None => ("none", Nil)
    }
    Recommendation(action, reasons, warnings, current, recommended)
  }

  /** EXECUTE [[forText]]'s recommendation: "compact" runs
    * [[DedupIndex.compact]] into `outDir` (catalog flipped in place under
    * `prefix`), re-graining to the recommended grain when the grain rule
    * fired (inherit otherwise); "none" touches nothing (`outDir` unused —
    * pass the next maintenance location unconditionally and check
    * `_2` to learn whether it was consumed). One call = one maintenance
    * round: stats pass → decision → action. The quiesce contract is
    * ENFORCED by the action (compact refuses on a possibly-live lease —
    * [[graft.operators.Bucketing.requireQuiesced]]); `force = true`
    * overrides when the writers are known dead/drained. Returns
    * (recommendation, acted). */
  def runText(spark: SparkSession, prefix: String, outDir: String,
      force: Boolean = false): (Recommendation, Boolean) =
    runText(spark, prefix, outDir, force, forText(spark, prefix))

  /** [[runText]] acting on a PRECOMPUTED recommendation — the REST
    * surface's form: the endpoint shows/validates the same rec it acts
    * on, instead of paying a second full stats pass (incl. the manifest
    * audit) whose recommendation could have flipped between the two
    * (r17 advisor: a flip to compact with an empty outDir failed inside
    * Spark path parsing rather than as the intended 400). `outDir` is
    * validated HERE, against the rec that will actually act. */
  def runText(spark: SparkSession, prefix: String, outDir: String,
      force: Boolean, rec: Recommendation): (Recommendation, Boolean) = {
    requireOutDir(rec, outDir)
    rec.action match {
      case "compact" =>
        DedupIndex.compact(spark, outDir, prefix,
          pvals = regrainArg(rec, DedupIndex.AutoPvals), force = force)
      case "reclaim" =>
        // in-place garbage deletion (lease/TTL-aware by construction) —
        // no rewrite, no catalog flip, outDir unused
        Bucketing.reclaimGarbage(spark, DedupIndex.liveDir(spark, prefix),
          DedupIndex.layout(prefix).subs)
      case _ => ()
    }
    (rec, rec.action != "none")
  }

  /** EXECUTE [[forVectors]]'s recommendation ([[runText]] twin):
    * "rebuild" retrains from the index's own vectors into `outDir`
    * (re-sized cells, tombstones dropped — [[VectorIndex.rebuild]]);
    * "compact" rewrites into `outDir`, re-graining when the grain rule
    * fired. Writer quiesce enforced as in [[runText]]. Returns
    * (recommendation, acted). */
  def runVectors(spark: SparkSession, prefix: String, outDir: String,
      servesAnn: Boolean = true,
      force: Boolean = false): (Recommendation, Boolean) =
    runVectors(spark, prefix, outDir, force,
      forVectors(spark, prefix, servesAnn))

  /** [[runVectors]] acting on a PRECOMPUTED recommendation (the
    * [[runText]] overload's rationale; `servesAnn` already shaped the
    * rec, so it is not re-consulted here). */
  def runVectors(spark: SparkSession, prefix: String, outDir: String,
      force: Boolean, rec: Recommendation): (Recommendation, Boolean) = {
    requireOutDir(rec, outDir)
    rec.action match {
      case "rebuild" =>
        VectorIndex.rebuild(spark, outDir, prefix,
          pcells = regrainArg(rec, VectorIndex.AutoPcells), force = force)
      case "compact" =>
        VectorIndex.compact(spark, outDir, prefix,
          pcells = regrainArg(rec, VectorIndex.AutoPcells),
          force = force)
      case "reclaim" =>
        Bucketing.reclaimGarbage(spark, VectorIndex.liveDir(spark, prefix),
          VectorIndex.layout(prefix).subs)
      case _ => ()
    }
    (rec, rec.action != "none")
  }

  // rewriting actions need a fresh location; reclaim acts in place and
  // "none" touches nothing (outDir unused for both)
  private def requireOutDir(rec: Recommendation, outDir: String): Unit =
    require(outDir.nonEmpty || rec.action == "none" ||
        rec.action == "reclaim",
      s"action '${rec.action}' rewrites into a fresh location — " +
        "out_dir required")

  // Auto grain only when the grain rule fired — otherwise 0, the inherit
  // value of both compact and rebuild, so a maintenance run never
  // silently re-grains inside the flap guard band
  private def regrainArg(rec: Recommendation, auto: Int): Int =
    if (rec.reasons.exists(_.startsWith("grain "))) auto else 0
}
