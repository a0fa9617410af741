package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** End-to-end pretraining-corpus preparation: the individual operators
  * ([[TextDedup]], [[TextPipeline]], [[TextOps]]) composed into the
  * standard pipeline a training-data team actually runs —
  *
  *   quality filter → (optional) DSIR importance selection →
  *   PII scrub → exact dedup → near-dup dedup →
  *   (optional) semantic (embedding) dedup →
  *   (optional) graded benchmark decontamination →
  *   (optional) vocabulary normalization → sequence packing
  *
  * — as one composed DataFrame DAG: the stateless stages stay lazy and
  * Catalyst sees them together (filters merge, column pruning reaches
  * the scan), and the shared dedup caches ([[TextDedup]]) are reused
  * across stages. ONE exception to laziness: the near-dup label
  * fixpoint is driver-side iteration, so `prepare` RUNS the pipeline up
  * to the near-dup stage at call time — construct it when you are ready
  * to pay for the run, not speculatively. Every stage keeps only
  * `doc_id`-keyed survivors via LEFT SEMI joins — survivor sets travel
  * as narrow id frames, never as re-materialized text.
  *
  * Scale: the stages are exactly the oracle-checked operator shapes
  * (zero-shuffle projections, band equi-joins, one stratum-key window),
  * so the 10× evidence in BENCH_NOTES applies to the composition; the
  * only driver-side iteration is the near-dup label fixpoint, bounded by
  * the dup-graph diameter (see `TextDedup.propagateLabels`).
  */
object CorpusPrep {

  /** Pipeline knobs; defaults mirror the oracle-checked bindings.
    * `domainBlocklist`, when set, drops every document containing a URL
    * on a listed domain (q59 semantics) before the quality rules run.
    * `contaminationMaxFrac` grades the decontamination stage (q61
    * semantics): a doc is dropped when the share of its distinct 3-grams
    * found in the eval set EXCEEDS the threshold — 0.0 is the strict
    * any-overlap policy (identical survivors to the q49 binary flag);
    * raising it tolerates boilerplate-level overlap. `vocabKeepK`, when
    * set, rewrites the surviving text over the top-k corpus vocabulary
    * (q62 semantics, fitted on the post-dedup survivors) before packing.
    * `nearDupDfCap`, when set, excludes shingles appearing in more than
    * that many documents from near-dup candidate GENERATION (q41
    * semantics) — the guard that keeps the candidate join linear when
    * boilerplate n-grams go corpus-hot. CAPPED BY DEFAULT since r11
    * (the deployment setting; `None` opts into the exact uncapped
    * q28/q40 pairing for bounded corpora).
    * `lengthGatePct`, when set to (num, den), additionally drops every
    * document whose text length falls below its STRATUM's num/den-th
    * percentile (q68 semantics, fitted per run on the post-rule
    * survivors) — e.g. (1, 10) trims the shortest ~10% of each stratum,
    * the data-relative companion of the absolute q50 rules.
    * `importanceTarget`, when set to a (doc_id, text) reference frame,
    * adds DSIR-style importance selection (q99 semantics) after the
    * rule gates: the model is fitted target-vs-pool on the post-quality
    * survivors and only target-leaning documents (mean fixed-point
    * likelihood ratio ≥ `importanceMinRatioFp`, default "more
    * target-like than raw-like") continue into dedup — the
    * distribution-steering stage run before the expensive pair joins
    * shrink the pool further. */
  /** Embedding-level (semantic) dedup stage knobs — the SemDeDup pass run
    * AFTER text-level dedup (exact + near-dup collapse lexical copies;
    * this collapses PARAPHRASES the text machinery cannot see).
    * `embeddings` is a (doc_id, embedding: array&lt;float&gt;) frame
    * covering some or all documents; docs without an embedding pass
    * through unjudged. The cell knobs are
    * [[VectorOps.semanticDedupCells]]'s — exposed here so a deployment
    * can size cells (`targetCellRows`), cap Lloyd training
    * (`trainSampleCap` for build-bound corpora), and opt into top-2
    * boundary probing (`probes = 2`, CellBoundarySpec) without leaving
    * the pipeline config (r13 verdict item 6). */
  case class SemanticStage(
      embeddings: DataFrame,
      minCos: Double = 0.9,
      nCells: Int = VectorOps.AutoCells,
      kmeansIters: Int = 2,
      targetCellRows: Int = VectorOps.DefaultCellRows,
      dims: Int = 64,
      trainSampleCap: Long = 0L,
      probes: Int = 1,
      probeMargin: Double = 2.0,
      indexPrefix: Option[String] = None)

  /** `textIndexPrefix` / `SemanticStage.indexPrefix` route the dedup
    * stages through ATTACHED PERSISTED serving indexes
    * ([[DedupIndex]] / [[VectorIndex]]) — the RESTARTABLE production prep
    * shape (r14 verdict item 4): after the in-pool stages collapse
    * duplicates WITHIN this run's documents, the survivors probe the
    * corpus index and any doc duplicating ALREADY-INGESTED content drops
    * too. The corpus side comes entirely from the persisted bucketed
    * tables (batch-proportional probes, zero corpus recomputation), so a
    * prep that restarts in a new JVM — or runs on a different cluster —
    * produces bit-identical survivors with nothing retrained and nothing
    * re-derived; the streaming loops ([[graft.streaming.EventStream]])
    * already work this way, this closes the batch path. The caller
    * attaches the indexes first ([[DedupIndex.attach]] /
    * [[VectorIndex.attach]]) and appends admitted survivors afterward if
    * the run feeds an ingest loop. */
  case class Config(
      nearDupThreshold: Double = 0.5,
      scrubPii: Boolean = true,
      packBudget: Long = TextPipeline.PackBudget,
      domainBlocklist: Option[DataFrame] = None,
      contaminationMaxFrac: Double = 0.0,
      vocabKeepK: Option[Int] = None,
      nearDupDfCap: Option[Long] = Some(100L),
      lengthGatePct: Option[(Int, Int)] = None,
      importanceTarget: Option[DataFrame] = None,
      importanceMinRatioFp: Long = 1000000L,
      semantic: Option[SemanticStage] = None,
      textIndexPrefix: Option[String] = None)

  /** `packed` — the training mix (one row per surviving doc with its bin
    * assignment); `survivors` — the cleaned (doc_id, text, strata) frame
    * feeding it; `stats` — one row per stage with the surviving doc
    * count; `release()` — drops the caches this run persisted (the
    * survivors, a driver-local input's copy, and the dedup derivations:
    * shingle sets, hashed rows, the pair frame), which are
    * keyed to internal plans a caller could not otherwise reach: call it
    * when done with the result in a long-lived session, or caches
    * accumulate across prepare() calls. */
  case class Prepared(packed: DataFrame, survivors: DataFrame,
      stats: DataFrame, release: () => Unit)

  /** Run the pipeline over any (id, text, strata) frame; `bench`, when
    * given, drops every document sharing a 3-gram with the eval set
    * (q49 semantics — eval-side shingles broadcast). */
  def prepare(df: DataFrame, id: String, text: String, strata: String,
      bench: Option[DataFrame] = None,
      cfg: Config = Config()): Prepared = {
    val dInPlan = df.select(col(id).cast("long").as("doc_id"),
      col(text).cast("string").as("text"), col(strata))
    // a driver-local input (createDataFrame over collected rows) is cached
    // once: left bare, the optimizer's ConvertToLocalRelation folds every
    // text projection over it into the plan, evaluating it interpretively
    // on the driver again for each of the many plans a run optimizes. Its
    // rows already sit in driver memory, so the copy is bounded by them.
    val localInput = dInPlan.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])
    val dIn =
      if (localInput) dInPlan.persist()
      else dInPlan

    // 0. domain blocklist (optional): source-level drop before anything
    // touches the text
    val d0 = cfg.domainBlocklist match {
      case Some(bl) =>
        val badIds = TextPipeline
          .urlFilterOf(dIn.select(col("doc_id"), col("text")), bl)
          .filter(col("keep") === 0L).select(col("doc_id"))
        dIn.join(badIds, Seq("doc_id"), "left_anti")
      case None => dIn
    }

    // 1. quality filter (zero-shuffle projection on flags)
    val keepIds = TextDedup.qualityFilterOf(d0.select(col("doc_id"), col("text")))
      .filter(col("keep") === 1L).select(col("doc_id"))
    val d1r = d0.join(keepIds, Seq("doc_id"), "left_semi")

    // 1b. percentile length gate (optional): drop each stratum's
    // shortest tail relative to the post-rule distribution (q68
    // fit/apply — the threshold table is one row per stratum, broadcast)
    val d1 = cfg.lengthGatePct match {
      case Some((num, den)) =>
        val m = d1r.select(col("doc_id"), col(strata),
          length(col("text")).cast("long").as("gate_len"))
        val th = Curation.fitPercentileThresholds(m, strata, "gate_len", num, den)
        val keep = Curation.applyPercentileGate(m, th, strata, "gate_len")
          .select(col("doc_id"))
        d1r.join(keep, Seq("doc_id"), "left_semi")
      case None => d1r
    }

    // 1c. DSIR importance selection (optional): steer the surviving pool
    // toward the target reference corpus (q99 semantics). Fitted
    // target-vs-THIS-pool so the ratio is calibrated against what the
    // pipeline actually holds; runs before dedup so the expensive pair
    // joins only see target-leaning documents. The model is |vocab|-rows
    // and the scoring join pre-aggregates to (doc, token, tf) — see
    // [[Curation.importanceScoreOf]]. The model is CACHED (the q99
    // binding's rationale): importanceScoreOf consumes it twice (totals
    // aggregate + scoring join) and the keep frame feeds every
    // downstream stage/stat — uncached, the two corpus-wide count
    // aggregates would re-execute per consumer. Released in release().
    val importanceModel = cfg.importanceTarget.map { t =>
      Curation.fitImportanceModel(t.select(col("doc_id"), col("text")),
        d1.select(col("doc_id"), col("text")), "text").persist()
    }
    val d1i = importanceModel match {
      case Some(m) =>
        val keep = Curation.importanceScoreOf(
          d1.select(col("doc_id"), col("text")), m, "text",
          cfg.importanceMinRatioFp)
          .filter(col("keep")).select(col("doc_id"))
        d1.join(keep, Seq("doc_id"), "left_semi")
      case None => d1
    }

    // 2. PII scrub — rewrites text in place (downstream hashes see the
    // scrubbed form, so a dup differing only in its PII still collapses)
    val d2 =
      if (cfg.scrubPii)
        d1i.select(col("doc_id"),
          TextPipeline.redactedTextCol(col("text")).as("text"), col(strata))
      else d1i

    // 3. exact dedup: lowest id per content hash survives
    val exactKeep = d2
      .select(md5(col("text")).as("ch"), col("doc_id"))
      .groupBy("ch").agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val d3 = d2.join(exactKeep, Seq("doc_id"), "left_semi")

    // 4. near-dup dedup: keep each connected component's min-id member
    // (cluster_id IS the min reachable id); unclustered docs pass through
    val d3Text = d3.select(col("doc_id"), col("text"))
    val pairs = cfg.nearDupDfCap match {
      case Some(cap) =>
        TextDedup.cappedJaccardPairsOf(d3Text, cfg.nearDupThreshold, cap)
      case None => TextDedup.jaccardPairsOf(d3Text, cfg.nearDupThreshold)
    }
    val labels = TextDedup.propagateLabels(
      pairs.select(col("id_a"), col("id_b")))
    val d4 = d3.join(labels, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("text"), col(strata))

    // 4b. semantic (embedding) dedup (optional): collapse paraphrase-
    // level duplicates the lexical stages cannot see — cell-sharded
    // SemDeDup over the SURVIVORS' embeddings (the expensive vector pass
    // only sees what the cheap text gates already admitted); each
    // cluster keeps its min-id member, docs without an embedding pass
    // through unjudged
    val d4s = cfg.semantic match {
      case Some(st) =>
        val vecs = st.embeddings
          .select(col("doc_id").cast("long").as("doc_id"),
            col("embedding"))
          .join(d4.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val verdicts = VectorOps.semanticDedupCells(vecs, "doc_id",
          "embedding", st.minCos, st.nCells, st.kmeansIters,
          st.targetCellRows, st.dims, st.trainSampleCap, st.probes,
          st.probeMargin)
        val dropped = verdicts.filter(col("is_kept") === 0L)
          .select(col("vec_id").as("doc_id"))
        d4.join(dropped, Seq("doc_id"), "left_anti")
      case None => d4
    }

    // 4c. corpus-index text dedup (optional): the survivors probe an
    // ATTACHED persisted DedupIndex and anything already ingested —
    // exact OR near-dup — drops; corpus side read entirely from the
    // bucketed index tables (batch-proportional, restart-identical)
    val d4t = cfg.textIndexPrefix match {
      case Some(pfx) =>
        val dup = DedupIndex.incrementalDedup(
          d4s.select(col("doc_id"), col("text")), "doc_id", "text", pfx,
          cfg.nearDupThreshold)
          .filter(col("verdict") =!= "new").select(col("doc_id"))
        d4s.join(dup, Seq("doc_id"), "left_anti")
      case None => d4s
    }

    // 4d. corpus-index semantic dedup (optional): survivors' embeddings
    // probe an ATTACHED persisted VectorIndex — paraphrase-level overlap
    // with already-ingested content drops; docs without an embedding
    // pass through unjudged (the in-pool semantic stage's contract)
    val d4v = cfg.semantic.flatMap(st => st.indexPrefix.map((st, _))) match {
      case Some((st, pfx)) =>
        val vecs = st.embeddings
          .select(col("doc_id").cast("long").as("doc_id"),
            col("embedding"))
          .join(d4t.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val dup = VectorIndex.incrementalDedup(vecs, "doc_id", "embedding",
          pfx, st.minCos, st.probes, st.probeMargin)
          .filter(col("verdict") === "near_dup")
          .select(col("vec_id").as("doc_id"))
        d4t.join(dup, Seq("doc_id"), "left_anti")
      case None => d4t
    }

    // 5. decontamination (optional, graded): docs whose eval-overlap
    // FRACTION exceeds the configured tolerance drop (q61 semantics;
    // maxFrac=0.0 reproduces the strict any-overlap policy exactly — by
    // comparing the exact overlap COUNT, not the 6-decimal-rounded
    // fraction, which would round a <5e-7 fraction to 0.0 and let a
    // doc with nonzero overlap survive where q49's binary flag drops it)
    val d5 = bench match {
      case Some(b) =>
        val scored = TextOps
          .contaminationScore(d4v.select(col("doc_id"), col("text")), b,
            "doc_id", "text", ordered = false)
        val contaminated = (
          if (cfg.contaminationMaxFrac == 0.0) scored.filter(col("n_overlap") > 0L)
          else scored.filter(col("overlap_frac") > cfg.contaminationMaxFrac))
          .select(col("doc_id"))
        d4v.join(contaminated, Seq("doc_id"), "left_anti")
      case None => d4v
    }

    // 5b. vocabulary normalization (optional): rewrite survivors over the
    // top-k vocabulary FITTED ON THE SURVIVORS themselves — OOV tokens
    // become <UNK>, so packing and every downstream consumer see the
    // normalized text (q62 semantics)
    val d6 = cfg.vocabKeepK match {
      case Some(k) =>
        val keep = TextPipeline.vocabKeepOf(
          d5.select(col("doc_id"), col("text")), k)
        TextPipeline.vocabRewriteOf(d5.select(col("doc_id"), col("text")), keep)
          .select(col("doc_id"), col("text"))
          .join(d5.select(col("doc_id"), col(strata)), Seq("doc_id"))
      case None => d5
    }

    // 6. pack survivors into token-budget bins per stratum. The survivors
    // are cached: packing, the stats and every caller probe read them, and
    // uncached each read re-derives (and re-plans) the whole pipeline.
    val survivors = d6.persist()
    val packed = TextPipeline.packOf(survivors, strata, cfg.packBudget)

    def stage(ord: Int, name: String, frame: DataFrame): DataFrame =
      frame.agg(count(lit(1)).as("n_docs"))
        .select(lit(ord.toLong).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"))
    val stats = (Seq(
      stage(-1, "input", dIn), stage(0, "url_filter", d0),
      stage(1, "quality", d1r)) ++
      cfg.lengthGatePct.map(_ => stage(2, "length_gate", d1)).toSeq ++
      cfg.importanceTarget.map(_ => stage(3, "importance_select", d1i)).toSeq ++
      Seq(stage(4, "pii_scrub", d2), stage(5, "exact_dedup", d3),
        stage(6, "near_dedup", d4)) ++
      cfg.semantic.map(_ => stage(7, "semantic_dedup", d4s)).toSeq ++
      cfg.textIndexPrefix.map(_ =>
        stage(8, "index_text_dedup", d4t)).toSeq ++
      cfg.semantic.flatMap(_.indexPrefix).map(_ =>
        stage(9, "index_semantic_dedup", d4v)).toSeq ++
      Seq(stage(10, "decontaminated", d5),
        stage(11, "vocab_normalized", d6)))
      .reduce(_.unionAll(_))

    val release = () => {
      // the capped path caches the pair-STAT frame + df-annotated base
      // (its scored output is uncached); the uncapped path caches the
      // scored pair frame itself
      cfg.nearDupDfCap match {
        case Some(cap) => TextDedup.unpersistCappedPairCachesOf(d3Text, cap)
        case None => pairs.unpersist(false)
      }
      TextDedup.unpersistDerivationsOf(d3Text)
      importanceModel.foreach(_.unpersist(false))
      survivors.unpersist(false)
      if (localInput) dIn.unpersist(false)
      ()
    }
    Prepared(packed, survivors, stats, release)
  }
}
