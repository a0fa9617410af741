package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-parameterized LIBRARY forms of the dedup/decontamination
  * operators, for use over ANY (id, text) DataFrame — the oracle-checked
  * q27/q28/q40/q41/q48/q49 queries are these same pipelines bound to the
  * driver's `documents` table (`TextOpsSpec` pins the equivalence, so the
  * generic surface inherits the DuckDB-verified semantics).
  *
  * All operators reuse the shared cached derivation chain
  * ([[TextDedup.shingleSetsOf]] → hashed rows → bands), so repeated calls
  * over the same input frame in one session share the expensive shingle
  * work via plan-identity cache matching. Scale notes live on the
  * underlying TextDedup pipelines.
  */
object TextOps {

  /** Normalize any frame to the internal (doc_id: long, text: string)
    * contract. `id` must be (castable to) an integral id. */
  private def norm(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).cast("long").as("doc_id"), col(text).cast("string").as("text"))

  /** Exact dedup: one row per distinct content, lowest id as keeper. */
  def exactDedup(df: DataFrame, id: String, text: String): DataFrame =
    norm(df, id, text)
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy("keeper_id")

  /** Word-3-gram Jaccard near-dup pairs at `threshold`. CAPPED by
    * default (`dfCap = Some(100)` — the q41 hot-shingle guard that keeps
    * the candidate join linear on corpora with boilerplate n-grams;
    * Jaccard stays exact, a pair is lost only when EVERY shared shingle
    * is hot). `dfCap = None` is the uncapped q28-oracle-exact baseline
    * for bounded corpora. */
  def nearDupPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.5, dfCap: Option[Long] = Some(100L)): DataFrame = {
    val d = norm(df, id, text)
    (dfCap match {
      case Some(cap) => TextDedup.cappedJaccardPairsOf(d, threshold, cap)
      case None => TextDedup.jaccardPairsOf(d, threshold)
    }).orderBy("id_a", "id_b")
  }

  /** [[nearDupPairs]] with an explicit (non-optional) df-cap — kept as a
    * named entry point for callers that want the cap spelled out; pure
    * delegation, same capped path as the [[nearDupPairs]] default. */
  def cappedNearDupPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.5, dfCap: Long = 100L): DataFrame =
    nearDupPairs(df, id, text, threshold, Some(dfCap))

  /** Containment (subset-duplicate) pairs: |A∩B| / min(|A|,|B|) over
    * word-3-gram shingle sets — catches a short document fully embedded
    * in a long one, which Jaccard under-scores (q69 semantics). Capped by
    * DEFAULT (the q41 hot-shingle guard; shares its candidate join with
    * [[cappedNearDupPairs]] in-session); `dfCap = None` opts into the
    * exact uncapped baseline for bounded corpora. */
  def containmentPairs(df: DataFrame, id: String, text: String,
      threshold: Double = 0.7, dfCap: Option[Long] = Some(100L)): DataFrame =
    TextDedup.containmentPairsOf(norm(df, id, text), threshold, dfCap)
      .orderBy("id_a", "id_b")

  /** Near-dup connected components: every document labeled with its
    * cluster (min reachable id) + member count (q40 semantics).
    *
    * NOTE: eagerly executes the candidate-pair computation at CALL time
    * (the component solver counts the dup-graph edges to pick its local
    * vs distributed regime — [[TextDedup.propagateLabels]]), so merely
    * building the returned frame runs Spark jobs; it is not a lazy plan. */
  def dedupClusters(df: DataFrame, id: String, text: String,
      threshold: Double = 0.5, dfCap: Option[Long] = Some(100L)): DataFrame = {
    val d = norm(df, id, text)
    // dfCap routes the candidate generation through the q41 hot-shingle
    // guard (two-phase df + capped self-join, exact Jaccard preserved) —
    // the production setting for corpora with boilerplate n-grams, where
    // the uncapped q40-oracle join pays O(hot²) buckets (measured 3.8x
    // degradation at 10x under the stopword-collision stress corpus; a
    // pair is lost only if EVERY shared shingle is hot — see
    // [[TextDedup.cappedJaccardPairsOf]])
    val pairs = dfCap match {
      case Some(cap) => TextDedup.cappedJaccardPairsOf(d, threshold, cap)
      case None => TextDedup.jaccardPairsOf(d, threshold)
    }
    val labels = TextDedup.propagateLabels(
      pairs.select(col("id_a"), col("id_b")))
    val all = d.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    all.withColumn("n_members", count(lit(1)).over(w)).orderBy("doc_id")
  }

  /** Soft-dedup example weights (q83 semantics): every document kept,
    * down-weighted by its dedup-cluster size (weight = 1/n_members), so
    * each near-dup cluster contributes one unit of training mass. Same
    * eager-execution caveat as [[dedupClusters]], which this wraps. */
  def softDedupWeights(df: DataFrame, id: String, text: String,
      threshold: Double = 0.5, dfCap: Option[Long] = Some(100L)): DataFrame =
    dedupClusters(df, id, text, threshold, dfCap)
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        round(lit(1.0) / col("n_members").cast("double"), 6).as("weight"))
      .orderBy("doc_id")

  /** One keeper per dedup cluster: the member maximizing `quality`
    * (a Column over `df`'s row; ties to the lowest id — q43 semantics). */
  def keepBestPerCluster(df: DataFrame, id: String, text: String,
      quality: Column, threshold: Double = 0.5,
      dfCap: Option[Long] = Some(100L)): DataFrame = {
    val q = df.select(col(id).cast("long").as("doc_id"), quality.as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    dedupClusters(df, id, text, threshold, dfCap).join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("n_members"), col("quality").as("best_quality"))
      .orderBy("cluster_id")
  }

  /** Benchmark decontamination (q49 semantics): per corpus document, how
    * many of its `nGrams`-gram shingles appear anywhere in `bench` (the
    * eval set). The eval side's distinct shingles broadcast — bounded by
    * the eval set's size, independent of corpus scale. `nGrams = 3` is
    * the oracle-checked binding (and rides the shared dedup caches);
    * production decontamination runs 8–13-gram windows — pass that here
    * without touching the dedup family's 3-gram derivations. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, id: String,
      text: String, nGrams: Int = 3): DataFrame = {
    val nc = norm(corpus, id, text)
    val benchSh = TextDedup.hashedShingleRowsNOf(norm(bench, id, text), nGrams)
      .select(col("sh")).distinct()
    val overlaps = TextDedup.hashedShingleRowsNOf(nc, nGrams)
      .join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    TextDedup.shingleSetsNOf(nc, nGrams)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_shingles"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(coalesce(col("n_overlap"), lit(0L)) > 0, lit(1L)).otherwise(lit(0L))
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** Incremental ingest dedup (q48 semantics): verdict per batch document
    * against the corpus only — `exact_dup` (content hash match, lowest
    * corpus id), `near_dup` (MinHash band candidate verified by exact
    * Jaccard >= threshold; best partner by (jaccard desc, id asc)), else
    * `new`. The corpus contributes precomputed signatures via equi-join;
    * cost is batch-proportional. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, id: String,
      text: String, threshold: Double = 0.5): DataFrame = {
    val nc = norm(corpus, id, text)
    incrementalVerdicts(norm(batch, id, text),
      nc.select(col("doc_id"), md5(col("text")).as("ch"))
        .groupBy("ch").agg(min("doc_id").as("exact_partner")),
      TextDedup.bandRowsOf(nc), _ => TextDedup.shingleSetsOf(nc), threshold)
  }

  /** The verdict core shared by [[incrementalDedup]] (corpus derivations
    * computed in-session) and [[DedupIndex.incrementalDedup]] (corpus
    * derivations read back from persisted bucketed tables): batch
    * (doc_id, text) against the three corpus-side artifacts —
    * `exactMap` (ch, exact_partner), `corpusBands` (doc_id, b, h), and
    * the shingle sets (doc_id, ts) `setsFor` returns. Output and
    * semantics are q48's.
    *
    * `setsFor` is the partition-pruning hook for the PARTITIONED shingle
    * table ([[DedupIndex]] pvals layout): it can only be pruned to the
    * partitions the CANDIDATES land in, and candidates exist only here —
    * so the caller hands a function from the candidate frame (doc_id,
    * partner_id) to the (possibly pruned) sets frame, and this core calls
    * it once `cand` is built. The in-session path ignores the candidates.
    *
    * `candStage` wraps the candidate frame before BOTH consumers (the
    * pruner's partition-value collect and the re-rank join): the pruned
    * path passes an eager local checkpoint so the band-probe join runs
    * ONCE per serving call instead of once for the collect and again in
    * the verdict plan — at scale that is a whole extra pass over the
    * (pruned) band table per epoch. Identity for the in-session path. */
  private[queries] def incrementalVerdicts(nb: DataFrame, exactMap: DataFrame,
      corpusBands: DataFrame, setsFor: DataFrame => DataFrame,
      threshold: Double,
      candStage: DataFrame => DataFrame = identity): DataFrame = {
    // BATCH-member partners (any partner_id that is itself a batch id —
    // not just the probing doc's own id) are excluded on both paths: they
    // arise only when the batch's own rows are already in the corpus
    // index — an epoch REPLAY against an appendAdmitted index
    // (foreachBatch is at-least-once), or a caller id collision. A
    // replayed epoch probes the index AFTER its own admissions were
    // appended, so a batch with two mutual near-dups A and B would —
    // under mere self-exclusion — flip both new→dup on replay (A matches
    // B's appended row and vice versa). Anti-joining the full batch id
    // set makes partners "pre-batch corpus members" and replayed verdicts
    // genuinely BIT-IDENTICAL to the original run's (r14 advisor). The
    // batch id set is batch-proportional by construction and broadcasts;
    // in normal (disjoint-id) operation both joins are no-ops.
    val batchIds = broadcast(nb.select(col("doc_id").as("__b_id")).distinct())
    val exact = nb.select(col("doc_id"), md5(col("text")).as("ch"))
      .join(exactMap, Seq("ch"), "left")
      .join(batchIds, col("exact_partner") === col("__b_id"), "left")
      .select(col("doc_id"),
        when(col("__b_id").isNotNull, lit(null).cast("long"))
          .otherwise(col("exact_partner")).as("exact_partner"))
    val cand = candStage(TextDedup.bandRowsOf(nb).as("x")
      .join(corpusBands.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner_id"))
      .join(batchIds, col("partner_id") === col("__b_id"), "left_anti")
      .distinct())
    val setsT = setsFor(cand)
    val interC = size(array_intersect(col("ts_a"), col("ts_b"))).cast("long")
    val j = interC.cast("double") /
      ((size(col("ts_a")) + size(col("ts_b"))).cast("long") - interC).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("j").desc, col("partner_id").asc)
    val best = cand
      .join(TextDedup.shingleSetsOf(nb).select(col("doc_id"), col("ts").as("ts_a")), "doc_id")
      .join(setsT.select(col("doc_id").as("partner_id"),
        col("ts").as("ts_b")), "partner_id")
      .withColumn("j", j).filter(col("j") >= threshold)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("partner_id").as("near_partner"), col("j"))
    nb.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_partner").isNotNull, lit("exact_dup"))
          .when(col("near_partner").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_partner"), col("near_partner")).as("partner_id"),
        when(col("exact_partner").isNotNull, lit(1.0))
          .otherwise(round(col("j"), 6)).as("jaccard"))
      .orderBy("doc_id")
  }

  /** GRADED contamination scoring (q61 semantics): per corpus document,
    * the FRACTION of its distinct 3-grams appearing anywhere in `bench`,
    * plus a severity bucket (high/medium/low/clean at the supplied
    * thresholds) — the fraction-based removal policy real pipelines run,
    * where [[decontaminate]]'s binary flag is the blunt version. Same
    * broadcast shape: the eval side is bounded by construction. */
  def contaminationScore(corpus: DataFrame, bench: DataFrame, id: String,
      text: String, high: Double = TextDedup.ContamHigh,
      medium: Double = TextDedup.ContamMedium,
      ordered: Boolean = true, nGrams: Int = 3): DataFrame = {
    val r = TextDedup.contaminationScoreOf(
      norm(corpus, id, text), norm(bench, id, text), high, medium, nGrams)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Map-only decontamination SCREEN
    * ([[TextDedup.decontaminationScreenOf]]): (doc_id, flagged 0/1) via
    * a broadcast Bloom filter of the eval set's shingle hashes — no
    * join, no shuffle, no false negatives (every doc [[decontaminate]]
    * would flag is flagged); false positives at the filter's rate. Run
    * it over the full corpus first and feed only the flagged sliver to
    * the exact [[decontaminate]]/[[contaminationScore]] pass — the
    * screening shape for eval suites too large to broadcast exactly. */
  def decontaminationScreen(corpus: DataFrame, bench: DataFrame,
      id: String, text: String, nGrams: Int = 3,
      numBits: Long = 1L << 22): DataFrame =
    TextDedup.decontaminationScreenOf(norm(corpus, id, text),
      norm(bench, id, text), nGrams, numBits)

  /** Eval-set novelty audit (q93 semantics — the inverse direction of
    * [[decontaminate]]): per BENCH document, how many of its distinct
    * 3-grams appear anywhere in `corpus`, plus the novelty fraction
    * (1 − seen/total) — the number an eval owner checks before trusting
    * a benchmark score against a model trained on `corpus`. The bench
    * side broadcasts (bounded by construction); the corpus streams its
    * cached shingle rows map-side with NO corpus-wide distinct — the
    * per-bench-doc count_distinct collapses repeats in partial
    * aggregation. */
  def evalNovelty(bench: DataFrame, corpus: DataFrame, id: String,
      text: String, ordered: Boolean = true, nGrams: Int = 3): DataFrame = {
    val nb = norm(bench, id, text)
    val r = TextDedup.evalNoveltyAssembly(
      TextDedup.hashedShingleRowsNOf(nb, nGrams),
      TextDedup.shingleSetsNOf(nb, nGrams),
      TextDedup.hashedShingleRowsNOf(norm(corpus, id, text), nGrams))
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Contamination attribution (q78 semantics): for every corpus document
    * sharing ≥1 3-gram shingle with `bench`, the single bench document it
    * overlaps most (ties to the lowest bench id) plus the shared-shingle
    * count — the "by WHAT" row on top of [[decontaminate]] (is it
    * contaminated) and [[contaminationScore]] (how much). */
  def contaminationAttribution(corpus: DataFrame, bench: DataFrame,
      id: String, text: String, ordered: Boolean = true): DataFrame = {
    val r = TextDedup.contaminationAttributionOf(
      norm(corpus, id, text), norm(bench, id, text))
    if (ordered) r.orderBy("doc_id") else r
  }

  /** MinHash sketch calibration (q79 semantics): per true-Jaccard decile
    * over the LSH candidate pairs, the pair count plus fixed-point milli
    * sums of the signature estimate and its absolute error — the
    * measurement that validates the sketch size against the dedup
    * threshold in use. */
  def minhashCalibration(df: DataFrame, id: String, text: String): DataFrame =
    TextDedup.minhashCalibrationOf(norm(df, id, text))

  /** Vocabulary-capped <UNK> normalization (q62 semantics): keep the
    * `keepK` most frequent tokens (ties to the smaller token), rewrite
    * every other token to `<UNK>`, and report per-document token/replaced
    * counts plus the md5 of the position-exact rebuilt text. The
    * keep-list is top-k bounded and broadcasts; the rebuild is one
    * doc_id shuffle. */
  def pruneVocabulary(df: DataFrame, id: String, text: String,
      keepK: Int = TextPipeline.VocabKeepK,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.vocabPruneOf(norm(df, id, text), keepK)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Fit the capped vocabulary once (persistable — parquet round-trips
    * apply bit-identically; the fit-once/apply-daily split, like
    * [[fitLanguageModel]]). One `token` column, `keepK` rows. */
  def fitVocabulary(df: DataFrame, id: String, text: String,
      keepK: Int = TextPipeline.VocabKeepK): DataFrame =
    TextPipeline.vocabKeepOf(norm(df, id, text), keepK)

  /** Apply a keep-list from [[fitVocabulary]] to any (id, text) frame:
    * out-of-vocabulary tokens become `<UNK>` and the text is rebuilt
    * position-exactly — (doc_id, n_tokens, n_unk, text). This is the
    * batch/streaming serving half: the keep-list is bounded and
    * broadcasts, so a foreachBatch loop pays only the batch's rebuild. */
  def applyVocabulary(df: DataFrame, id: String, text: String,
      keep: DataFrame, ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.vocabRewriteOf(norm(df, id, text), keep)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Gopher/C4-style composite quality FILTER over any (id, text) frame:
    * per-rule pass flags (token-count bounds, mean-word-length bounds,
    * min distinct stopwords, max-token-share cap, duplicate-3-gram cap)
    * plus a keep/drop verdict (q50 semantics). Zero-shuffle projection.
    * `ordered = false` skips the final global sort — the streaming/
    * 100 TB mode (a stateless projection needs no sort, and streaming
    * frames forbid one). */
  def qualityFilter(df: DataFrame, id: String, text: String,
      ordered: Boolean = true): DataFrame = {
    val r = TextDedup.qualityFilterOf(norm(df, id, text))
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Deterministic QUOTA-exact training-mix construction (q51 semantics):
    * within each `strata` value, rank rows by (md5(id), id) and keep the
    * first `quota` (a Column over the row, so quotas can vary per
    * stratum). Rate-based mixing at unbounded scale wants hash-mod
    * (zero shuffle) instead; this is the exact-budget shape. */
  def weightedMix(df: DataFrame, id: String, strata: String,
      quota: Column): DataFrame =
    TextDedup.weightedMixOf(
      df.select(col(id).cast("long").as("doc_id"), col(strata)), strata, quota)

  /** Intra-document repeated-block removal over any (id, text) frame
    * (q84 semantics): consecutive `chunkLen`-token blocks, later
    * duplicates of an earlier block dropped, text rebuilt verbatim from
    * the survivors. A pure zero-shuffle projection — stateless, so the
    * SAME call serves batch and Structured Streaming frames
    * (`ordered = false` skips the presentation sort, required on
    * streams). */
  def intraDocDedup(df: DataFrame, id: String, text: String,
      chunkLen: Int = TextPipeline.IntraChunkLen,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.intraDocDedupOf(norm(df, id, text), chunkLen)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Corpus vocabulary top-k over any (id, text) frame: the k most
    * frequent tokens with term and document frequency, ties broken by
    * token (q52 semantics). Two-phase aggregate + TakeOrdered top-k. */
  def vocabulary(df: DataFrame, id: String, text: String, k: Int = 100): DataFrame =
    TextDedup.vocabTopKOf(norm(df, id, text), k)

  /** Sliding-window chunking over any (id, text) frame (q53 semantics):
    * `chunkLen`-token windows every `stride` tokens, one output row per
    * chunk with its md5 content hash. Zero-shuffle fan-out projection.
    * `ordered = false` skips the final global sort — required for
    * streaming frames and the right call at scale (the sort exists only
    * for deterministic presentation). */
  def chunkDocuments(df: DataFrame, id: String, text: String,
      chunkLen: Int = TextPipeline.ChunkLen,
      stride: Int = TextPipeline.ChunkStride,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.chunksOf(norm(df, id, text), chunkLen, stride)
    if (ordered) r.orderBy("doc_id", "chunk_idx") else r
  }

  /** Top-`k` most distinctive terms per document by the log-free BM25
    * idf score (q54 semantics). The df/N sides are bounded and
    * broadcast; per-doc top-k plans as WindowGroupLimit. */
  def distinctiveTerms(df: DataFrame, id: String, text: String,
      k: Int = 5, ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.tfidfTopKOf(norm(df, id, text), k)
    if (ordered) r.orderBy("doc_id", "rank") else r
  }

  /** Pack documents into contiguous token-`budget` bins per `strata`
    * value, deterministically ordered by (md5(id), id) (q55 semantics).
    * One shuffle; the parallelism unit is the stratum. */
  def packSequences(df: DataFrame, id: String, text: String,
      strata: String, budget: Long = TextPipeline.PackBudget,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.packOf(
      df.select(col(id).cast("long").as("doc_id"),
        col(text).cast("string").as("text"), col(strata)),
      strata, budget)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Bigram-LM fluency score over any (id, text) frame (q56 semantics):
    * fixed-point conditional probabilities under the corpus's own bigram
    * model, summed exactly per document. */
  def lmFluency(df: DataFrame, id: String, text: String,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.bigramLmScoreOf(norm(df, id, text))
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Fit the bigram model once (persistable — parquet round-trips score
    * bit-identically); see [[scoreFluency]] for the scoring half. */
  def fitLanguageModel(df: DataFrame, id: String, text: String): DataFrame =
    TextPipeline.fitBigramModel(norm(df, id, text))

  /** Score a (held-out) frame under a model from [[fitLanguageModel]]:
    * unseen transitions score 0 but still count, so the mean degrades
    * with OOV rate. The fit-once/score-daily serving split. */
  def scoreFluency(df: DataFrame, id: String, text: String,
      model: DataFrame, ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.scoreUnderModel(norm(df, id, text), model)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Fit a DSIR-style importance model (q99 semantics) from a TARGET
    * frame (the small high-quality reference) and a RAW pool frame:
    * a self-contained (token, c_t, c_r) count table, persistable as
    * parquet (round-trip scores bit-identically — spec'd). See
    * [[Curation.fitImportanceModel]] for the recipe and scale notes. */
  def fitImportanceModel(target: DataFrame, raw: DataFrame, id: String,
      text: String): DataFrame =
    Curation.fitImportanceModel(norm(target, id, text),
      norm(raw, id, text), "text")

  /** Score any (id, text) frame under a fitted importance model: per
    * document the exact fixed-point sum/mean of the add-1-smoothed
    * target-vs-raw likelihood ratios and the `keep` selection verdict
    * (q99 semantics; mean ratio ≥ `keepMinRatioFp`, default "more
    * target-like than raw-like"). Tokens unseen at fit time take the
    * neutral-prior ratio. Stateless given the model — streaming-legal
    * with `ordered = false`; for a top-share policy, compose with
    * [[Curation.fitPercentileThresholds]] over `mean_w_fp`. */
  def importanceScore(df: DataFrame, id: String, text: String,
      model: DataFrame, keepMinRatioFp: Long = 1000000L,
      ordered: Boolean = true): DataFrame = {
    val r = Curation.importanceScoreOf(norm(df, id, text), model, "text",
      keepMinRatioFp)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** PII detection + redaction over any (id, text) frame (q57 semantics):
    * per-pattern match counts (independent of scrub order) plus the md5
    * of the fully redacted text. Patterns live in
    * [[TextPipeline.PiiPatterns]] (RE2 ∩ Java regex subset). Stateless
    * zero-shuffle projection — streaming-legal with `ordered = false`. */
  def redactPii(df: DataFrame, id: String, text: String,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.piiRedactOf(norm(df, id, text))
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Span-level exact-substring dedup over any (id, text) frame (q58
    * semantics): every `spanLen`-token run occurring more than once in
    * the corpus, with position, occurrence count, and a canonical-copy
    * flag — the sub-document duplication (boilerplate, license blocks,
    * quoted passages) that document-level dedup cannot see. */
  def duplicatedSpans(df: DataFrame, id: String, text: String,
      spanLen: Int = TextPipeline.SpanLen,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.duplicatedSpansOf(norm(df, id, text), spanLen)
    if (ordered) r.orderBy("doc_id", "span_start", "span_hash") else r
  }

  /** Corpus-wide exact-substring dedup as a TRANSFORM (q92 semantics —
    * Lee et al. '21): excise every non-canonical occurrence of a
    * duplicated `spanLen`-token run and rebuild each document's text
    * from the surviving tokens in order. Per doc: token counts before /
    * kept / cut and the md5 of the rebuilt text ([[duplicatedSpans]] is
    * the report this transform acts on). */
  def spanScrub(df: DataFrame, id: String, text: String,
      spanLen: Int = TextPipeline.SpanLen,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.spanScrubOf(norm(df, id, text), spanLen)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** URL extraction + domain-blocklist filtering over any (id, text)
    * frame (q59 semantics): per-doc URL/blocked counts, the offending
    * domain, and the keep verdict. `blocklist` is any frame with a
    * `domain` column; it broadcasts (blocklists are curated, bounded). */
  def urlFilter(df: DataFrame, id: String, text: String,
      blocklist: DataFrame, ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.urlFilterOf(norm(df, id, text), blocklist)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Global concatenate-and-chunk layout (q88 semantics): per-document
    * global token offset, first training block, block span, and
    * boundary-crossing flag over the id-ordered token stream. The
    * default `bucketSpan` is the production setting (10⁶ ids per
    * prefix-sum bucket); the span shapes the plan only — output is
    * span-invariant (spec'd). */
  def streamLayout(df: DataFrame, id: String, text: String,
      ctxLen: Long = TextPipeline.StreamCtxLen,
      bucketSpan: Long = 1000000L, baseOffset: Long = 0L): DataFrame =
    TextPipeline.streamLayoutOf(norm(df, id, text), ctxLen, bucketSpan,
      baseOffset)

  /** Per-block packing manifest (q90 semantics): the inverse view of
    * [[streamLayout]] — which documents feed each training block, the
    * single-doc purity flag, and exact body-slot utilization. */
  def blockManifest(df: DataFrame, id: String, text: String,
      ctxLen: Long = TextPipeline.StreamCtxLen,
      bucketSpan: Long = 1000000L): DataFrame =
    TextPipeline.blockManifestOf(norm(df, id, text), ctxLen, bucketSpan)

  /** Token-balanced output shard plan (q94 semantics): every document
    * assigned to shard `start_off div tokensPerShard` over the global
    * [[streamLayout]] — deterministic, doc_id-contiguous shards that are
    * equal-sized in TOKENS however skewed per-document lengths are. */
  def shardPlan(df: DataFrame, id: String, text: String,
      tokensPerShard: Long, bucketSpan: Long = 1000000L,
      ordered: Boolean = true): DataFrame = {
    val r = TextPipeline.shardPlanOf(norm(df, id, text), tokensPerShard,
      bucketSpan)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Materialize ANY frame as token-balanced parquet shards (one
    * `shard_id=K/` directory per shard, one task/file per shard, rows in
    * within-shard order; the caller's non-id columns ride along —
    * pre-existing `shard_id`/`shard_pos` columns are replaced, so
    * re-sharding previously written shard output at a new size works).
    * The sizing answer a 100 TB write job needs — equal files in token
    * space, not document count. Returns the number of shard DIRECTORIES
    * written (0 for an empty frame) — note shard IDS may have gaps when
    * a single document spans multiple tokensPerShard windows, so iterate
    * the written `shard_id=K/` directories, not `0 until n`. */
  def writeShards(df: DataFrame, id: String, text: String, outDir: String,
      tokensPerShard: Long, bucketSpan: Long = 1000000L): Long = {
    val plan = TextPipeline.shardPlanOf(norm(df, id, text), tokensPerShard,
      bucketSpan).select(col("doc_id").as("__gid"), col("shard_id"),
        col("shard_pos"))
      // two actions consume the plan (the write join + the shard count);
      // without this the corpus-wide prefix sum runs twice
      .persist()
    try {
      df.drop("shard_id", "shard_pos")
        .join(plan, col(id).cast("long") === col("__gid")).drop("__gid")
        .repartition(col("shard_id"))
        .sortWithinPartitions("shard_id", "shard_pos")
        .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)
      plan.select(col("shard_id")).distinct().count()
    } finally { plan.unpersist(false); () }
  }

  /** Rolling per-stratum monitoring stats of an integer metric over any
    * frame (q64 semantics): trailing mean/min/count + centered max, the
    * `ROWS BETWEEN` frame family as a library form. `metric` is any
    * integer Column over `df`'s row (a length, a token count, a quality
    * flag sum); one stratum-key shuffle feeds all four frames. */
  def rollingStats(df: DataFrame, id: String, strata: String, metric: Column,
      trail: Int = TextPipeline.RollTrail, half: Int = 2,
      ordered: Boolean = true): DataFrame = {
    val d = df.withColumn("doc_id", col(id).cast("long"))
    val r = TextPipeline.rollingStatsOf(d, strata, metric, trail, half)
    if (ordered) r.orderBy("doc_id") else r
  }

  /** Release the shared cached derivations (shingle sets, band signatures,
    * band rows) for `df`. Each [[incrementalDedup]] call caches the BATCH
    * side's derivations under that batch's plan identity; a long-lived
    * streaming loop processes a fresh plan per epoch, so without cleanup
    * the entries accumulate unboundedly.
    * [[graft.streaming.EventStream.runIncrementalDedup]] calls this at the
    * end of every epoch — the corpus-side index (a different plan) stays
    * cached across epochs. */
  def unpersistDedupCaches(df: DataFrame, id: String, text: String,
      pairThresholds: Seq[Double] = Nil,
      dfCaps: Seq[Long] = Seq(100L),
      nGrams: Seq[Int] = Nil): Unit = {
    val n = norm(df, id, text)
    // jaccard pair frames are cached per (input plan, threshold) —
    // callers that ran nearDupPairs/dedupClusters with dfCap=None pass
    // the thresholds they used so those entries release too
    pairThresholds.foreach(t =>
      TextDedup.jaccardPairsOf(n, t).unpersist(false))
    // capped pair-stat frames are cached per (input plan, dfCap) and are
    // threshold-independent; the default matches the library default cap
    dfCaps.foreach(c => TextDedup.unpersistCappedPairCachesOf(n, c))
    // non-default shingle windows each cache their own chain (the
    // decontamination family's 8-13-gram production settings) — callers
    // pass the nGrams values they used so those entries release too;
    // 3 is covered by unpersistDerivationsOf below
    nGrams.filterNot(_ == 3)
      .foreach(g => TextDedup.unpersistDerivationsNOf(n, g))
    TextDedup.unpersistDerivationsOf(n)
  }
}
