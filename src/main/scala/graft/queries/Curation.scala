package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: the selection/versioning layer that sits
  * between scoring ([[TextDedup]]) and packing ([[TextPipeline]]) in a
  * training-data pipeline — winnowed fingerprinting for plagiarism-grade
  * matching, snapshot diffing for incremental corpus refreshes,
  * token-budget curriculum selection, and percentile-threshold quality
  * gating. Same determinism contract as the rest of the suite: md5-only
  * hashing, exact integer arithmetic (`DIV`, never float division on a
  * reported column), one `round` max — every query has a bit-exact
  * DuckDB oracle twin.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // =====================================================================
  // q65: winnowed fingerprints (local-min k-gram selection, MOSS-style)
  // =====================================================================

  /** k-gram size / winnowing window of the oracle-checked binding:
    * word 3-grams, windows of 4 consecutive gram hashes — guarantee:
    * any shared run of w+k-1 = 6 tokens yields a shared fingerprint. */
  val WinnowK = 3
  val WinnowW = 4

  /** Winnowed fingerprint summary per document: hash every word k-gram
    * (md5), slide a window of `w` consecutive hashes, keep each window's
    * MINIMUM, and dedupe — the classic winnowing selection (Schleimer,
    * Wilkerson & Aiken, SIGMOD 2003), the density-guaranteed alternative
    * to [[TextDedup]]'s MinHash (winnowing is position-aware: shared
    * fingerprints certify shared CONTIGUOUS runs, not just bag overlap —
    * reference behavior: de_polars has no fingerprint matcher; this
    * extends `data_quality`-style per-document scoring). Documents
    * shorter than one full window contribute their single truncated
    * window; documents with no k-gram at all get an empty set
    * (`n_fp = 0`, digest = md5 of the empty string).
    *
    * Output: doc_id, n_grams, n_fp (distinct selected hashes), fp_digest
    * (md5 over the ','-joined SORTED selection — the set identity a
    * downstream matcher joins on).
    *
    * Scale: ZERO shuffle — the whole selection runs as array
    * higher-order functions inside one projection (per-doc cost
    * O(n_grams·w) with w fixed), so it rides the scan exactly like
    * q24/q26; no explode, no per-gram rows on the wire. The per-doc
    * fingerprint SET (for a pair-matching join) is `sel` before the
    * digest — explode it downstream only when matching, in which case
    * the join is the q28 shared-key equi-join shape. */
  /** (doc_id, n_grams, sel) with the selected fingerprint SET retained as
    * an array — the joinable form [[winnowMatchPairsOf]] explodes; the
    * digest form below is what the oracle checks. */
  private[queries] def winnowedSelOf(d: DataFrame, k: Int, w: Int): DataFrame = {
    // The gram-hash array is LET-BOUND as a lambda variable (the
    // single-element-array `transform` trick) instead of a projected
    // column: a column reference gets inlined by CollapseProject when a
    // downstream consumer (explode, join key derivation) reshapes the
    // plan, and the interpreted HOF path has no common-subexpression
    // elimination inside lambdas — the inlined form re-evaluates ALL
    // n_grams md5s PER WINDOW, O(n_grams²) per document (measured: 26 s
    // vs 0.6 s at sf0.1 on the q73 path). A lambda variable is
    // evaluated exactly once per row by construction, in every
    // consumer, with no reliance on optimizer internals.
    val empty = array().cast("array<string>")
    def mins(h: Column, ng: Column): Column = array_distinct(transform(
      sequence(lit(1), greatest(ng - (w - 1), lit(1))),
      i => array_min(slice(h, i, lit(w)))))
    def hashes(tk: Column, ng: Column): Column =
      transform(sequence(lit(1), ng),
        i => md5(concat_ws(" ", slice(tk, i, lit(k)))))
    val sel = element_at(transform(array(split(col("text"), " ")), tk => {
      val ng = greatest(size(tk) - (k - 1), lit(0))
      element_at(transform(array(when(ng === 0, empty)
        .otherwise(hashes(tk, ng))), h =>
        when(ng === 0, empty).otherwise(mins(h, ng))), 1)
    }), 1)
    // Scale-adaptive parallelism for the md5-per-gram selection (see
    // Tables.parallelized — identity at production split counts)
    Tables.parallelized(d, "doc_id").select(col("doc_id"),
      greatest(size(split(col("text"), " ")) - (k - 1), lit(0))
        .cast("long").as("n_grams"),
      sel.as("sel"))
  }

  private[queries] def winnowedOf(d: DataFrame, k: Int, w: Int): DataFrame =
    winnowedSelOf(d, k, w)
      .select(col("doc_id"), col("n_grams"),
        size(col("sel")).cast("long").as("n_fp"),
        md5(concat_ws(",", array_sort(col("sel")))).as("fp_digest"))

  def q65Winnow(s: SparkSession, dir: String): DataFrame =
    winnowedOf(docs(s, dir), WinnowK, WinnowW).orderBy("doc_id")

  val oracleQ65: String = {
    val km1 = WinnowK - 1; val wm1 = WinnowW - 1
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             greatest(len(string_split(text, ' ')) - $km1, 0) AS n_grams
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, n_grams,
       |         unnest(generate_series(1, n_grams)) AS pos FROM t),
       |g AS (SELECT doc_id, pos, n_grams,
       |        md5(array_to_string(toks[pos:pos+$km1], ' ')) AS h FROM g0),
       |w AS (
       |  SELECT doc_id, pos, n_grams,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND $wm1 FOLLOWING) AS wmin
       |  FROM g),
       |sel AS (SELECT DISTINCT doc_id, wmin FROM w
       |        WHERE pos <= greatest(n_grams - $wm1, 1)),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
       |        md5(string_agg(wmin, ',' ORDER BY wmin)) AS fp_digest
       |      FROM sel GROUP BY doc_id)
       |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
       |  coalesce(a.n_fp, 0) AS n_fp,
       |  coalesce(a.fp_digest, md5('')) AS fp_digest
       |FROM t LEFT JOIN a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // =====================================================================
  // q66: corpus snapshot diff (CDC between two corpus versions)
  // =====================================================================

  /** Classify every document across two corpus snapshots as
    * added / deleted / changed / unchanged — the incremental-refresh
    * primitive (a nightly crawl drop vs yesterday's corpus: only
    * `added`+`changed` need re-scoring/re-dedup, `deleted` tombstones
    * downstream indexes). Content identity is the md5 of `content`.
    *
    * Scale: each side reduces to (id, 32-char hash) BEFORE the join —
    * the wide text never travels; the full-outer join is one hash
    * exchange per side on the id, and ZERO exchanges when both
    * snapshots are stored id-bucketed ([[graft.operators.Bucketing]]
    * proves the exchange-free co-located join — the deployment shape
    * for a corpus that diffs nightly). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
      content: Column): DataFrame = {
    val o = oldDf.select(col(id).cast("long").as("doc_id"),
      md5(content).as("old_hash"))
    val n = newDf.select(col(id).cast("long").as("doc_id"),
      md5(content).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("deleted"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))
  }

  /** Oracle binding: the "old" snapshot drops doc_id ≡ 3 (mod 11) (those
    * become `added`) and carries a stale revision ('v0 ' prefix) for
    * doc_id ≡ 2 (mod 13) (`changed`); the "new" snapshot drops
    * doc_id ≡ 5 (mod 17) (`deleted`). Deterministic — no RNG. */
  def q66SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val old = d.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 2, concat(lit("v0 "), col("text")))
          .otherwise(col("text")).as("text"))
    val nu = d.filter(col("doc_id") % 17 =!= 5).select(col("doc_id"), col("text"))
    snapshotDiff(old, nu, "doc_id", col("text")).orderBy("doc_id")
  }

  val oracleQ66: String =
    """WITH old AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 2 THEN 'v0 ' || text ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 != 3),
      |new AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 != 5),
      |oh AS (SELECT doc_id, md5(text) AS old_hash FROM old),
      |nh AS (SELECT doc_id, md5(text) AS new_hash FROM new)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'deleted'
      |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  o.old_hash AS old_hash, n.new_hash AS new_hash
      |FROM oh o FULL OUTER JOIN nh n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q67: token-budget curriculum selection (per-stratum cumulative cap)
  // =====================================================================

  /** Per-source token budget of the oracle-checked binding. */
  val BudgetTokens = 1000L

  /** Select documents per stratum, best-quality first, until the
    * stratum's token budget is exhausted — the "fill each domain's
    * quota with its best data" curriculum step (the budgeted variant of
    * q51's fractional corpus mix). Quality here is the exact integer
    * unique-token ratio `n_distinct·10⁶ DIV n_tokens` (no floats);
    * selection keeps every doc whose CUMULATIVE token count (quality
    * desc, doc_id asc) stays ≤ `budget`.
    *
    * Scale: one shuffle on the stratum key feeding a single running-sum
    * window (partial token counting is map-side projection work).
    * Stratum skew bounds the window partition, not the corpus — strata
    * are sources/domains, and a dominant one should be sub-bucketed
    * (date buckets with per-bucket sub-budgets), the q51/q55/q64 knob.
    * At extreme scale the same contract is served threshold-first:
    * approximate the quality cutoff per stratum (percentile sketch),
    * filter, then run this exact form on the ~budget-sized survivor set
    * — the output is identical because selection is a pure function of
    * the (quality, doc_id) order. */
  private[queries] def tokenBudgetOf(d: DataFrame, strata: String,
      budget: Long): DataFrame = {
    val toks = split(col("text"), " ")
    val m = d.select(col("doc_id"), col(strata),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("quality_1e6",
        expr("(n_distinct * 1000000) DIV n_tokens"))
    val w = Window.partitionBy(strata)
      .orderBy(col("quality_1e6").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col(strata), col("n_tokens"),
        col("quality_1e6"), col("cum_tokens"))
  }

  def q67TokenBudget(s: SparkSession, dir: String): DataFrame =
    tokenBudgetOf(docs(s, dir), "source", BudgetTokens).orderBy("doc_id")

  val oracleQ67: String =
    s"""WITH m AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct
       |  FROM documents),
       |q AS (SELECT doc_id, source, n_tokens,
       |        (n_distinct * 1000000) // n_tokens AS quality_1e6 FROM m),
       |c AS (SELECT doc_id, source, n_tokens, quality_1e6,
       |        CAST(sum(n_tokens) OVER (PARTITION BY source
       |          ORDER BY quality_1e6 DESC, doc_id ASC
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |      FROM q)
       |SELECT doc_id, source, n_tokens, quality_1e6, cum_tokens
       |FROM c WHERE cum_tokens <= $BudgetTokens ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q68: percentile-threshold quality gate (exact discrete quantile)
  // =====================================================================

  /** Percentile of the oracle-checked binding: keep docs at or above
    * the per-language 90th-percentile n_chars. */
  val GatePctNum = 9
  val GatePctDen = 10

  /** Keep every document whose metric is ≥ its stratum's exact discrete
    * p-th percentile — the "top decile by quality-classifier score"
    * gate. The threshold is the metric value at ascending rank
    * ⌈p·n⌉ computed in pure integer math (`(num·n + den−1) DIV den` —
    * no float `ceil(0.9·n)`, whose binary representation flips the
    * boundary rank cross-engine when p·n is a whole number).
    *
    * Scale: the ranked pass is one sort per stratum (the costed stage —
    * sub-bucket a dominant stratum as in q67); the threshold table is
    * one row per stratum, so the gate itself is a BROADCAST join-back +
    * filter that rides the original scan (plan-asserted). At extreme
    * scale the exact rank is served by a two-phase refinement (sketch
    * percentile → exact rank within the boundary bucket) with the same
    * output contract. */
  /** FIT half of the percentile gate: the one-row-per-stratum threshold
    * table (strata, thr). Persistable — write it as parquet and a fresh
    * session (or a streaming ingest, [[graft.streaming.EventStream
    * .qualityGateStream]]) applies the same gate with zero corpus
    * recomputation, the q62/q48 fit/apply convention. */
  def fitPercentileThresholds(d: DataFrame, strata: String,
      metric: String, pctNum: Int, pctDen: Int): DataFrame = {
    val ws = Window.partitionBy(strata)
      .orderBy(col(metric).asc, col("doc_id").asc)
    d.select(col("doc_id"), col(strata), col(metric))
      .withColumn("rn", row_number().over(ws))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(strata)))
      .filter(col("rn") ===
        expr(s"($pctNum * n + ${pctDen - 1}) DIV $pctDen"))
      .select(col(strata), col(metric).as("thr"))
  }

  /** Sketch-mode FIT — the "threshold-first" shape the exact fit's
    * scaladoc promises for extreme scale: per-stratum
    * `percentile_approx` (a deterministic Greenwald-Khanna-style
    * sketch for a fixed `accuracy`) in ONE two-phase aggregate, so no
    * stratum ever sorts its full membership — a 10⁹-row stratum costs
    * a bounded sketch merge instead of a sorted window. `accuracy`
    * bounds the rank error at n/accuracy per stratum; the returned
    * threshold is an actual data value, so gates fitted this way
    * differ from the exact fit by at most the epsilon band around the
    * cut (spec-pinned: equal on the fixtures at high accuracy,
    * rank-bounded at low). Output schema matches
    * [[fitPercentileThresholds]] — [[applyPercentileGate]] (and the
    * streaming gate) serve either interchangeably. */
  def fitPercentileThresholdsApprox(d: DataFrame, strata: String,
      metric: String, pctNum: Int, pctDen: Int,
      accuracy: Int = 10000): DataFrame = {
    val p = pctNum.toDouble / pctDen
    d.groupBy(col(strata))
      .agg(expr(s"percentile_approx($metric, ${p}d, $accuracy)").as("thr"))
  }

  /** APPLY half: stateless projection + broadcast threshold join +
    * filter — shuffle-free over the gated frame and legal on a
    * STREAMING frame as-is (no window, no aggregate). */
  def applyPercentileGate(d: DataFrame, th: DataFrame,
      strata: String, metric: String): DataFrame =
    d.select(col("doc_id"), col(strata), col(metric))
      .join(broadcast(th), Seq(strata))
      .filter(col(metric) >= col("thr"))
      .select(col("doc_id"), col(strata),
        col(metric).cast("long").as(metric), col("thr").cast("long").as("thr"))

  private[queries] def percentileGateOf(d: DataFrame, strata: String,
      metric: String, pctNum: Int, pctDen: Int): DataFrame =
    applyPercentileGate(d,
      fitPercentileThresholds(d, strata, metric, pctNum, pctDen),
      strata, metric)

  def q68PercentileGate(s: SparkSession, dir: String): DataFrame =
    percentileGateOf(docs(s, dir), "lang", "n_chars", GatePctNum, GatePctDen)
      .orderBy("doc_id")

  val oracleQ68: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, n_chars,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY n_chars ASC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM documents),
       |th AS (SELECT lang, n_chars AS thr FROM r
       |       WHERE rn = ($GatePctNum * n + ${GatePctDen - 1}) // $GatePctDen)
       |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       |  CAST(t.thr AS BIGINT) AS thr
       |FROM documents d JOIN th t ON t.lang = d.lang
       |WHERE d.n_chars >= t.thr
       |ORDER BY d.doc_id""".stripMargin

  // =====================================================================
  // q71: balanced per-stratum downsample (data-dependent quota)
  // =====================================================================

  /** Class-balancing selection: every stratum is downsampled to the size
    * of the SMALLEST stratum, picking each stratum's members in
    * hash-of-id order — the deterministic form of "balance the source
    * mix" (the companion of q51's FIXED per-stratum quotas: here the
    * quota comes from the data, so rebalancing tracks the corpus as it
    * grows). Pick order is (md5(id), id) — uniform, seedless, and
    * reproducible cross-engine; output carries the rank and quota so
    * downstream can audit the cut line.
    *
    * Scale: one two-phase count aggregate reduced to a ONE-ROW quota
    * table (broadcast — never a shuffle of the corpus against it), plus
    * one rank window per stratum, the q51 exchange. The window sorts
    * within strata only; a dominant stratum is the q51/q55 sub-bucket
    * knob. The rank-filter form keeps EXACT quota semantics (hash-mod
    * sampling can only approximate a target COUNT). */
  private[queries] def balancedSampleOf(d: DataFrame, strata: String,
      id: String): DataFrame = {
    val quota = d.groupBy(col(strata)).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("quota"))
    val ranked = d.select(col(id), col(strata),
      row_number().over(Window.partitionBy(strata)
        .orderBy(md5(col(id).cast("string")), col(id)))
        .cast("long").as("pick_rank"))
    ranked.crossJoin(broadcast(quota))
      .filter(col("pick_rank") <= col("quota"))
      .select(col(id), col(strata), col("pick_rank"), col("quota"))
  }

  def q71BalancedSample(s: SparkSession, dir: String): DataFrame =
    balancedSampleOf(docs(s, dir), "source", "doc_id").orderBy("doc_id")

  val oracleQ71: String =
    """SELECT doc_id, source, pick_rank, quota FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pick_rank
      |  FROM documents),
      |  (SELECT CAST(min(c) AS BIGINT) AS quota
      |   FROM (SELECT count(*) AS c FROM documents GROUP BY source))
      |WHERE pick_rank <= quota ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q72: rare-token novelty score (corpus-df join-back)
  // =====================================================================

  /** How many docs a token may appear in and still count as "rare". */
  val RareDf = 2L

  /** Per-document lexical novelty: the fraction of a document's DISTINCT
    * tokens whose corpus-wide document frequency is ≤ [[RareDf]] — high
    * for documents contributing vocabulary the corpus hasn't seen
    * (the signal curation uses to up-weight long-tail content), low for
    * boilerplate assembled from corpus-common words. The complement of
    * q52's head-of-vocabulary view, at doc granularity.
    *
    * Scale: the df table is a TWO-PHASE groupBy on the token (map-side
    * partials collapse hot tokens before the shuffle — the skew-safe
    * shape, never a count-over-window), and the join-back is a token
    * equi-join AQE sizes (broadcast when the vocab is small, shuffled
    * with skew-split when not). Per-doc re-aggregate is again two-phase
    * on doc_id. Rows on the wire are (doc_id, token-hash-sized) pairs —
    * text never shuffles. */
  private[queries] def rareTokenScoreOf(d: DataFrame, id: String,
      text: String, rareDf: Long): DataFrame = {
    val toks = d.select(col(id),
      explode(array_distinct(split(col(text), " "))).as("tok"))
    val dfTab = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    toks.join(dfTab, Seq("tok"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(when(col("df") <= lit(rareDf), 1L).otherwise(0L)).as("n_rare"))
      .select(col(id), col("n_distinct_tokens"), col("n_rare"),
        round(col("n_rare").cast("double") /
          col("n_distinct_tokens").cast("double"), 6).as("rare_ratio"))
  }

  def q72RareTokens(s: SparkSession, dir: String): DataFrame =
    rareTokenScoreOf(docs(s, dir), "doc_id", "text", RareDf).orderBy("doc_id")

  val oracleQ72: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |dfs AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
       |SELECT doc_id, n_distinct_tokens, n_rare,
       |  round(CAST(n_rare AS DOUBLE)/CAST(n_distinct_tokens AS DOUBLE), 6) AS rare_ratio
       |FROM (
       |  SELECT t.doc_id, count(*) AS n_distinct_tokens,
       |    CAST(sum(CASE WHEN d.df <= $RareDf THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |  FROM toks t JOIN dfs d ON t.tok = d.tok GROUP BY t.doc_id)
       |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q73: winnow-match pairs (shared contiguous-run detection)
  // =====================================================================

  /** Minimum shared fingerprints for the oracle binding. */
  val WinnowMinShared = 2L

  /** Max fingerprint document-frequency admitted to the pair join. NOT
    * optional: winnowing selects per-window MINIMUM hashes, so the
    * globally smallest hashes of corpus-common k-grams are selected by
    * (nearly) EVERY document containing them — fingerprint df is
    * systematically biased hot, far more than raw shingle df. Measured:
    * the uncapped join on the sf0.1 corpus paid 229 s where the capped
    * form pays ~1 s, with the pair semantics intact (a genuine passage
    * reuse shares many fingerprints; only pairs ALL of whose shared
    * fingerprints are corpus-hot are lost — boilerplate, by
    * definition). */
  val WinnowDfCap = 100L

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints — the
    * MATCHER q65's selection exists for (MOSS-style): a shared
    * fingerprint certifies a shared CONTIGUOUS run of ≥ w+k-1 tokens,
    * so unlike MinHash/Jaccard (bag overlap) these pairs witness
    * verbatim passage reuse — plagiarism-grade duplication, license
    * blocks, syndicated paragraphs. Output carries each side's TOTAL
    * fingerprint count (uncapped — the doc property) so downstream can
    * turn n_shared into a coverage ratio.
    *
    * Scale: selection is the q65 zero-shuffle projection; the join is
    * the q41 capped shape from birth — fingerprint df via two-phase
    * `groupBy(fp).count()` (map-side partials, skew-robust), hot
    * fingerprints excluded BEFORE the self-join (see [[WinnowDfCap]]:
    * winnowed selection makes hot keys the norm, not the exception, so
    * the cap is load-bearing at every scale, not just 100 TB). The df
    * aggregate and both join sides key on `xxhash64` of the md5
    * fingerprint — the output carries no fp values, so the key is
    * internal, and 8 fixed-width bytes through three shuffles beat the
    * 32-char string (measured 1.10 → 0.73 s at sf0.1 with the selection
    * cache warm — the long-lived-session serving regime; the cold path
    * is flat because the cache build dominates it; bit-identical
    * pairs). Same 64-bit random-collision class as the q28 hashed-
    * shingle family (a collision merges two fingerprints' df and could
    * admit one false shared count — ~2^-64 per pair). */
  private[queries] def winnowMatchPairsOf(d: DataFrame, k: Int, w: Int,
      minShared: Long, dfCap: Long): DataFrame = {
    // CACHE THE SELECTION BEFORE EXPLODING — load-bearing, not a reuse
    // nicety: explode() makes Catalyst inline the nested-HOF `sel`
    // expression into the Generate, where the inner gram-hash transform
    // loses common-subexpression elimination and is re-evaluated per
    // window — measured 108 s for explode-over-expression vs 2.5 s for
    // the selection itself at sf0.1. Materializing (doc_id, sel) first
    // makes the explode a read of stored arrays. The cached node is also
    // reused by the df table and both join sides.
    val selFrame = winnowedSelOf(d, k, w).persist()
    val s = selFrame
      .select(col("doc_id"), size(col("sel")).cast("long").as("nfp"),
        explode(col("sel")).as("fp0"))
      .select(col("doc_id"), col("nfp"), xxhash64(col("fp0")).as("fp"))
    val dfTab = s.groupBy("fp").agg(count(lit(1)).as("df"))
    val cold = s.join(dfTab.filter(col("df") <= dfCap), Seq("fp"))
      .select(col("fp"), col("doc_id"), col("nfp"))
    val a = cold.select(col("doc_id").as("id_a"), col("nfp").as("nfp_a"), col("fp"))
    val b = cold.select(col("doc_id").as("id_b"), col("nfp").as("nfp_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"),
        min("nfp_a").as("nfp_a"), min("nfp_b").as("nfp_b"))
      .filter(col("n_shared") >= minShared)
  }

  def q73WinnowMatch(s: SparkSession, dir: String): DataFrame =
    winnowMatchPairsOf(docs(s, dir), WinnowK, WinnowW, WinnowMinShared,
      WinnowDfCap).orderBy("id_a", "id_b")

  val oracleQ73: String = {
    val km1 = WinnowK - 1; val wm1 = WinnowW - 1
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             greatest(len(string_split(text, ' ')) - $km1, 0) AS n_grams
       |           FROM documents),
       |g0 AS (SELECT doc_id, toks, n_grams,
       |         unnest(generate_series(1, n_grams)) AS pos FROM t),
       |g AS (SELECT doc_id, pos, n_grams,
       |        md5(array_to_string(toks[pos:pos+$km1], ' ')) AS h FROM g0),
       |w AS (
       |  SELECT doc_id, pos, n_grams,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND $wm1 FOLLOWING) AS wmin
       |  FROM g),
       |sel AS (SELECT DISTINCT doc_id, wmin FROM w
       |        WHERE pos <= greatest(n_grams - $wm1, 1)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
       |       FROM sel GROUP BY doc_id),
       |fpdf AS (SELECT wmin, count(*) AS c FROM sel GROUP BY wmin),
       |cold AS (SELECT s.doc_id, s.wmin FROM sel s
       |         JOIN fpdf f ON f.wmin = s.wmin WHERE f.c <= $WinnowDfCap),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(count(*) AS BIGINT) AS n_shared
       |  FROM cold a JOIN cold b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT p.id_a, p.id_b, p.n_shared, sa.nfp AS nfp_a, sb.nfp AS nfp_b
       |FROM p JOIN sz sa ON sa.doc_id = p.id_a
       |       JOIN sz sb ON sb.doc_id = p.id_b
       |WHERE p.n_shared >= $WinnowMinShared
       |ORDER BY p.id_a, p.id_b""".stripMargin
  }

  // =====================================================================
  // q85: source token-distribution divergence (chi-square balance report)
  // =====================================================================

  /** Per-source divergence of the token distribution from the corpus-wide
    * distribution — the data-mixture drift monitor a curation team runs
    * per source/domain/crawl-snapshot: Pearson's chi-square statistic of
    * each source's unigram counts against expected counts under the
    * global distribution. A source of ordinary prose scores near its
    * degrees of freedom; a source of boilerplate/spam/another register
    * scores orders of magnitude higher — the trigger for re-weighting
    * (q51) or quality-gating (q68) that source.
    *
    * EXACT over all vocab cells while touching only OBSERVED cells: an
    * unobserved (source, token) cell contributes (0−e)²/e = e, and
    * Σ_vocab e = t_s exactly, so chi² = Σ_obs[(o−e)²/e − e] + t_s — the
    * observed-cell sum plus a closed-form remainder. No dense
    * source×vocab frame is ever built.
    *
    * Determinism: e = t_s·g_t/g is one fixed IEEE sequence from exact
    * integers; each observed-cell term is rounded to micro units ONCE
    * and summed as BIGINT (the fpsum contract); the +t_s remainder is
    * exact integer micro units. Output chi2_micro is the statistic in
    * millionths — integer, cross-engine bit-exact.
    *
    * Scale: (source, token) counts are a TWO-PHASE groupBy (map-side
    * partials absorb hot tokens); the global-token table is an aggregate
    * OF that result joined back on the token key (AQE broadcasts while
    * it fits); per-source totals (|sources| rows) and the grand total
    * (1 row) broadcast explicitly. Rows on the wire are count triples —
    * text never shuffles. Term magnitude is bounded by o·|sources| so
    * micro-unit sums stay far inside BIGINT at any corpus size. */
  private[queries] def sourceDivergenceOf(d: DataFrame, strata: String,
      text: String): DataFrame = {
    val tok = d.select(col(strata).as("source"),
      explode(split(col(text), " ")).as("token"))
    val st = tok.groupBy("source", "token").agg(count(lit(1)).as("o"))
      .persist()
    val srcTot = st.groupBy("source").agg(sum(col("o")).as("t_s"),
      count(lit(1)).as("n_distinct_tokens"))
    val globTot = st.groupBy("token").agg(sum(col("o")).as("g_t"))
    val tot = st.agg(sum(col("o")).as("g"))
    val e = col("t_s").cast("double") * col("g_t").cast("double") /
      col("g").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) /
      e - e
    st.join(globTot, Seq("token"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(
        min(col("t_s")).as("n_tokens"),
        min(col("n_distinct_tokens")).as("n_distinct_tokens"),
        (sum(round(term * lit(1000000.0)).cast("long")) +
          min(col("t_s")) * lit(1000000L)).as("chi2_micro"))
      .orderBy("source")
  }

  def q85SourceDivergence(s: SparkSession, dir: String): DataFrame =
    sourceDivergenceOf(docs(s, dir), "source", "text")

  val oracleQ85: String = {
    val e = "CAST(t_s AS DOUBLE)*CAST(g_t AS DOUBLE)/CAST(g AS DOUBLE)"
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |st AS (SELECT source, token, count(*) AS o FROM tok GROUP BY 1, 2),
       |src AS (SELECT source, CAST(sum(o) AS BIGINT) AS t_s,
       |          CAST(count(*) AS BIGINT) AS n_distinct_tokens
       |        FROM st GROUP BY 1),
       |gtok AS (SELECT token, CAST(sum(o) AS BIGINT) AS g_t FROM st GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS g FROM st),
       |terms AS (
       |  SELECT st.source, t_s, n_distinct_tokens,
       |    CAST(round(((CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e)
       |      / ($e) - $e) * 1000000.0) AS BIGINT) AS term_fp
       |  FROM st JOIN gtok USING (token) JOIN src USING (source)
       |  CROSS JOIN tot)
       |SELECT source, min(t_s) AS n_tokens,
       |  min(n_distinct_tokens) AS n_distinct_tokens,
       |  CAST(sum(term_fp) + min(t_s)*1000000 AS BIGINT) AS chi2_micro
       |FROM terms GROUP BY source ORDER BY source""".stripMargin
  }

  // =====================================================================
  // Token-distribution drift monitor — the FIT/APPLY split of q85
  // =====================================================================

  /** FIT half of the drift monitor: the reference unigram distribution
    * as a (token, g_t) count table — fitted on the corpus at rest,
    * persistable as parquet (round-trip bit-identity spec'd), the
    * artifact an ingest pipeline ships to serving. One two-phase
    * aggregate; |vocab| rows. */
  def fitTokenDistribution(d: DataFrame, text: String): DataFrame =
    d.select(explode(split(col(text), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("g_t"))

  /** APPLY half: per-stratum chi-square drift of a BATCH against the
    * fitted reference distribution — the ingest-time alarm that a
    * source started shipping a different register (spam burst, encoding
    * break, language flip) than the corpus the pipeline was tuned on.
    * Same exact-over-all-vocab-cells identity as q85 (Σ_vocab e = t_s,
    * so observed cells + a closed-form remainder suffice), with the
    * reference frozen instead of derived from the batch. Batch tokens
    * OUTSIDE the fitted vocabulary have expected count 0 (infinite
    * chi-square strictly), so they are excluded from the statistic and
    * reported separately as (n_unseen_tokens, unseen_mass) — at scale
    * the unseen report usually fires before the chi-square does.
    *
    * Output: (source, n_tokens, n_unseen_tokens, unseen_mass,
    * chi2_micro). Self-drift identity (spec'd): applying a corpus to
    * its own fit reproduces q85's chi2_micro exactly with zero unseen.
    *
    * Scale: batch-proportional — (source, token) counts are a
    * two-phase aggregate over the BATCH; the fitted table joins on the
    * token key (AQE broadcasts while it fits) and the corpus never
    * re-enters; per-source totals and the reference total ride
    * broadcasts. The per-epoch serving shape: fit once, apply per
    * ingest batch (the q68/vocab/LM fit-apply house pattern). */
  /** The per-batch (source, token) count aggregate [[tokenDriftOf]]
    * caches (it feeds both the per-source totals and the main join —
    * the q85 `st.persist()` pattern). Exposed so streaming callers
    * can release it per epoch via [[unpersistDriftCaches]]. */
  private def driftBatchCounts(batch: DataFrame, strata: String,
      text: String): DataFrame =
    batch.select(col(strata).as("source"),
      explode(split(col(text), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("o"))

  /** Release [[tokenDriftOf]]'s cached per-batch aggregate for `batch`
    * (plan-identity match, like `TextOps.unpersistDedupCaches`) — call
    * per epoch from long-lived streaming loops. */
  def unpersistDriftCaches(batch: DataFrame, strata: String,
      text: String): Unit =
    driftBatchCounts(batch, strata, text).unpersist(false)

  def tokenDriftOf(batch: DataFrame, fitted: DataFrame, strata: String,
      text: String): DataFrame = {
    val st = driftBatchCounts(batch, strata, text).persist()
    val srcTot = st.groupBy("source").agg(sum(col("o")).as("t_s"))
    val tot = fitted.agg(sum(col("g_t")).as("g"))
    val e = col("t_s").cast("double") * col("g_t").cast("double") /
      col("g").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) /
      e - e
    st.join(fitted, Seq("token"), "left")
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(
        min(col("t_s")).as("n_tokens"),
        sum(when(col("g_t").isNull, 1L).otherwise(0L))
          .as("n_unseen_tokens"),
        sum(when(col("g_t").isNull, col("o")).otherwise(0L))
          .as("unseen_mass"),
        (sum(when(col("g_t").isNotNull,
          round(term * lit(1000000.0)).cast("long")).otherwise(0L)) +
          min(col("t_s")) * lit(1000000L)).as("chi2_micro"))
      .orderBy("source")
  }

  /** Cap a fitted vocabulary ([[fitTokenDistribution]]) to its top-`k`
    * tokens by reference count, ties broken by token — the form a
    * serving artifact actually ships in: an unbounded vocabulary cannot
    * ride a broadcast, and tail tokens carry no usable expected counts
    * anyway. Probes of capped-out tokens surface in [[tokenDriftOf]]'s
    * unseen-mass report instead of silently destabilizing the
    * statistic. TakeOrdered top-k — never a global sort. */
  def capVocabulary(fitted: DataFrame, k: Int): DataFrame =
    fitted.orderBy(col("g_t").desc, col("token").asc).limit(k)

  /** Fitted-vocabulary cap of the oracle-checked q89 binding — below
    * the corpus's 31-token synthetic vocabulary, so the probe half
    * genuinely carries out-of-vocabulary mass. */
  val DriftVocabCap = 25

  /** Oracle-checked binding of the fit/apply drift monitor: fit the
    * reference distribution on the even-doc_id half of the corpus, cap
    * it to the top [[DriftVocabCap]] tokens, probe the odd half per
    * source. The cap pushes real out-of-vocabulary mass through the
    * probe, so both drift paths — the in-vocabulary chi-square and the
    * unseen-token report — are exercised and hash-pinned cross-engine
    * (the self-drift spec pins the q85 identity; this pins the
    * frozen-reference general case). */
  def q89TokenDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // cache the capped reference (|vocab-cap| rows): it feeds both the
    // grand-total aggregate and the token join, and without the cache
    // the full fit (explode + groupBy + top-k) executes once per consumer
    tokenDriftOf(d.filter(col("doc_id") % 2 === 1),
      capVocabulary(
        fitTokenDistribution(d.filter(col("doc_id") % 2 === 0), "text"),
        DriftVocabCap).persist(),
      "source", "text")
  }

  val oracleQ89: String = {
    val e = "CAST(t_s AS DOUBLE)*CAST(g_t AS DOUBLE)/CAST(g AS DOUBLE)"
    s"""WITH fit AS (
       |  SELECT token, g_t FROM (
       |    SELECT token, CAST(count(*) AS BIGINT) AS g_t FROM (
       |      SELECT unnest(string_split(text, ' ')) AS token
       |      FROM documents WHERE doc_id % 2 = 0) GROUP BY token
       |    ORDER BY g_t DESC, token ASC LIMIT $DriftVocabCap)),
       |st AS (
       |  SELECT source, token, CAST(count(*) AS BIGINT) AS o FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS token
       |    FROM documents WHERE doc_id % 2 = 1) GROUP BY 1, 2),
       |src AS (SELECT source, CAST(sum(o) AS BIGINT) AS t_s
       |        FROM st GROUP BY 1),
       |tot AS (SELECT CAST(sum(g_t) AS BIGINT) AS g FROM fit),
       |terms AS (
       |  SELECT st.source, o, g_t, t_s,
       |    CASE WHEN g_t IS NOT NULL THEN
       |      CAST(round(((CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e)
       |        / ($e) - $e) * 1000000.0) AS BIGINT) ELSE 0 END AS term_fp
       |  FROM st LEFT JOIN fit USING (token)
       |       JOIN src USING (source) CROSS JOIN tot)
       |SELECT source, min(t_s) AS n_tokens,
       |  CAST(sum(CASE WHEN g_t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unseen_tokens,
       |  CAST(sum(CASE WHEN g_t IS NULL THEN o ELSE 0 END) AS BIGINT)
       |    AS unseen_mass,
       |  CAST(sum(term_fp) + min(t_s)*1000000 AS BIGINT) AS chi2_micro
       |FROM terms GROUP BY source ORDER BY source""".stripMargin
  }

  // =====================================================================
  // q86: temperature-sampling weights (sqrt-smoothed source mixture)
  // =====================================================================

  /** Per-source sampling weights under TEMPERATURE smoothing with
    * α = 1/2 — the standard multilingual/source re-balancing (sample
    * source s with probability ∝ p_s^α; α<1 up-weights small sources,
    * the mBERT/XLM-R exponentiated-smoothing scheme). α is FIXED at 1/2
    * because p^0.5 = sqrt(p) is an exactly-specified IEEE operation —
    * the one temperature that needs no transcendental pow/exp/ln, so the
    * weights are cross-engine bit-exact (league determinism rule; other
    * temperatures compose the same pipeline with pow at the caller's
    * accuracy risk).
    *
    * Determinism of the normalizer: each sqrt is quantized to nano units
    * FIRST (round(sqrt(p_s)·1e9) as BIGINT) and the normalizer is the
    * INTEGER sum of those — never a floating sum over sources, whose
    * result would depend on accumulation order. The final weight and the
    * document quota are then pure integer ratios: w_micro = s_fp·1e6 DIV
    * total_fp, doc_quota = s_fp·n_docs DIV total_fp.
    *
    * Output: (source, n_tokens, n_docs, w_micro, doc_quota).
    *
    * Scale: one two-phase aggregate to (source, t_s, n_docs) —
    * |sources| rows — then all arithmetic happens on that tiny frame
    * against a broadcast 1-row total; nothing corpus-sized moves after
    * the count. */
  private[queries] def temperatureWeightsOf(d: DataFrame, strata: String,
      text: String): DataFrame = {
    val src = d.select(col(strata).as("source"),
      size(split(col(text), " ")).cast("long").as("n"))
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_docs"))
    val sFp = round(sqrt(col("n_tokens").cast("double") /
      col("g").cast("double")) * lit(1000000000.0)).cast("long")
    val tot = src.agg(sum(col("n_tokens")).as("g"),
      sum(col("n_docs")).as("all_docs"))
    src.crossJoin(broadcast(tot))
      .withColumn("s_fp", sFp)
      .withColumn("total_fp",
        sum(col("s_fp")).over(Window.partitionBy(lit(1))))
      .select(col("source"), col("n_tokens"), col("n_docs"),
        // integer DIV, never float `/`: s_fp·1e6 exceeds 2^53, a double
        // quotient would round before the floor
        expr("(s_fp * 1000000) div total_fp").cast("long").as("w_micro"),
        expr("(s_fp * all_docs) div total_fp").cast("long").as("doc_quota"))
      .orderBy("source")
  }

  def q86TemperatureWeights(s: SparkSession, dir: String): DataFrame =
    temperatureWeightsOf(docs(s, dir), "source", "text")

  val oracleQ86: String =
    """WITH src AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS g,
      |               CAST(sum(n_docs) AS BIGINT) AS all_docs FROM src),
      |fp AS (
      |  SELECT source, n_tokens, n_docs, all_docs,
      |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)/CAST(g AS DOUBLE))
      |      * 1000000000.0) AS BIGINT) AS s_fp
      |  FROM src CROSS JOIN tot),
      |nrm AS (SELECT CAST(sum(s_fp) AS BIGINT) AS total_fp FROM fp)
      |SELECT source, n_tokens, n_docs,
      |  (s_fp * 1000000) // total_fp AS w_micro,
      |  (s_fp * all_docs) // total_fp AS doc_quota
      |FROM fp CROSS JOIN nrm ORDER BY source""".stripMargin

  // =====================================================================
  // q99: DSIR-style importance selection (target-vs-raw unigram ratio)
  // =====================================================================

  /** FIT half of the importance selector: a (token, c_t, c_r) count
    * table — each token's occurrence count under the TARGET corpus (the
    * small, high-quality set the selection should steer toward) and
    * under the RAW pool (the large crawl being filtered). The Data
    * Selection via Importance Resampling recipe (Xie et al., NeurIPS
    * 2023): score each raw document by how much more likely its
    * features are under the target distribution than under the raw one,
    * then keep the importance-heavy slice. This is the persistable
    * serving artifact (parquet round-trip scores bit-identically —
    * spec'd): fit once on target+pool, score every later crawl batch.
    *
    * The full-outer join keeps single-sided tokens with an explicit 0
    * on the missing side (they carry the strongest signal), and makes
    * the model SELF-CONTAINED: N_t = Σc_t, N_r = Σc_r, V = row count,
    * so [[importanceScoreOf]] needs no side-channel totals.
    *
    * Scale: two token-keyed two-phase aggregates (hot tokens collapse
    * map-side) plus one |vocab|-keyed full-outer join — model-sized,
    * never corpus-sized. */
  def fitImportanceModel(target: DataFrame, raw: DataFrame,
      text: String): DataFrame = {
    def counts(d: DataFrame, as: String) =
      d.select(explode(split(col(text), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as(as))
    counts(target, "c_t").join(counts(raw, "c_r"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_t"), lit(0L)).as("c_t"),
        coalesce(col("c_r"), lit(0L)).as("c_r"))
  }

  /** APPLY half: per-document importance of a batch under a fitted
    * model. Per token, the add-1-smoothed likelihood ratio as a
    * fixed-point integer
    * `w_fp = round(1e6 · ((c_t+1)/(N_t+V)) / ((c_r+1)/(N_r+V)))`
    * (> 1e6 ⇔ the token is more probable under the target); per
    * document the exact BIGINT sum and the once-rounded mean of those
    * ratios, plus `keep = mean_w_fp >= keepMinRatioFp` — the selection
    * verdict (default: keep documents that look more target-like than
    * raw-like on average). The arithmetic-mean ratio is the LOG-FREE
    * surrogate for DSIR's summed log-ratio — the same determinism trade
    * q54 makes for BM25 (sums of BIGINTs are order-independent; ln is
    * not IEEE-exactly specified cross-engine). For a top-share policy
    * instead of a fixed threshold, compose with
    * [[fitPercentileThresholds]] over `mean_w_fp`.
    *
    * Tokens unseen at fit time (a serving batch's novelties) flow
    * through the same smoothed expression with c_t = c_r = 0 — the
    * neutral-prior ratio (N_r+V)/(N_t+V) — rather than erroring or
    * dropping mass. Zero-token documents score (0, 0, 0, keep=false).
    *
    * 64-bit range contract (the family-wide exactness rule): sum_w_fp
    * is exact while Σ_doc tf·w_fp < 2^63 ≈ 9.2·10^18 — i.e. ~9·10^12
    * micro-ratio-units per document. w_fp ≈ 1e6 × (the token's
    * target-vs-raw probability ratio); a document would need ~10^7
    * occurrences of a 10^6-ratio token (a target-exclusive token seen
    * ~N_t times against a single raw occurrence) to wrap. Degenerate
    * fits — a few-token target against a trillion-token pool — can
    * manufacture such ratios; keep the target a non-vanishing sample
    * (≥ ~1e-6 of the pool mass) and the contract holds with orders of
    * magnitude to spare. On overflow Spark (non-ANSI) would wrap while
    * DuckDB's HUGEINT sum errors on the BIGINT cast — loud on the
    * oracle side, which is the side the gate would catch.
    *
    * Scale: batch-proportional. Occurrences pre-aggregate to
    * (doc_id, token, tf) BEFORE the model join — hot tokens become one
    * row per document, so the token-keyed equi-join (AQE broadcasts the
    * model while it fits; shuffled-hash beyond) never sees raw
    * occurrence volume; totals ride one broadcast row; the corpus never
    * self-joins. */
  def importanceScoreOf(batch: DataFrame, model: DataFrame, text: String,
      keepMinRatioFp: Long = 1000000L): DataFrame = {
    val tot = model.agg(sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"),
      count(lit(1)).as("v"))
    val wFp = round(
      lit(1000000.0) * (coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double")
        * (col("n_r") + col("v")).cast("double")
        / ((coalesce(col("c_r"), lit(0L)) + lit(1L)).cast("double")
          * (col("n_t") + col("v")).cast("double"))).cast("long")
    val scored = batch
      .select(col("doc_id"), explode(split(col(text), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .join(model, Seq("token"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"), wFp.as("w_fp"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("w_fp")).as("sum_w_fp"))
    val mean = coalesce(round(col("sum_w_fp").cast("double") /
      col("n_tokens").cast("double")).cast("long"), lit(0L))
    batch.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_w_fp"), lit(0L)).as("sum_w_fp"),
        mean.as("mean_w_fp"),
        (mean >= lit(keepMinRatioFp)).as("keep"))
  }

  /** Target slice of the oracle-checked q99 binding: every 19th doc_id
    * (~5% of the corpus) plays the high-quality target set, the rest is
    * the raw pool — the deterministic stand-in for "target = curated
    * reference corpus" that both engines can replay. */
  val DsirTargetMod = 19L

  /** Bounded memo of the cached importance model per (session, dir) —
    * the [[TextDedup]] clusterMemo pattern: without it every Verify/Bench
    * invocation (Bench runs each query 3×) persisted another |vocab|-row
    * frame for the session's lifetime. Eviction and lost build races
    * unpersist the superseded frame ([[BoundedMemo]], r13 advisor). */
  private val dsirModelMemo =
    new BoundedMemo[(SparkSession, String), DataFrame](8, _.unpersist(false))

  /** Oracle-checked binding: fit on the %19 target/raw split of
    * `documents`, score the raw pool, keep the target-leaning docs. */
  def q99DsirSelect(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val target = d.filter(col("doc_id") % DsirTargetMod === 0)
    val raw = d.filter(col("doc_id") % DsirTargetMod =!= 0)
    // cache the model (|vocab| rows): it feeds both the totals aggregate
    // and the scoring join — without the cache the two corpus-wide count
    // aggregates execute once per consumer; memoized per (session, dir)
    // so repeated runs reuse ONE cached copy instead of accumulating
    val model = dsirModelMemo.getOrBuild((s, dir))(
      fitImportanceModel(target, raw, "text").persist())
    importanceScoreOf(raw, model, "text")
      .orderBy("doc_id")
  }

  val oracleQ99: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |tgt AS (SELECT token, CAST(count(*) AS BIGINT) AS c_t FROM toks
       |        WHERE doc_id % $DsirTargetMod = 0 GROUP BY token),
       |raw AS (SELECT token, CAST(count(*) AS BIGINT) AS c_r FROM toks
       |        WHERE doc_id % $DsirTargetMod <> 0 GROUP BY token),
       |model AS (
       |  SELECT COALESCE(t.token, r.token) AS token,
       |         COALESCE(c_t, 0) AS c_t, COALESCE(c_r, 0) AS c_r
       |  FROM tgt t FULL OUTER JOIN raw r ON t.token = r.token),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
       |               CAST(sum(c_r) AS BIGINT) AS n_r,
       |               CAST(count(*) AS BIGINT) AS v FROM model),
       |w AS (SELECT token,
       |  CAST(round((1000000.0 * CAST(c_t + 1 AS DOUBLE)
       |      * CAST(n_r + v AS DOUBLE))
       |    / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + v AS DOUBLE)))
       |    AS BIGINT) AS w_fp
       |  FROM model CROSS JOIN tot),
       |scored AS (
       |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(w_fp) AS BIGINT) AS sum_w_fp
       |  FROM toks o JOIN w USING (token) WHERE o.doc_id % $DsirTargetMod <> 0
       |  GROUP BY o.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(n_tokens, 0) AS n_tokens,
       |  COALESCE(sum_w_fp, 0) AS sum_w_fp,
       |  COALESCE(CAST(round(CAST(sum_w_fp AS DOUBLE)
       |    / CAST(n_tokens AS DOUBLE)) AS BIGINT), 0) AS mean_w_fp,
       |  COALESCE(CAST(round(CAST(sum_w_fp AS DOUBLE)
       |    / CAST(n_tokens AS DOUBLE)) AS BIGINT), 0) >= 1000000 AS keep
       |FROM documents d LEFT JOIN scored USING (doc_id)
       |WHERE d.doc_id % $DsirTargetMod <> 0 ORDER BY doc_id""".stripMargin

  // =====================================================================
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q65_winnow_fp" -> q65Winnow _,
    "q66_snapshot_diff" -> q66SnapshotDiff _,
    "q67_token_budget" -> q67TokenBudget _,
    "q68_percentile_gate" -> q68PercentileGate _,
    "q71_balanced_sample" -> q71BalancedSample _,
    "q72_rare_tokens" -> q72RareTokens _,
    "q73_winnow_match" -> q73WinnowMatch _,
    "q85_source_divergence" -> q85SourceDivergence _,
    "q86_temperature_weights" -> q86TemperatureWeights _,
    "q89_token_drift" -> q89TokenDrift _,
    "q99_dsir_select" -> q99DsirSelect _,
  )

  val oracle: Map[String, String] = Map(
    "q65_winnow_fp" -> oracleQ65,
    "q66_snapshot_diff" -> oracleQ66,
    "q67_token_budget" -> oracleQ67,
    "q68_percentile_gate" -> oracleQ68,
    "q71_balanced_sample" -> oracleQ71,
    "q72_rare_tokens" -> oracleQ72,
    "q73_winnow_match" -> oracleQ73,
    "q85_source_divergence" -> oracleQ85,
    "q86_temperature_weights" -> oracleQ86,
    "q89_token_drift" -> oracleQ89,
    "q99_dsir_select" -> oracleQ99,
  )
}
