package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data corpus preparation beyond scoring/dedup ([[TextDedup]]):
  * the operators that turn a cleaned corpus into model-ready input —
  * chunking, distinctive-term extraction, sequence packing, and LM-based
  * fluency scoring. All four follow the repo's determinism contract
  * (md5-only hashing, exact integer counts, IEEE-exact arithmetic — add /
  * subtract / multiply / divide only, no transcendentals — and a single
  * `round` per reported column) so every query has a bit-exact DuckDB
  * oracle twin.
  *
  * Scale notes are on each operator; none of them introduces a plan shape
  * the dedup family hasn't already proven at 10× replication
  * (BENCH_NOTES) — pure projections, token-keyed two-phase aggregates,
  * bounded-vocab broadcast joins, and per-stratum windows.
  */
object TextPipeline {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Whitespace tokens (documents are single-space separated). */
  private val toks: Column = split(col("text"), " ")

  // =====================================================================
  // q53: sliding-window document chunking (context-length preparation)
  // =====================================================================

  /** Chunk length / stride of the oracle-checked binding: 64-token
    * windows every 48 tokens (25% overlap) — the shape embedding and
    * context-window pipelines use. */
  val ChunkLen = 64
  val ChunkStride = 48

  /** Split each document into fixed-token-count sliding windows: starts
    * at 1, 1+stride, 1+2·stride, … ≤ n_tokens, each chunk `chunkLen`
    * tokens (the tail chunks run short instead of re-reading earlier
    * tokens — every token is covered, chunk boundaries are a pure
    * function of the token count). Output one row per chunk with its
    * token count and an md5 content hash (the id downstream chunk-level
    * dedup/embedding joins on).
    *
    * Scale: explode of an arithmetic sequence + per-row slice/hash — a
    * pure map with ~n/stride output rows per doc, zero shuffle. At
    * 100 TB this is the canonical "fan out rows, never fan in" stage;
    * the final ORDER BY exists only for the oracle's determinism. */
  private[queries] def chunksOf(d: DataFrame, chunkLen: Int,
      stride: Int): DataFrame = {
    val w = col("w")
    d.select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), w,
        explode(sequence(lit(1), greatest(size(w), lit(1)), lit(stride)))
          .as("start"))
      .select(
        col("doc_id"),
        floor((col("start") - 1) / lit(stride)).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_token"),
        size(slice(w, col("start"), lit(chunkLen))).cast("long")
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(w, col("start"), lit(chunkLen))))
          .as("chunk_hash"))
  }

  def q53DocChunks(s: SparkSession, dir: String): DataFrame =
    chunksOf(docs(s, dir), ChunkLen, ChunkStride)
      .orderBy("doc_id", "chunk_idx")

  val oracleQ53: String =
    s"""SELECT doc_id,
       |  CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_token,
       |  CAST(len(list_slice(w, start, start + ${ChunkLen - 1})) AS BIGINT)
       |    AS n_chunk_tokens,
       |  md5(array_to_string(list_slice(w, start, start + ${ChunkLen - 1}), ' '))
       |    AS chunk_hash
       |FROM (
       |  SELECT doc_id, w,
       |    unnest(range(1, greatest(len(w), 1) + 1, $ChunkStride)) AS start
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // =====================================================================
  // q54: distinctive-term top-k per document (TF-IDF family)
  // =====================================================================

  /** Top-`k` most distinctive terms per document, scored by
    * tf · (N − df + 0.5)/(df + 0.5) — the BM25 idf ratio WITHOUT the log.
    * The log is monotone, so per-document ranking is identical to BM25
    * idf ranking, and dropping it keeps the score inside IEEE-exact
    * arithmetic (league rule: `ln` is not exactly specified across
    * engines; +,−,×,÷ are — see Relational's fpsum scaladoc).
    *
    * Scale: tf is a two-phase hash aggregate on (doc_id, token); df is
    * an aggregate OF tf (|vocab| rows) joined back WITHOUT a broadcast
    * hint — AQE broadcasts it while it fits (as here) and degrades to a
    * shuffled hash join when a web-scale vocabulary outgrows the
    * broadcast limit, instead of failing a forced build; N (1 row) is
    * always broadcast. The per-doc top-k is `row_number ≤ k`, which
    * Spark ≥3.5 plans with WindowGroupLimit: each map task keeps only
    * its local top-k per doc before the window shuffle (plan-asserted). */
  private[queries] def tfidfTopKOf(d: DataFrame, k: Int): DataFrame = {
    val tf = d.select(col("doc_id"), explode(toks).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nTbl = d.select(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") *
      ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfTbl, "token")
      .crossJoin(broadcast(nTbl))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("score"), 6).as("score"), col("rank"))
  }

  def q54TfidfTopK(s: SparkSession, dir: String): DataFrame =
    tfidfTopKOf(docs(s, dir), 5).orderBy("doc_id", "rank")

  val oracleQ54: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, token, tf, df, round(score, 6) AS score, rank FROM (
      |  SELECT t.doc_id, t.token, t.tf, d.df,
      |    CAST(t.tf AS DOUBLE) *
      |      ((CAST(n.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
      |       (CAST(d.df AS DOUBLE) + 0.5)) AS score,
      |    CAST(row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY CAST(t.tf AS DOUBLE) *
      |        ((CAST(n.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
      |         (CAST(d.df AS DOUBLE) + 0.5)) DESC, t.token ASC) AS BIGINT)
      |      AS rank
      |  FROM tf t JOIN df d USING (token) CROSS JOIN n)
      |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  // =====================================================================
  // q55: sequence packing into token-budget bins (batch construction)
  // =====================================================================

  /** Tokens per packed training sequence in the oracle-checked binding. */
  val PackBudget = 2048L

  /** Pack documents into contiguous token-budget bins, per stratum:
    * within each `strata` value, order documents by `(md5(doc_id),
    * doc_id)` — deterministic pseudo-random, so bins are content-mixed —
    * and assign `bin_id = floor(running_tokens_before / budget)`
    * (contiguous fill; a document straddling a boundary starts the next
    * bin's worth — bins can overflow by at most one document, never
    * underfill). `bin_offset` is the document's token position inside
    * its bin.
    *
    * Scale: ONE shuffle (the per-stratum window); the running sum is a
    * single pass per stratum partition. Packing is inherently sequential
    * WITHIN a bin, so the parallelism unit is the stratum — at 100 TB
    * you pack per (source × hash-shard) so each partition streams once;
    * there is no global coordination by construction. */
  private[queries] def packOf(d: DataFrame, strata: String,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(strata).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.select(col("doc_id"), col(strata),
        size(toks).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col(strata), col("n_tokens"),
        floor(col("cum_before") / lit(budget)).cast("long").as("bin_id"),
        (col("cum_before") % budget).as("bin_offset"))
  }

  def q55SeqPacking(s: SparkSession, dir: String): DataFrame =
    packOf(docs(s, dir), "source", PackBudget).orderBy("doc_id")

  val oracleQ55: String =
    s"""SELECT doc_id, source, n_tokens,
       |  CAST(cum_before // $PackBudget AS BIGINT) AS bin_id,
       |  CAST(cum_before % $PackBudget AS BIGINT) AS bin_offset
       |FROM (
       |  SELECT doc_id, source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS cum_before
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      md5(CAST(doc_id AS VARCHAR)) AS h
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q56: corpus bigram-LM fluency scoring (model-based quality signal)
  // =====================================================================

  /** Score each document under a bigram language model fitted on the
    * corpus itself: for every bigram occurrence (a,b), its conditional
    * probability P(b|a) = C(a,b)/C(a,·) as a fixed-point integer
    * `round(1e6 · C(ab)/C(a·))`; per document, the count, the exact
    * integer SUM, and the rounded mean of those fixed-point
    * probabilities. Low mean ⇒ improbable token transitions — the
    * perplexity-style fluency signal, kept log-free so both engines
    * compute it bit-identically (sums of BIGINTs are order-independent,
    * unlike sums of doubles).
    *
    * Scale: the model (bigram counts) is a token-keyed two-phase hash
    * aggregate — hot bigrams collapse map-side; prefix counts are a
    * second, smaller aggregate OF the model, not of the corpus. Scoring
    * re-joins the corpus's bigram occurrences to the model on the bigram
    * key: a plain equi-join that AQE sizes (model ≤ |vocab|² but
    * Zipf-light; broadcast when small, shuffled-hash when not) — never a
    * corpus self-join. */
  /** One row per bigram OCCURRENCE (not distinct — frequency is signal). */
  private def bigramOccOf(d: DataFrame): DataFrame = {
    val w = col("w")
    d.select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        explode(zip_with(slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
  }

  /** FIT the bigram model on a corpus: (bg, cnt_bg, cnt_pre) — each
    * bigram's occurrence count plus its prefix-token total, pre-joined so
    * scoring needs a single equi-join. This is the artifact a production
    * pipeline persists (write to parquet, score every later batch against
    * it — the fit-once/score-daily split; `TextPipelineSpec` pins that a
    * parquet round-trip of the model scores bit-identically). */
  def fitBigramModel(d: DataFrame): DataFrame = {
    val model = bigramOccOf(d).groupBy("bg").agg(count(lit(1)).as("cnt_bg"))
    val prefix = model
      .groupBy(substring_index(col("bg"), " ", 1).as("pre"))
      .agg(sum(col("cnt_bg")).as("cnt_pre"))
    model.join(prefix, substring_index(col("bg"), " ", 1) === col("pre"))
      .select(col("bg"), col("cnt_bg"), col("cnt_pre"))
  }

  /** Score any (doc_id, text) frame under a fitted model. Bigrams absent
    * from the model score 0 (the OOV floor — an unseen transition is
    * maximally surprising) but still count toward `n_bigrams`, so a
    * held-out document's mean degrades with OOV rate as it should. */
  private[queries] def scoreUnderModel(d: DataFrame,
      model: DataFrame): DataFrame = {
    val probFp = coalesce(
      round((lit(1e6) * col("cnt_bg").cast("double")) /
        col("cnt_pre").cast("double")).cast("long"),
      lit(0L))
    val scored = bigramOccOf(d)
      .join(model, Seq("bg"), "left")
      .select(col("doc_id"), probFp.as("p_fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fp")).as("sum_p_fp"))
    d.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_p_fp"), lit(0L)).as("sum_p_fp"),
        coalesce(
          round(col("sum_p_fp").cast("double") /
            col("n_bigrams").cast("double")).cast("long"),
          lit(0L)).as("mean_p_fp"))
  }

  private[queries] def bigramLmScoreOf(d: DataFrame): DataFrame =
    scoreUnderModel(d, fitBigramModel(d))

  def q56BigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLmScoreOf(docs(s, dir)).orderBy("doc_id")

  val oracleQ56: String =
    """WITH occ AS (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))])
      |    AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |model AS (SELECT bg, count(*) AS cnt_bg FROM occ GROUP BY bg),
      |prefix AS (
      |  SELECT split_part(bg, ' ', 1) AS pre, sum(cnt_bg) AS cnt_pre
      |  FROM model GROUP BY 1),
      |scored AS (
      |  SELECT o.doc_id, count(*) AS n_bigrams,
      |    sum(CAST(round((1000000.0 * CAST(m.cnt_bg AS DOUBLE)) /
      |      CAST(p.cnt_pre AS DOUBLE)) AS BIGINT)) AS sum_p_fp
      |  FROM occ o
      |  JOIN model m USING (bg)
      |  JOIN prefix p ON split_part(o.bg, ' ', 1) = p.pre
      |  GROUP BY o.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(s.sum_p_fp, 0) AS BIGINT) AS sum_p_fp,
      |  CAST(coalesce(CAST(round(CAST(s.sum_p_fp AS DOUBLE) /
      |    CAST(s.n_bigrams AS DOUBLE)) AS BIGINT), 0) AS BIGINT) AS mean_p_fp
      |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // =====================================================================
  // q57: PII detection + redaction (compliance scrubbing)
  // =====================================================================

  /** The four scrub patterns, shared by the Spark and DuckDB sides.
    * Written to the RE2 ∩ java.util.regex common subset: character
    * classes, bounded repetition, alternation — no backreferences, no
    * lookaround, `[0-9]` over `\d` — so both engines match identically. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", "[0-9]{4}(-[0-9]{4}){3}", "<CARD>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))

  /** Detect and redact PII over any (doc_id, text) frame: per-pattern
    * match counts (counted independently, BEFORE any replacement, so
    * counts don't depend on scrub order) plus the md5 of the fully
    * redacted text (redaction applies the patterns in [[PiiPatterns]]
    * order — email, card, SSN, then IPv4 — so the output is one
    * deterministic string; the hash keeps the oracle row narrow).
    * Scale: pure per-row regex projection — zero shuffle, the same
    * map-over-the-scan shape as q50. */
  /** The scrubbed text itself (patterns applied in [[PiiPatterns]]
    * order) — what a prep pipeline carries forward; q57 reports only its
    * hash to keep the oracle row narrow. */
  def redactedTextCol(text: Column): Column =
    PiiPatterns.foldLeft(text) {
      case (c, (_, pat, repl)) => regexp_replace(c, lit(pat), lit(repl))
    }

  private[queries] def piiRedactOf(d: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col("text"), lit(pat)).cast("long").as(s"n_${name}s")
    }
    d.select(col("doc_id") +: counts :+
      md5(redactedTextCol(col("text"))).as("redacted_hash"): _*)
  }

  /** Oracle-checked binding: the corpus has no natural PII (word-salad
    * text), so the QUERY deterministically injects synthetic PII derived
    * from the stable doc_id before scrubbing — both engines derive the
    * same injected text, so the oracle exercises real matches (not
    * all-zero counts) while [[piiRedactOf]] stays a genuine redactor for
    * user corpora. */
  def q57PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val seeded = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        lit(" from 10."), col("doc_id") % 200, lit(".0.7"),
        lit(" card 4111-1111-1111-"), lpad(col("doc_id") % 10000, 4, "0"),
        lit(" ssn 123-45-"), lpad(col("doc_id") % 10000, 4, "0")
      ).as("text"))
    piiRedactOf(seeded).orderBy("doc_id")
  }

  val oracleQ57: String = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_${name}s"
    }.mkString(",\n  ")
    val redacted = PiiPatterns.foldLeft("text") {
      case (c, (_, pat, repl)) => s"regexp_replace($c, '$pat', '$repl', 'g')"
    }
    s"""SELECT doc_id,
       |  $counts,
       |  md5($redacted) AS redacted_hash
       |FROM (
       |  SELECT doc_id, text || ' contact user' || doc_id ||
       |    '@mail.example.com' || ' from 10.' || (doc_id % 200) || '.0.7' ||
       |    ' card 4111-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |    ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // =====================================================================
  // q58: span-level exact-substring dedup (sub-document duplication)
  // =====================================================================

  /** Span length of the oracle-checked binding: 20-token exact runs, the
    * published threshold for training-corpus substring dedup. */
  val SpanLen = 20

  /** Find every `spanLen`-token run that occurs MORE THAN ONCE anywhere
    * in the corpus — the sub-document duplication (boilerplate headers,
    * license blocks, quoted passages) that document-level dedup cannot
    * see because the containing documents differ. One row per occurrence
    * of a duplicated span: its position, corpus-wide occurrence count,
    * and whether this occurrence is the canonical (first by (doc_id,
    * pos)) copy — downstream removal keeps canonical spans and cuts the
    * rest.
    *
    * Scale: spans explode one row per token position (narrow rows — id,
    * pos, 128-bit key). The per-span count AND the canonical first
    * occurrence come out of ONE partial-aggregable span-key groupBy
    * (`count` + `min(struct(doc_id, pos))` — struct comparison is
    * lexicographic, so the min IS "first by (doc_id, pos)"), deliberately
    * NOT a window: a window has no partial aggregation, so a license-block
    * span occurring 10^7 times corpus-wide would land every occurrence in
    * one sorted window partition on one task. The map-side combine keeps
    * any hot span to one row per task; the `count > 1` filter then drops
    * the overwhelmingly-unique span mass BEFORE the join-back, which AQE
    * broadcasts when the duplicated-span table measures small and
    * skew-splits otherwise. Never an all-pairs comparison, and safe for
    * documents of ANY length (no arithmetic id/pos encoding).
    *
    * The internal grouping key is a 128-bit PAIR of xxhash64 values over
    * the token slice, not the output md5: fixed-width long keys make the
    * hash aggregate and its shuffle rows 16 bytes instead of a 32-char
    * string (measured 1.17 s → 0.90 s at sf0.1 with the deferred md5
    * below), and the pair keeps the random-collision class at md5 level
    * (~2^-128). Seeds go FIRST (`xxhash64(lit(k), slice)`): xxhash64
    * folds arguments left-to-right, so `xxhash64(slice, lit(k))` would
    * make both pair halves functions of the same 64-bit hash(slice)
    * prefix state and a single 64-bit prefix collision would collide the
    * whole pair. */
  private def spanKeyRows(d: DataFrame, spanLen: Int): DataFrame = {
    val w = col("w")
    val sl = slice(w, col("pos"), lit(spanLen))
    d.select(col("doc_id"), toks.as("w"))
      .filter(size(w) >= spanLen)
      .select(col("doc_id"), w,
        explode(sequence(lit(1), size(w) - (spanLen - 1))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(lit(1L), sl).as("x1"), xxhash64(lit(2L), sl).as("x2"))
  }

  /** The hash-free half of [[duplicatedSpansOf]]: every duplicated-span
    * occurrence as (doc_id, span_start, n_occurrences, is_canonical),
    * WITHOUT the md5 span_hash column — consumers that only act on
    * positions (q92's scrub) skip the md5 attachment entirely. */
  private[queries] def duplicatedSpanHitsOf(d: DataFrame,
      spanLen: Int): DataFrame = {
    val spans = spanKeyRows(d, spanLen)
    val dup = spans.groupBy("x1", "x2")
      .agg(count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col("pos"))).as("first_occ"))
      .filter(col("n_occurrences") > 1)
    spans.join(dup, Seq("x1", "x2"))
      .select(col("doc_id"), col("pos").as("span_start"),
        col("n_occurrences"),
        when(col("doc_id") === col("first_occ.doc_id") &&
          col("pos") === col("first_occ.pos"), lit(1L)).otherwise(lit(0L))
          .as("is_canonical"))
  }

  private[queries] def duplicatedSpansOf(d: DataFrame,
      spanLen: Int): DataFrame = {
    // md5 is the REPORT column (the cross-engine hash family), but it is
    // deferred to the join survivors: re-slice the few duplicated
    // occurrences against their source docs instead of digesting every
    // span in the corpus (duplicated spans are the rare case by
    // construction). AQE broadcasts the survivor side of this join.
    val hits = duplicatedSpanHitsOf(d, spanLen)
    val dtoks = d.select(col("doc_id"), toks.as("w"))
    hits.join(dtoks, Seq("doc_id"))
      .select(col("doc_id"), col("span_start"),
        md5(concat_ws(" ", slice(col("w"), col("span_start").cast("int"),
          lit(spanLen)))).as("span_hash"),
        col("n_occurrences"), col("is_canonical"))
  }

  def q58SpanDedup(s: SparkSession, dir: String): DataFrame =
    duplicatedSpansOf(docs(s, dir), SpanLen)
      .orderBy("doc_id", "span_start", "span_hash")

  val oracleQ58: String =
    s"""WITH sp AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(list_slice(w, pos, pos + ${SpanLen - 1}), ' '))
       |      AS span_hash
       |  FROM (
       |    SELECT doc_id, w,
       |      unnest(range(1, len(w) - ${SpanLen - 2})) AS pos
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |    WHERE len(w) >= $SpanLen)),
       |win AS (
       |  SELECT doc_id, pos, span_hash,
       |    count(*) OVER (PARTITION BY span_hash) AS n_occurrences,
       |    row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, pos)
       |      AS rn
       |  FROM sp)
       |SELECT doc_id, CAST(pos AS BIGINT) AS span_start, span_hash,
       |  CAST(n_occurrences AS BIGINT) AS n_occurrences,
       |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
       |FROM win WHERE n_occurrences > 1
       |ORDER BY doc_id, pos, span_hash""".stripMargin

  // =====================================================================
  // q92: corpus-wide span scrub (exact-substring dedup as a transform)
  // =====================================================================

  /** Remove every NON-CANONICAL occurrence of a duplicated
    * `spanLen`-token run — q58's report turned into the published
    * exact-substring-dedup TRANSFORM (Lee et al. '21, "Deduplicating
    * Training Data Makes Language Models Better"): the first occurrence
    * by (doc_id, pos) of each duplicated span survives, every other
    * occurrence's token positions are excised, and the text is rebuilt
    * from the surviving tokens in order. Overlapping cut spans union
    * naturally — POSITIONS are cut, not ranges, so no interval merge is
    * ever needed. Output: (doc_id, n_tokens, n_kept_tokens,
    * n_cut_tokens, clean_hash = md5 of the rebuilt text) — the hash
    * stands in for the text like q84's; a caller keeps the rebuild by
    * dropping the md5.
    *
    * Scale: the cut set rides q58's skew-safe span aggregate (see
    * [[duplicatedSpanHitsOf]] — partial-aggregable, a 10⁷-occurrence
    * license block collapses map-side, never one task's window). Cuts
    * explode to (doc_id, pos) pairs and the corpus to one narrow
    * (doc_id, pos, token) row per token; the excision is a left-anti
    * join on the UNIQUE key (doc_id, pos) — uniform by construction, a
    * hot key cannot exist; the rebuild is one per-doc aggregate whose
    * state is bounded by the document's own length (the bound the text
    * column itself already imposes — `array_sort(collect_list(struct))`
    * restores token order without a window). Token text crosses the
    * wire twice (anti-join, rebuild) — the price of linearity: the
    * zero-shuffle HOF alternative (q84's row-local shape with the
    * per-doc cut array joined back) tests every token against every cut
    * interval and goes quadratic on a pathological fully-duplicated
    * document, so the exploded form is the one that survives
    * adversarial corpora. */
  private[queries] def spanScrubOf(d: DataFrame, spanLen: Int): DataFrame = {
    val cuts = duplicatedSpanHitsOf(d, spanLen)
      .filter(col("is_canonical") === 0L)
      .select(col("doc_id"),
        explode(sequence(col("span_start"),
          col("span_start") + (spanLen - 1))).as("pos"))
      .distinct()
    val tokens = d.select(col("doc_id"), posexplode(toks).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("w"))
    val rebuilt = tokens.join(cuts, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")))).as("clean_hash"))
    d.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
        (col("n_tokens") - coalesce(col("n_kept_tokens"), lit(0L)))
          .as("n_cut_tokens"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
  }

  def q92SpanScrub(s: SparkSession, dir: String): DataFrame =
    spanScrubOf(docs(s, dir), SpanLen).orderBy("doc_id")

  val oracleQ92: String =
    s"""WITH sp AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(list_slice(w, pos, pos + ${SpanLen - 1}), ' '))
       |      AS span_hash
       |  FROM (
       |    SELECT doc_id, w,
       |      unnest(range(1, len(w) - ${SpanLen - 2})) AS pos
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |    WHERE len(w) >= $SpanLen)),
       |win AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY span_hash) AS n_occ,
       |    row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, pos)
       |      AS rn
       |  FROM sp),
       |cuts AS (
       |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
       |  FROM (SELECT doc_id, unnest(range(pos, pos + $SpanLen)) AS p
       |        FROM win WHERE n_occ > 1 AND rn > 1)),
       |tok AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, w[pos] AS tk
       |  FROM (
       |    SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |reb AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_tokens,
       |    md5(coalesce(string_agg(tk, ' ' ORDER BY pos), '')) AS clean_hash
       |  FROM tok t
       |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
       |                    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
       |  GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(r.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       |  CAST(len(d.w) - coalesce(r.n_kept_tokens, 0) AS BIGINT)
       |    AS n_cut_tokens,
       |  coalesce(r.clean_hash, md5('')) AS clean_hash
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
       |LEFT JOIN reb r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // =====================================================================
  // q59: URL extraction + domain-blocklist filtering (C4-style)
  // =====================================================================

  /** URL / domain-capture patterns, RE2 ∩ Java subset like
    * [[PiiPatterns]]. Paths run to the next space (documents are
    * space-tokenized). */
  val UrlPattern = "https?://[A-Za-z0-9.-]+(/[^ ]*)?"
  val DomainPattern = "https?://([A-Za-z0-9.-]+)"

  /** Extract every URL from each document, resolve its domain, and
    * count hits against a `blocklist` frame (one `domain` column) —
    * the C4-style source filter, with the verdict (`keep` = zero
    * blocked URLs) and the offending domain surfaced for audit.
    *
    * Scale: URL extraction is a pure projection; domains explode one
    * row per URL (tiny vs token explodes) and probe the BROADCAST
    * blocklist — blocklists are bounded by construction (they are
    * curated), so the corpus side never shuffles for the check; the
    * per-doc verdict is a doc_id-keyed two-phase aggregate. */
  private[queries] def urlFilterOf(d: DataFrame,
      blocklist: DataFrame): DataFrame = {
    val urls = d.select(col("doc_id"),
      regexp_extract_all(col("text"), lit(UrlPattern), lit(0)).as("urls"))
    val doms = urls.select(col("doc_id"),
        size(col("urls")).cast("long").as("n_urls"),
        explode_outer(col("urls")).as("url"))
      .withColumn("domain", regexp_extract(col("url"), DomainPattern, 1))
    doms.join(broadcast(blocklist
        .select(col("domain"), lit(1L).as("blocked"))), Seq("domain"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_urls")).as("n_urls"),
        sum(coalesce(col("blocked"), lit(0L))).as("n_blocked"),
        max(when(col("blocked") === 1L, col("domain"))).as("blocked_domain"))
      .select(col("doc_id"), col("n_urls"), col("n_blocked"),
        col("blocked_domain"),
        when(col("n_blocked") === 0L, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** The oracle binding's fixed blocklist. */
  val BlockedDomains = Seq("ads1.example.com", "ads2.example.com",
    "tracker.example.net")

  /** Oracle-checked binding: like q57, the corpus has no URLs, so the
    * query injects doc_id-derived ones — every document gets a clean
    * `docs<id%7>.example.org` link, and all but the id%5==0 docs also
    * get a blocklisted domain (rotating over [[BlockedDomains]]), so
    * both verdicts and the audit column vary across rows. */
  def q59UrlFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blocked = when(col("doc_id") % 3 === 0, BlockedDomains(0))
      .when(col("doc_id") % 3 === 1, BlockedDomains(1))
      .otherwise(BlockedDomains(2))
    val seeded = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" see https://docs"), col("doc_id") % 7,
        lit(".example.org/p"), col("doc_id"),
        when(col("doc_id") % 5 === 0, lit(""))
          .otherwise(concat(lit(" http://"), blocked, lit("/x"), col("doc_id")))
      ).as("text"))
    urlFilterOf(seeded, BlockedDomains.toDF("domain")).orderBy("doc_id")
  }

  val oracleQ59: String =
    s"""WITH seeded AS (
       |  SELECT doc_id, text || ' see https://docs' || (doc_id % 7) ||
       |    '.example.org/p' || doc_id ||
       |    CASE WHEN doc_id % 5 = 0 THEN '' ELSE ' http://' ||
       |      CASE WHEN doc_id % 3 = 0 THEN '${BlockedDomains(0)}'
       |           WHEN doc_id % 3 = 1 THEN '${BlockedDomains(1)}'
       |           ELSE '${BlockedDomains(2)}' END || '/x' || doc_id END
       |    AS text
       |  FROM documents),
       |bl(domain) AS (VALUES ('${BlockedDomains(0)}'),
       |  ('${BlockedDomains(1)}'), ('${BlockedDomains(2)}')),
       |e AS (
       |  SELECT doc_id, len(urls) AS n_urls, unnest(urls) AS url
       |  FROM (SELECT doc_id, regexp_extract_all(text, '$UrlPattern') AS urls
       |        FROM seeded)),
       |v AS (
       |  SELECT d.doc_id, max(d.n_urls) AS n_urls,
       |    sum(CASE WHEN b.domain IS NULL THEN 0 ELSE 1 END) AS n_blocked,
       |    max(CASE WHEN b.domain IS NOT NULL THEN d.domain END)
       |      AS blocked_domain
       |  FROM (SELECT doc_id, n_urls,
       |          regexp_extract(url, '$DomainPattern', 1) AS domain
       |        FROM e) d
       |  LEFT JOIN bl b ON b.domain = d.domain
       |  GROUP BY d.doc_id)
       |SELECT doc_id, CAST(n_urls AS BIGINT) AS n_urls,
       |  CAST(n_blocked AS BIGINT) AS n_blocked, blocked_domain,
       |  CAST(CASE WHEN n_blocked = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM v ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q62: vocabulary-capped <UNK> normalization (tokenizer-prep rewrite)
  // =====================================================================

  /** Keep-list size of the oracle-checked binding: the corpus vocabulary
    * is 31 tokens, so a 20-token cap replaces a third of the token mass —
    * real signal on both the counts and the rebuilt text. */
  val VocabKeepK = 20

  /** Rewrite every document over a CAPPED vocabulary: the `keepK` most
    * frequent tokens (ties to the lexicographically smaller token) stay,
    * every other token becomes `<UNK>` — the normalization a tokenizer-
    * prep pipeline runs before fitting merges, and the standard OOV
    * handling for count-based models (q56's bigram LM wants exactly this
    * upstream). Output per document: token count, replaced-token count,
    * and the md5 of the rebuilt text (order-exact: tokens are reassembled
    * by position).
    *
    * Scale: the vocabulary aggregate is a token-keyed two-phase hash
    * aggregate (tiny output), the keep-list is top-k bounded by
    * construction (TakeOrdered, then broadcast — like q59's blocklist,
    * it never shuffles the corpus), and the rebuild is ONE shuffle on
    * doc_id: positions explode map-side, probe the broadcast keep-list,
    * and collapse back with an in-partition sort-by-position. At 100 TB
    * the explode/reassemble is the honest cost of a rewrite; a
    * projection-only variant would fold the (bounded) keep-list into a
    * literal `transform` and run shuffle-free — both end in the same
    * rebuilt text. */
  /** FIT the capped vocabulary on a corpus: the `keepK` most frequent
    * tokens (ties to the smaller token), one `token` column — the
    * artifact a production pipeline persists and applies to every later
    * batch (parquet round-trips apply bit-identically; the fit-once/
    * apply-daily split, same contract as [[fitBigramModel]]). */
  private[queries] def vocabKeepOf(d: DataFrame, keepK: Int): DataFrame =
    d.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(keepK)
      .select(col("token"))

  /** APPLY a fitted keep-list to any (doc_id, text) frame: rewrite
    * out-of-vocabulary tokens to `<UNK>`, rebuilding the text
    * position-exactly. Output: (doc_id, n_tokens, n_unk, text). The
    * keep-list broadcasts; the rebuild is one doc_id shuffle. */
  private[queries] def vocabRewriteOf(d: DataFrame, keep: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"), posexplode(toks).as(Seq("pos", "token")))
    tok.join(broadcast(keep.select(col("token"), lit(1L).as("kept"))),
        Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("kept").isNotNull, col("token")).otherwise(lit("<UNK>"))
          .as("out_token"),
        when(col("kept").isNull, lit(1L)).otherwise(lit(0L)).as("unk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("unk")).as("n_unk"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("out_token")))),
          x => x.getField("out_token")), " ").as("text"))
  }

  private[queries] def vocabPruneOf(d: DataFrame, keepK: Int): DataFrame =
    vocabRewriteOf(d, vocabKeepOf(d, keepK))
      .select(col("doc_id"), col("n_tokens"), col("n_unk"),
        md5(col("text")).as("pruned_hash"))

  def q62VocabPrune(s: SparkSession, dir: String): DataFrame =
    vocabPruneOf(docs(s, dir), VocabKeepK).orderBy("doc_id")

  val oracleQ62: String =
    s"""WITH tok AS (
       |  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS token
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |keep AS (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS cnt FROM tok GROUP BY token
       |    ORDER BY cnt DESC, token ASC LIMIT $VocabKeepK))
       |SELECT t.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN k.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unk,
       |  md5(string_agg(
       |    CASE WHEN k.token IS NOT NULL THEN t.token ELSE '<UNK>' END,
       |    ' ' ORDER BY t.pos)) AS pruned_hash
       |FROM tok t LEFT JOIN keep k ON k.token = t.token
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // =====================================================================
  // q64: rolling corpus-quality monitoring (ROWS-frame window suite)
  // =====================================================================

  /** Trailing-window size of the oracle-checked binding. */
  val RollTrail = 10

  /** Rolling per-stratum statistics of an integer metric — the corpus
    * monitoring view a training-data team watches during ingest: for each
    * document (ordered by id within its stratum), the trailing-`trail`
    * mean/min of the metric and a centered ±`half` max — the explicit
    * `ROWS BETWEEN k PRECEDING/FOLLOWING` frame family (q39 covers the
    * SQL-form frames; this is the library form).
    *
    * Determinism: the metric is INTEGER; the mean is the exact BIGINT
    * frame sum divided by the exact frame count, rounded once — no
    * float accumulation order to diverge cross-engine.
    *
    * Scale: one shuffle on the stratum key feeding every frame (all four
    * windows share the (strata, id-order) spec, so Catalyst plans ONE
    * Window operator over one sort — plan-asserted); frames are O(trail)
    * per row regardless of corpus size. Stratum skew bounds the window
    * partition, not the corpus: strata are languages/sources, so a
    * dominant stratum should be sub-bucketed by date (the deployment
    * knob), exactly like q51/q55. */
  private[queries] def rollingStatsOf(d: DataFrame, strata: String,
      metric: Column, trail: Int, half: Int): DataFrame = {
    val t = Window.partitionBy(strata).orderBy("doc_id")
      .rowsBetween(-(trail - 1), Window.currentRow)
    val c = Window.partitionBy(strata).orderBy("doc_id")
      .rowsBetween(-half, half)
    val m = metric.cast("long")
    d.select(col("doc_id"), col(strata), m.as("metric"),
      count(lit(1)).over(t).as("w_n"),
      round(sum(m).over(t).cast("double") /
        count(lit(1)).over(t).cast("double"), 6).as("w_mean"),
      min(m).over(t).as("w_min"),
      max(m).over(c).as("c_max"))
  }

  def q64RollingStats(s: SparkSession, dir: String): DataFrame =
    rollingStatsOf(docs(s, dir), "lang", col("n_chars"), RollTrail, 2)
      .orderBy("doc_id")

  val oracleQ64: String =
    s"""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS metric,
       |  CAST(count(*) OVER t AS BIGINT) AS w_n,
       |  round(CAST(sum(n_chars) OVER t AS DOUBLE)
       |    / CAST(count(*) OVER t AS DOUBLE), 6) AS w_mean,
       |  CAST(min(n_chars) OVER t AS BIGINT) AS w_min,
       |  CAST(max(n_chars) OVER c AS BIGINT) AS c_max
       |FROM documents
       |WINDOW t AS (PARTITION BY lang ORDER BY doc_id
       |             ROWS BETWEEN ${RollTrail - 1} PRECEDING AND CURRENT ROW),
       |       c AS (PARTITION BY lang ORDER BY doc_id
       |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
       |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q84: intra-document chunk dedup (repeated-block removal + rebuild)
  // =====================================================================

  /** Chunk length of the oracle-checked binding. The synthetic corpus has
    * a ~30-token vocabulary, so 2-token blocks repeat within documents
    * (181/500 docs at sf0.01) and the removal path is genuinely
    * exercised; real deployments use paragraph- or sentence-sized
    * blocks — the parameter, not the shape, changes. */
  val IntraChunkLen = 2

  /** WITHIN-document repeated-block removal (the Gopher/C4 intra-doc
    * repetition scrub as a TRANSFORM rather than q44's report): split
    * each document into consecutive `chunkLen`-token blocks, drop every
    * block whose content (md5) already occurred EARLIER in the same
    * document, and rebuild the cleaned text from the surviving blocks in
    * order. Cross-document duplication is untouched (that is q27/q40's
    * job) — this removes the looped boilerplate, repeated nav blocks,
    * and stutter that inflate a single page.
    *
    * Output: (doc_id, n_chunks, n_dup_chunks, n_clean_tokens,
    * clean_hash = md5 of the rebuilt text) — the hash stands in for the
    * rebuilt text so the oracle row stays narrow; the rebuild itself is
    * the `concat_ws` argument and a caller keeps it by dropping the md5.
    *
    * Scale: the ENTIRE operator is a pure projection — `array_distinct`
    * preserves first-occurrence order, which IS the keep rule, so
    * chunking, dedup, and rebuild all run as array higher-order
    * functions inside one select: ZERO shuffles, no explode, no window,
    * no aggregate — chunk text never touches the wire (the q65 shape;
    * contrast q58's global span_hash window, whose corpus-wide hot-key
    * exposure cannot arise here because nothing leaves the row). Being
    * stateless, the same call serves batch and Structured Streaming
    * frames unchanged. Every intermediate array is LET-BOUND as a
    * lambda variable (the q73 guard: a collapsed-projection column
    * reference would re-evaluate the chunk build per reference inside
    * interpreted HOFs). */
  private[queries] def intraDocDedupOf(d: DataFrame,
      chunkLen: Int): DataFrame = {
    val chunks = transform(array(toks), wv =>
      transform(
        sequence(lit(1), greatest(size(wv), lit(1)), lit(chunkLen)),
        st => concat_ws(" ", slice(wv, st, lit(chunkLen))))).getItem(0)
    val stats = transform(array(chunks), ch =>
      transform(array(array_distinct(ch)), kept =>
        struct(
          size(ch).cast("long").as("n_chunks"),
          (size(ch) - size(kept)).cast("long").as("n_dup_chunks"),
          aggregate(kept, lit(0L),
            (a, c) => a + size(split(c, " ")).cast("long"))
            .as("n_clean_tokens"),
          md5(concat_ws(" ", kept)).as("clean_hash")))
        .getItem(0)).getItem(0)
    d.select(col("doc_id"), stats.as("s"))
      .select(col("doc_id"), col("s.n_chunks"), col("s.n_dup_chunks"),
        col("s.n_clean_tokens"), col("s.clean_hash"))
  }

  def q84IntraDocDedup(s: SparkSession, dir: String): DataFrame =
    intraDocDedupOf(docs(s, dir), IntraChunkLen).orderBy("doc_id")

  val oracleQ84: String =
    s"""WITH ch AS (
       |  SELECT doc_id, start,
       |    array_to_string(list_slice(w, start, start + ${IntraChunkLen - 1}), ' ')
       |      AS ctxt,
       |    CAST(len(list_slice(w, start, start + ${IntraChunkLen - 1})) AS BIGINT)
       |      AS ctoks
       |  FROM (
       |    SELECT doc_id, w,
       |      unnest(range(1, greatest(len(w), 1) + 1, $IntraChunkLen)) AS start
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |rn AS (
       |  SELECT doc_id, start, ctxt, ctoks,
       |    row_number() OVER (PARTITION BY doc_id, md5(ctxt) ORDER BY start)
       |      AS rn
       |  FROM ch)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(sum(CASE WHEN rn = 1 THEN ctoks ELSE 0 END) AS BIGINT)
       |    AS n_clean_tokens,
       |  md5(string_agg(ctxt, ' ' ORDER BY start) FILTER (WHERE rn = 1))
       |    AS clean_hash
       |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q88: global token-stream layout (concatenate-and-chunk planner)
  // =====================================================================

  /** Training-block length (tokens) of the oracle-checked binding. */
  val StreamCtxLen = 128L

  /** doc_ids per prefix-sum bucket in the oracle binding — deliberately
    * small so the sf0.01 corpus (500 docs) spans ~8 buckets and the
    * two-level shape is genuinely exercised; production uses ~10⁶ (see
    * the scale note — the choice changes the PLAN's balance only, never
    * the output, which the bucket-invariance spec pins). */
  val StreamBucketSpan = 64L

  /** GLOBAL concatenate-and-chunk layout — the GPT-style pretraining
    * batch plan: all documents are laid out in doc_id order as one token
    * stream (each doc followed by one separator token), the stream is
    * cut into fixed `ctxLen`-token training blocks, and each document
    * learns WHERE it landed: its global token offset, its first block,
    * how many blocks it spans, and whether it crosses a block boundary
    * (the attention-masking / doc-boundary-loss bookkeeping a packing
    * job must emit). Complements q55, which packs into per-stratum bins
    * with no global coordinates.
    *
    * Output: (doc_id, n_tokens, start_off, first_block, n_blocks,
    * crosses_boundary) — `start_off` counts body+separator tokens of all
    * earlier docs; block spans cover the doc BODY (the separator rides
    * the stream but never flags a crossing by itself). All columns are
    * exact BIGINTs (block ids via integer `div`, never a float `floor` —
    * offsets exceed 2^53 at a 10¹³-token corpus, where a double quotient
    * would round before the floor).
    *
    * Scale — the distributed two-level prefix sum: a global running sum
    * over 10¹⁰ docs CANNOT be one `Window.orderBy(doc_id)` (a single
    * task would stream the whole corpus). Instead (1) docs bucket by
    * `doc_id div bucketSpan` into a two-phase per-bucket token-count
    * aggregate; (2) the ONLY unbounded-partition window runs over that
    * |corpus|/bucketSpan-row bucket frame (10⁴ rows at 10¹⁰ docs with
    * span 10⁶ — sub-second on one task) producing each bucket's base
    * offset; (3) base offsets broadcast-join back and a window
    * PARTITIONED BY bucket (≤ bucketSpan rows per partition, by
    * construction — no data-dependent skew) finishes the within-bucket
    * running sum. One corpus shuffle of (doc_id, n_tokens) integer
    * pairs; text never moves. */
  private[queries] def streamLayoutOf(d: DataFrame, ctxLen: Long,
      bucketSpan: Long, baseOffset: Long = 0L): DataFrame = {
    val m = d.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"))
      .withColumn("bkt", expr(s"doc_id div $bucketSpan"))
    val perBucket = m.groupBy("bkt")
      .agg(sum(col("n_tokens") + lit(1L)).as("bn"))
    val wBucket = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = perBucket
      .withColumn("base", sum(col("bn")).over(wBucket) - col("bn") +
        lit(baseOffset))
      .select(col("bkt"), col("base"))
    val wIn = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.join(broadcast(base), Seq("bkt"))
      .withColumn("start_off",
        col("base") + sum(col("n_tokens") + lit(1L)).over(wIn)
          - (col("n_tokens") + lit(1L)))
      .withColumn("first_block", expr(s"start_off div $ctxLen"))
      .withColumn("last_block",
        expr(s"(start_off + n_tokens - 1) div $ctxLen"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("first_block"),
        (col("last_block") - col("first_block") + lit(1L)).as("n_blocks"),
        when(col("last_block") > col("first_block"), 1L).otherwise(0L)
          .as("crosses_boundary"))
  }

  def q88StreamLayout(s: SparkSession, dir: String): DataFrame =
    streamLayoutOf(docs(s, dir), StreamCtxLen, StreamBucketSpan)
      .orderBy("doc_id")

  /** Total stream length (body + separator slots) of a laid-out corpus —
    * the TAIL a serving pipeline persists alongside the layout so the
    * next ingest batch can continue the stream WITHOUT rescanning the
    * corpus ([[streamLayoutOf]]'s `baseOffset`). One aggregate over the
    * layout (or the corpus metadata table); at serving time the caller
    * stores it with the layout sink transactionally — the
    * exactly-once-per-batch contract every append-only packing job
    * needs. Appending is exact: laying out a batch at the persisted
    * tail is bit-identical to recomputing the full corpus layout and
    * keeping the batch's rows (spec'd — offsets are a pure prefix sum,
    * so the split point is invisible in the output). */
  def layoutTail(layout: DataFrame): Long =
    layout.agg(coalesce(max(col("start_off") + col("n_tokens") + 1L),
      lit(0L)).as("t")).head().getLong(0)

  val oracleQ88: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    sum(n_tokens + 1) OVER (ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - (n_tokens + 1) AS start_off
       |  FROM m)
       |SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       |  CAST(start_off // $StreamCtxLen AS BIGINT) AS first_block,
       |  CAST((start_off + n_tokens - 1) // $StreamCtxLen
       |    - start_off // $StreamCtxLen + 1 AS BIGINT) AS n_blocks,
       |  CAST(CASE WHEN (start_off + n_tokens - 1) // $StreamCtxLen
       |    > start_off // $StreamCtxLen THEN 1 ELSE 0 END AS BIGINT)
       |    AS crosses_boundary
       |FROM c ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q90: per-block manifest (the loader's inverse view of q88)
  // =====================================================================

  /** INVERSE view of the q88 layout: one row per TRAINING BLOCK, listing
    * what feeds it — the manifest a packed-dataset loader and
    * attention-mask builder consume (which documents contribute to
    * block b, whether the block is pure single-document, and how many
    * of its `ctxLen` slots carry document body vs separators).
    *
    * Output: (block_id, n_docs, min_doc, max_doc, util_tokens, pure) —
    * `util_tokens` is the exact count of body-token slots in the block
    * (the interval overlap of each contributing doc's [start, end] with
    * the block's [b·L, (b+1)·L−1], summed); the remainder is separator
    * slots (and, in the final block, padding). `pure` flags
    * single-document blocks (no cross-doc attention masking needed).
    *
    * Scale: the layout ([[streamLayoutOf]]) dominates; on top of it the
    * manifest is an explode bounded by Σ n_blocks = |docs| + tokens/L
    * (each boundary crossing adds exactly one extra row) into ONE
    * two-phase (block_id)-keyed aggregate — no window, no join, integer
    * interval arithmetic only. */
  private[queries] def blockManifestOf(d: DataFrame, ctxLen: Long,
      bucketSpan: Long): DataFrame =
    streamLayoutOf(d, ctxLen, bucketSpan)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        explode(sequence(col("first_block"),
          col("first_block") + col("n_blocks") - 1)).as("block_id"))
      .groupBy("block_id")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(
          least(col("start_off") + col("n_tokens") - 1,
            (col("block_id") + 1) * lit(ctxLen) - 1)
            - greatest(col("start_off"), col("block_id") * lit(ctxLen))
            + 1).as("util_tokens"))
      .select(col("block_id"), col("n_docs"), col("min_doc"),
        col("max_doc"), col("util_tokens"),
        when(col("n_docs") === 1, 1L).otherwise(0L).as("pure"))

  def q90BlockManifest(s: SparkSession, dir: String): DataFrame =
    blockManifestOf(docs(s, dir), StreamCtxLen, StreamBucketSpan)
      .orderBy("block_id")

  val oracleQ90: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    sum(n_tokens + 1) OVER (ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - (n_tokens + 1) AS start_off
       |  FROM m),
       |d AS (
       |  SELECT doc_id, n_tokens, start_off,
       |    CAST(start_off // $StreamCtxLen AS BIGINT) AS fb,
       |    CAST((start_off + n_tokens - 1) // $StreamCtxLen AS BIGINT) AS lb
       |  FROM c),
       |e AS (
       |  SELECT doc_id, n_tokens, start_off,
       |    unnest(range(fb, lb + 1)) AS block_id
       |  FROM d)
       |SELECT block_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |  CAST(sum(least(start_off + n_tokens - 1,
       |      (block_id + 1) * $StreamCtxLen - 1)
       |    - greatest(start_off, block_id * $StreamCtxLen) + 1) AS BIGINT)
       |    AS util_tokens,
       |  CAST(CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS BIGINT) AS pure
       |FROM e GROUP BY block_id ORDER BY block_id""".stripMargin

  // =====================================================================
  // q94: token-balanced output shards (the writer's plan view of q88)
  // =====================================================================

  /** Tokens per output shard of the oracle-checked binding — sized so the
    * synthetic corpus produces a handful of shards; production uses
    * ~10⁸-10⁹ (a few GB of tokens per file). */
  val ShardTokens = 20000L

  /** Token-BALANCED output shard assignment: every document lands in
    * shard `start_off div tokensPerShard` over the q88 global layout —
    * deterministic (a pure function of the corpus), order-preserving
    * (shards are contiguous doc_id ranges), and balanced in TOKEN space
    * by construction: each shard carries ≤ tokensPerShard + the one doc
    * that straddles its boundary, however skewed per-document lengths
    * are. This is the sizing question every 100 TB write job answers —
    * "make output files equal-sized in tokens, not in document count" —
    * solved as a plan, not a greedy stateful packer. `shard_pos` ranks
    * docs within their shard (the loader's within-file order).
    *
    * Scale: rides [[streamLayoutOf]]'s two-level prefix sum (its one
    * corpus shuffle of integer pairs); the shard id is one integer div
    * on top, and the within-shard rank window partitions by shard_id —
    * bounded by tokensPerShard/avg_doc_tokens rows per partition. */
  private[queries] def shardPlanOf(d: DataFrame, tokensPerShard: Long,
      bucketSpan: Long): DataFrame = {
    val w = Window.partitionBy("shard_id").orderBy("doc_id")
    // first_block IS start_off div ctxLen, and ctxLen = tokensPerShard
    // here — rename rather than re-derive the division
    streamLayoutOf(d, ctxLen = tokensPerShard, bucketSpan = bucketSpan)
      .withColumn("shard_id", col("first_block"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("shard_id"),
        (row_number().over(w) - 1).cast("long").as("shard_pos"))
  }

  def q94ShardPlan(s: SparkSession, dir: String): DataFrame =
    shardPlanOf(docs(s, dir), ShardTokens, StreamBucketSpan).orderBy("doc_id")

  val oracleQ94: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    sum(n_tokens + 1) OVER (ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - (n_tokens + 1) AS start_off
       |  FROM m)
       |SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       |  CAST(start_off // $ShardTokens AS BIGINT) AS shard_id,
       |  CAST(row_number() OVER (PARTITION BY start_off // $ShardTokens
       |    ORDER BY doc_id) - 1 AS BIGINT) AS shard_pos
       |FROM c ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q53_doc_chunks" -> q53DocChunks _,
    "q54_tfidf_topk" -> q54TfidfTopK _,
    "q55_seq_packing" -> q55SeqPacking _,
    "q56_bigram_lm" -> q56BigramLm _,
    "q57_pii_redact" -> q57PiiRedact _,
    "q58_span_dedup" -> q58SpanDedup _,
    "q59_url_filter" -> q59UrlFilter _,
    "q62_vocab_prune" -> q62VocabPrune _,
    "q64_rolling_stats" -> q64RollingStats _,
    "q84_intradoc_dedup" -> q84IntraDocDedup _,
    "q88_stream_layout" -> q88StreamLayout _,
    "q90_block_manifest" -> q90BlockManifest _,
    "q92_span_scrub" -> q92SpanScrub _,
    "q94_shard_plan" -> q94ShardPlan _,
  )

  val oracle: Map[String, String] = Map(
    "q53_doc_chunks" -> oracleQ53,
    "q54_tfidf_topk" -> oracleQ54,
    "q55_seq_packing" -> oracleQ55,
    "q56_bigram_lm" -> oracleQ56,
    "q57_pii_redact" -> oracleQ57,
    "q58_span_dedup" -> oracleQ58,
    "q59_url_filter" -> oracleQ59,
    "q62_vocab_prune" -> oracleQ62,
    "q64_rolling_stats" -> oracleQ64,
    "q84_intradoc_dedup" -> oracleQ84,
    "q88_stream_layout" -> oracleQ88,
    "q90_block_manifest" -> oracleQ90,
    "q92_span_scrub" -> oracleQ92,
    "q94_shard_plan" -> oracleQ94,
  )
}
