package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Training-data text pipeline: analysis, fingerprinting, and the dedup
  * family (exact, n-gram Jaccard, MinHash+LSH, SimHash) over the driver's
  * `documents` table. These go beyond the reference's operator surface (it
  * has no text pipeline) and are designed for the 100 TB case:
  *
  *  - shingle/candidate generation always goes through an equi-join key
  *    (shared shingle, LSH band bucket, SimHash chunk) — never an O(n²)
  *    cross join of the corpus;
  *  - every hash is MD5 (identical in Spark and DuckDB) so the driver's
  *    oracle can recompute signatures bit-for-bit;
  *  - similarity ratios are computed from exact integer counts with a fixed
  *    IEEE op order (see Relational's fpsum scaladoc) so rounded outputs
  *    hash-match across engines.
  *
  * Scale notes per operator are on each query.
  */
object TextDedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Whitespace tokens (documents are single-space separated). */
  private val toks: Column = split(col("text"), " ")

  /** Distinct word 3-gram shingles. Word shingles (not char) because the
    * corpus is word-salad; k=3 gives clean dup/noise separation (measured:
    * planted near-dup pairs sit at J>0.8, noise at J<0.1).
    *
    * Implementation note: built from three `slice`s zipped together, NOT
    * `transform(sequence(...), i => element_at(w, i)...)` — each
    * `element_at(w, _)` reference inside a lambda re-evaluates `w` (the
    * regex split) per ELEMENT, which measured ~1.8 ms/row at 60 shingles;
    * the slice form references `w` O(1) times per row (~50× faster). */
  private def shingles3(w: Column): Column = shinglesN(w, 3)

  /** Distinct word n-gram shingles — [[shingles3]] generalized (the same
    * slice-zip construction: `w` is referenced O(n) times per ROW, never
    * per element — see the note above). Production decontamination runs
    * n of 8–13 (the GPT-3/PaLM appendices); the dedup family's shared
    * caches stay on the n=3 canonical form. */
  private[queries] def shinglesN(w: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val len = size(w)
    val cnt = len - (n - 1)
    val sh = (2 to n).foldLeft(slice(w, lit(1), cnt)) { (acc, j) =>
      zip_with(acc, slice(w, lit(j), cnt), (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(when(len >= n, sh).otherwise(array().cast("array<string>")))
  }

  /** Oracle twin of shingles3 (DuckDB list comprehension). */
  private val oShingles3 =
    "list_distinct(CASE WHEN len(w) >= 3 THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)] ELSE [] END)"

  // ---------------------------------------------------------------------
  // Shared shingle base — the dedup family (q28/q29/q30/q31/q40/q41/q43)
  // all start from the same doc -> distinct-3-gram derivation, which is
  // the expensive scalar work (split + slices + concats per document).
  // Deriving every query from ONE cached node means a session computes it
  // once and every later query in the family starts from the in-memory
  // relation (Spark's cache matches by canonicalized plan identity, so
  // each query still works standalone — the first one to run pays the
  // materialization). At 100 TB these nodes outgrow memory: set Spark's
  // `spark.sql.defaultCacheStorageLevel=DISK_ONLY` (`persist()` reads it)
  // — or materialize them as tables; the plan shape above them is
  // unchanged.
  // ---------------------------------------------------------------------

  /** (doc_id, ts = distinct 3-gram shingles) — cached array form; also the
    * direct input of q30's true-Jaccard re-check. The `*Of` forms take any
    * (doc_id, text) frame — [[TextOps]] builds its generic operators on
    * them; the (s, dir) forms bind them to the driver's documents table. */
  private[queries] def shingleSetsOf(d: DataFrame): DataFrame =
    Tables.parallelized(d, "doc_id")
      .select(col("doc_id"), shingles3(toks).as("ts")).persist()

  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    shingleSetsOf(docs(s, dir))

  /** (doc_id, n = |shingles|, sh = shingle string) exploded rows, derived
    * from the cached array form (the explode itself is cheap; the string
    * derivation above it is what the cache saves). */
  private[queries] def shingleRowsOf(d: DataFrame): DataFrame =
    shingleSetsOf(d)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n"),
        explode(col("ts")).as("sh"))

  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleRowsOf(docs(s, dir))

  /** (doc_id, n, sh = xxhash64(shingle)) — cached; both sides of q28's
    * self-join and q41's df derivation consume it. The join key is
    * the 8-byte hash, not the shingle string: the wide text never travels
    * through a shuffle (collision caveat on q28). */
  private[queries] def hashedShingleRowsOf(d: DataFrame): DataFrame =
    shingleRowsOf(d)
      .select(col("doc_id"), col("n"), xxhash64(col("sh")).as("sh")).persist()

  private def hashedShingleRows(s: SparkSession, dir: String): DataFrame =
    hashedShingleRowsOf(docs(s, dir))

  /** n-gram-parameterized twins of the cached derivations: n = 3 routes
    * to the SHARED cached nodes above (the dedup family's canonical
    * form); any other n builds its own cached chain — the
    * decontamination family's production setting (8–13-gram windows)
    * without forking the 3-gram caches everything else shares. */
  private[queries] def shingleSetsNOf(d: DataFrame, n: Int): DataFrame =
    if (n == 3) shingleSetsOf(d)
    else Tables.parallelized(d, "doc_id")
      .select(col("doc_id"), shinglesN(toks, n).as("ts")).persist()

  private[queries] def hashedShingleRowsNOf(d: DataFrame, n: Int): DataFrame =
    if (n == 3) hashedShingleRowsOf(d)
    else shingleSetsNOf(d, n)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n"),
        explode(col("ts")).as("sh"))
      .select(col("doc_id"), col("n"), xxhash64(col("sh")).as("sh")).persist()

  // =====================================================================
  // q24: token counting + quality scoring (text analysis)
  // =====================================================================

  /** Per-document token stats and a quality score from length / stopword /
    * type-token ratios. Token counts come in two flavors: whitespace
    * tokens and a BPE-ish subword count (greedy ≤4-char alpha chunks — a
    * stand-in for a real tokenizer's subword rate, deterministic and
    * engine-portable). All ratios are exact-int divisions.
    * Scale: embarrassingly parallel projection — no shuffle at all; at
    * 100 TB this is a single map stage over the parquet scan. */
  def q24DocStats(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("long")
    val nDis = size(array_distinct(toks)).cast("long")
    val nBpe = expr("regexp_count(text, '[a-z]{1,4}')").cast("long")
    val nStop = size(filter(toks, t => t === "the" || t === "a")).cast("long")
    val ttr = nDis.cast("double") / nTok.cast("double")
    val stopR = nStop.cast("double") / nTok.cast("double")
    val lenScore = when(col("n_chars") >= 200 && col("n_chars") <= 450, lit(1.0))
      .when(col("n_chars") >= 100, lit(0.5)).otherwise(lit(0.0))
    val quality = round((lenScore + ttr + (lit(1.0) - stopR)) / 3.0, 6)
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      nTok.as("n_tokens"), nDis.as("n_distinct"), nBpe.as("n_bpe_tokens"),
      nStop.as("n_stopwords"),
      round(ttr, 6).as("ttr"), round(stopR, 6).as("stop_ratio"),
      quality.as("quality"))
      .orderBy("doc_id")
  }

  val oracleQ24: String =
    """SELECT doc_id, lang,
      | CAST(len(w) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      | CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_tokens,
      | CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stopwords,
      | round(CAST(len(list_distinct(w)) AS DOUBLE)/CAST(len(w) AS DOUBLE), 6) AS ttr,
      | round(CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS DOUBLE)/CAST(len(w) AS DOUBLE), 6) AS stop_ratio,
      | round(((CASE WHEN n_chars >= 200 AND n_chars <= 450 THEN 1.0 WHEN n_chars >= 100 THEN 0.5 ELSE 0.0 END)
      |   + CAST(len(list_distinct(w)) AS DOUBLE)/CAST(len(w) AS DOUBLE)
      |   + (1.0 - CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS DOUBLE)/CAST(len(w) AS DOUBLE)))/3.0, 6) AS quality
      |FROM (SELECT *, string_split(text, ' ') AS w FROM documents)
      |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q25: language-ID heuristic vs labeled lang (confusion summary)
  // =====================================================================

  /** N-gram/stopword language-ID heuristic: predict 'en' when the English
    * stopword ratio clears a threshold, else 'other'; report the confusion
    * matrix against the labeled `lang` column. (The synthetic corpus shares
    * one vocabulary across langs, so accuracy is the data's problem — the
    * operator mechanics are what's under test.)
    * Scale: map + tiny groupBy — one shuffle over ≤ (langs × 2) groups. */
  def q25LangId(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t === "the" || t === "a" || t === "of")).cast("long")
    val pred = when(nStop.cast("double") / nTok.cast("double") > 0.05, lit("en"))
      .otherwise(lit("other"))
    docs(s, dir)
      .select(col("lang"), pred.as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  val oracleQ25: String =
    """SELECT lang, predicted, count(*) AS n_docs FROM (
      |  SELECT lang,
      |    CASE WHEN CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of')) AS DOUBLE)
      |           / CAST(len(w) AS DOUBLE) > 0.05
      |         THEN 'en' ELSE 'other' END AS predicted
      |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // =====================================================================
  // q26: document fingerprinting (md5 + polynomial rolling hash)
  // =====================================================================

  /** Content fingerprints: full-text MD5 plus an exact base-7 polynomial
    * hash of the first 16 chars (sum ascii(c_i)*7^i — max ≈ 9e15, exact in
    * BIGINT on both engines). Scale: pure projection, no shuffle. */
  def q26Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val poly = (0 until 16).map { i =>
      ascii(substring(col("text"), i + 1, 1)).cast("long") * lit(pow7(i))
    }.reduce(_ + _)
    docs(s, dir).select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      poly.as("fp_poly"))
      .orderBy("doc_id")
  }

  private def pow7(i: Int): Long = { var v = 1L; var k = 0; while (k < i) { v *= 7L; k += 1 }; v }

  val oracleQ26: String = {
    val poly = (0 until 16)
      .map(i => s"CAST(ascii(substr(text, ${i + 1}, 1)) AS BIGINT)*${pow7(i)}")
      .mkString(" + ")
    s"""SELECT doc_id, md5(text) AS fp_md5, $poly AS fp_poly
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // =====================================================================
  // q27: exact deduplication (hash-groupBy)
  // =====================================================================

  /** Exact dedup: group by full-content MD5, keep the lowest doc_id as the
    * canonical copy. Output one row per distinct content with its copy
    * count. Scale: one hash-partitioned shuffle on a 32-char key — the
    * canonical 100 TB exact-dedup plan (the wide text column is dropped
    * before the shuffle; only the hash travels). */
  def q27ExactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(md5(col("text")).as("content_hash"), col("doc_id"), col("n_chars"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"),
        max(col("n_chars")).as("n_chars"))
      .select(col("keeper_id"), col("n_copies"), col("n_chars"))
      .orderBy("keeper_id")

  val oracleQ27: String =
    """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, max(n_chars) AS n_chars
      |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin

  // =====================================================================
  // q28: n-gram Jaccard near-dup pairs (shared-shingle candidate join)
  // =====================================================================

  /** Near-dup pairs with word-3-gram Jaccard >= 0.5. Candidates come from
    * a self-equi-join on shingle value (only pairs sharing >= 1 shingle are
    * ever materialized — never the O(n²) cross product); the Jaccard ratio
    * is exact-int intersection over exact-int union. Scale: shuffle on
    * shingle (skew-safe: 3-gram frequencies are near-uniform here; a
    * frequency cap on pathological shingles is the standard guard). */
  /** Unordered q28 pair frame — cached: q28's output and q40's edge
    * derivation both consume it, so the pair join+aggregate executes once
    * per session instead of once per consumer.
    *
    * Shared cached base (see hashedShingleRows): both sides of the
    * self-join read the in-memory hashed rows. The join key is xxhash64
    * of the shingle (8-byte long), not the shingle string: the wide text
    * never travels through the shuffle and the hash join probes longs
    * (shingles are distinct within a doc, so hashing preserves the
    * intersection count WITHIN a doc exactly). Caveat: a 64-bit
    * collision between DISTINCT shingles of two different docs would
    * inflate n_common, so parity with a string-keyed oracle is
    * probabilistic with birthday bound ~s²/2^64 for s distinct shingles
    * corpus-wide (~1e-9 at s=10^5 here; revisit consciously at 100 TB,
    * where s~10^11 puts the bound near 1 — switch the key to the
    * 128-bit md5 there). */
  private[queries] def jaccardPairsOf(d: DataFrame, threshold: Double): DataFrame = {
    val ex = hashedShingleRowsOf(d)
    val a = ex.select(col("doc_id").as("id_a"), col("n").as("na"), col("sh"))
    val b = ex.select(col("doc_id").as("id_b"), col("n").as("nb"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"), min("na").as("na"), min("nb").as("nb"))
    val j = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common")).cast("double")
    inter.filter(j >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("na"), col("nb"),
        round(j, 6).as("jaccard"))
      .persist()
  }

  private def jaccardPairsFrame(s: SparkSession, dir: String): DataFrame =
    jaccardPairsOf(docs(s, dir), 0.5)

  def q28JaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFrame(s, dir).orderBy("id_a", "id_b")

  val oracleQ28: String =
    s"""WITH sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*) AS n_common, min(a.n) AS na, min(b.n) AS nb
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b, n_common, na, nb,
       |  round(CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE), 6) AS jaccard
       |FROM inter
       |WHERE CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // =====================================================================
  // q29/q30: MinHash signatures + LSH candidate pairs
  // =====================================================================

  private val K = 18 // minhashes
  private val BANDS = 6 // bands of 3 rows: P(cand | J=.8) ≈ .99, noise ≈ 0
  private val MPRIME = 2147483647L // 2^31-1

  /** Per-document MinHash signature digest: K=18 min-hashes via
    * Kirsch-Mitzenmacher double hashing — ONE md5 per shingle split into
    * two 32-bit ints (a, b), then h_i = (a + i·b) mod (2^31-1). One hash
    * evaluation replaces K (measured ~4x on the signature stage), with
    * the standard guarantee that the derived family behaves like K
    * independent hashes for sketching. All integer arithmetic — both
    * engines reproduce it exactly. Banded into 6 band keys of 3.
    * Scale: explode + one groupBy on doc_id with K min-aggregates —
    * map-side combinable, single shuffle. */
  def q29MinhashSig(s: SparkSession, dir: String): DataFrame =
    bandDf(s, dir).orderBy("doc_id")

  /** hex[from..from+7] of column `h` as a 32-bit value. Spark-side this is
    * one `conv()`; the DuckDB oracle spells the same value with per-digit
    * strpos arithmetic (DuckDB has no conv) — both parse the same hex
    * digits most-significant-first, so the values are bit-identical. */
  private def hexInt(from: Int): String =
    s"CAST(conv(substring(h, $from, 8), 16, 10) AS BIGINT)"

  /** doc_id + mh0..mh17 — the raw K-minhash signature, cached: the band
    * derivation below and q79's position-match calibration both consume
    * it, so the signature aggregation (the expensive groupBy) runs once
    * per session regardless of which consumer fires first. */
  private[queries] def mhDfOf(d: DataFrame): DataFrame = {
    val ex = shingleRowsOf(d)
      .withColumn("h", md5(col("sh")))
      .select(col("doc_id"),
        expr(hexInt(1)).as("ha"), expr(hexInt(9)).as("hb"))
    ex.groupBy("doc_id")
      .agg((0 until K).map(i =>
        min((col("ha") + lit(i.toLong) * col("hb")) % MPRIME).as(s"mh$i")).head,
        (0 until K).map(i =>
          min((col("ha") + lit(i.toLong) * col("hb")) % MPRIME).as(s"mh$i")).tail: _*)
      .persist()
  }

  /** doc_id + band0..band5 columns. Cached: q29 returns it directly and
    * q30 derives its band rows from it; the signature below it comes
    * from the shared [[mhDfOf]] cache, the shingle derivation below
    * that from [[shingleSetsOf]]. */
  private[queries] def bandDfOf(d: DataFrame): DataFrame = {
    val bands = (0 until BANDS).map { b =>
      substring(md5(concat_ws("|",
        col(s"mh${3 * b}"), col(s"mh${3 * b + 1}"), col(s"mh${3 * b + 2}"))), 1, 16)
        .as(s"band$b")
    }
    mhDfOf(d).select(col("doc_id") +: bands: _*).persist()
  }

  private def bandDf(s: SparkSession, dir: String): DataFrame =
    bandDfOf(docs(s, dir))

  /** Oracle twin of hexInt: DuckDB's 0x-literal cast parses the 8 hex
    * digits in one shot (same value as per-digit strpos arithmetic,
    * measured ~5x faster on the signature CTE). */
  private def oHexInt(from: Int): String =
    s"('0x' || substr(h, $from, 8))::BIGINT"

  private def oMinhashCtes: String = {
    val mhs = (0 until K)
      .map(i => s"min((ha + $i * hb) % $MPRIME) AS mh$i").mkString(", ")
    val bands = (0 until BANDS)
      .map(b => s"substr(md5(mh${3 * b}||'|'||mh${3 * b + 1}||'|'||mh${3 * b + 2}), 1, 16) AS band$b")
      .mkString(", ")
    s"""sh AS (
       |  SELECT doc_id, ${oHexInt(1)} AS ha, ${oHexInt(9)} AS hb FROM (
       |    SELECT doc_id, md5(sh) AS h FROM (
       |      SELECT doc_id, unnest($oShingles3) AS sh
       |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))),
       |mh AS (SELECT doc_id, $mhs FROM sh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bands FROM mh)""".stripMargin
  }

  val oracleQ29: String = {
    val cols = (0 until BANDS).map(b => s"band$b").mkString(", ")
    s"WITH ${oMinhashCtes}\nSELECT doc_id, $cols FROM sig ORDER BY doc_id"
  }

  /** Full MinHash-LSH dedup pipeline: candidate pairs are docs sharing at
    * least one band bucket (equi-join on (band_idx, band_hash) — the 100 TB
    * path: bucket sizes stay tiny, no cross product), then each candidate
    * is scored with a band-level similarity estimate (fraction of the 6
    * band keys that agree — each band agreeing means its 3 minhashes
    * agree, so est ≈ J³ granularized; cheap and monotone in J) AND the
    * true 3-gram Jaccard.
    *
    * Physical shape: bands equal ⟺ the band join produces a row, so the
    * estimate is `count(matching bands)/6` aggregated straight off the
    * candidate join — no distinct + re-join of the signature table (two
    * shuffles and a codegen stage cheaper than the naive form). Band keys
    * are xxhash64 longs, not hash-hex strings: an 8-byte shuffle/join key
    * instead of 16 chars. The true-Jaccard re-check joins the two shingle
    * sets only for candidate pairs (≈ dup pairs), so the expensive
    * verification is proportional to the number of near-dups, not the
    * corpus size. */
  /** Exploded (doc_id, band-idx b, band-hash h) rows over [[bandDfOf]] —
    * cached: q30's self-join sides and q48's batch-vs-corpus index probe
    * all consume it. Band keys are xxhash64 longs, not hash-hex strings:
    * an 8-byte shuffle/join key instead of 16 chars. */
  private[queries] def bandRowsOf(d: DataFrame): DataFrame =
    bandDfOf(d).select(col("doc_id"),
      explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("b"),
          xxhash64(lit(b), col(s"band$b")).as("h"))): _*)).as("e"))
      .select(col("doc_id"), col("e.b").as("b"), col("e.h").as("h"))
      .persist()

  private def bandRows(s: SparkSession, dir: String): DataFrame =
    bandRowsOf(docs(s, dir))

  /** Drop every shared cached derivation of frame `d` (band rows, band
    * signatures, hashed shingle rows, shingle sets). Rebuilding each plan
    * re-registers it first (persist is idempotent and lazy), so derivations
    * that were never cached unpersist as clean no-ops; `cascade = false`
    * semantics (Dataset.unpersist) leave caches built ON TOP of these
    * intact. The streaming incremental-dedup loop calls this per epoch so
    * a long-lived stream's per-batch derivations don't accumulate — only
    * the corpus-side index (a different plan) stays cached across epochs. */
  private[graft] def unpersistDerivationsOf(d: DataFrame): Unit =
    Seq(bandRowsOf(d), bandDfOf(d), mhDfOf(d), hashedShingleRowsOf(d),
      shingleSetsOf(d)).foreach(_.unpersist(false))

  /** N-gram-parameterized counterpart of [[unpersistDerivationsOf]]:
    * releases the cached [[shingleSetsNOf]]/[[hashedShingleRowsNOf]]
    * chain for window size `n`. Each non-default n caches its OWN chain
    * (the decontamination family's production 8–13-gram settings), so a
    * long-lived session calling decontaminate/evalNovelty per epoch must
    * release per-n or the entries accumulate; n = 3 routes to the shared
    * 3-gram derivations — releasing it drops the caches every other
    * dedup operator shares, so only do that when the whole family is
    * done with `d`. */
  private[graft] def unpersistDerivationsNOf(d: DataFrame, n: Int): Unit =
    Seq(hashedShingleRowsNOf(d, n), shingleSetsNOf(d, n))
      .foreach(_.unpersist(false))

  /** Release the capped pair-family caches for `d` at `dfCap` (the
    * df-annotated frame and the shared pair-stat frame) — the capped
    * counterpart of [[unpersistDerivationsOf]], reached by rebuilding
    * the identical plans and unpersisting (Spark cache-manager lookup is
    * by plan identity). */
  private[graft] def unpersistCappedPairCachesOf(d: DataFrame, dfCap: Long): Unit =
    Seq(cappedPairStatsOf(d, dfCap), dfAnnotatedOf(d))
      .foreach(_.unpersist(false))

  def q30LshPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = bandRows(s, dir)
    // one row per matching band per pair => count = agreeing bands
    val est = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(round(count(lit(1)).cast("double") / BANDS.toDouble, 6).as("est_sim"))
    // true jaccard re-check on candidates only, off the shared cached
    // shingle-set table (at 100 TB this would be an explicit persist
    // spillable to disk)
    val sets = shingleSets(s, dir)
    val ta = sets.select(col("doc_id").as("id_a"), col("ts").as("ts_a"))
    val tb = sets.select(col("doc_id").as("id_b"), col("ts").as("ts_b"))
    val interC = size(array_intersect(col("ts_a"), col("ts_b"))).cast("long")
    val unionC = (size(col("ts_a")) + size(col("ts_b"))).cast("long") - interC
    est.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"), col("est_sim"),
        round(interC.cast("double") / unionC.cast("double"), 6).as("true_jaccard"))
      .orderBy("id_a", "id_b")
  }

  val oracleQ30: String = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, $b AS b, band$b AS h FROM sig").mkString(" UNION ALL ")
    val estNum = (0 until BANDS)
      .map(b => s"CASE WHEN sa.band$b = sb.band$b THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ${oMinhashCtes},
       |bandrows AS ($bandUnion),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandrows x JOIN bandrows y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id),
       |sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |SELECT c.id_a, c.id_b,
       |  round(CAST($estNum AS DOUBLE)/${BANDS}.0, 6) AS est_sim,
       |  round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
       |    / CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE), 6) AS true_jaccard
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.id_a
       |JOIN sig sb ON sb.doc_id = c.id_b
       |JOIN sets ta ON ta.doc_id = c.id_a
       |JOIN sets tb ON tb.doc_id = c.id_b
       |ORDER BY c.id_a, c.id_b""".stripMargin
  }

  // =====================================================================
  // q31: SimHash near-dup pairs (chunked-hamming candidate join)
  // =====================================================================

  private val SIMBITS = 64 // 16 md5 hex digits
  private val CHUNKS = 8 // 8-bit chunks; candidate keys are CHUNK PAIRS
  private val HAMMAX = 6 // chunk-pair keys are pigeonhole-complete for <=6
  private val chunkPairs: Seq[(Int, Int)] =
    for (c1 <- 0 until CHUNKS; c2 <- c1 + 1 until CHUNKS) yield (c1, c2)

  /** 64-bit SimHash over the 3-gram shingle set: bit j is the sign of
    * Σ_shingles (±1) where the ±1 is bit j of md5(shingle).
    *
    * Candidate generation joins on CHUNK-PAIR keys: the signature is split
    * into 8 byte-chunks and every pair shares one of C(8,2)=28 (chunk-pair,
    * 16-bit value) keys. Pigeonhole: hamming <= 6 dirties at most 6 of the
    * 8 chunks, so >= 2 chunks agree and the candidate join finds EVERY pair
    * with hamming <= 6 — no cross join, no recall loss. A random unrelated
    * pair collides on any key with probability 28/2^16 ≈ 4.3e-4 (vs 6/256 ≈
    * 2.3% for single 8-bit chunk keys — 54x fewer false candidates); this
    * is what keeps candidate volume ~n²·2e-4 instead of ~n²/43 at corpus
    * scale. For larger corpora / higher thresholds the same construction
    * extends to chunk-TRIPLE keys (C(10,3) over 10 chunks, complete for
    * d<=7) or Manku et al.'s permuted sorted tables (WWW'07).
    * All integer arithmetic — bit-exact across engines.
    *
    * Scale envelope (measured, r12 100× sweep): the 16-bit key space
    * saturates near ~500k docs — bucket occupancy crosses 1 between the
    * 10× and 100× fixtures, after which candidate volume grows
    * ~n²·28/2^16. q31 itself stays cheap at 100× (the hamming filter
    * prunes inside the join: 4 s), but consumers that attach PAYLOADS to
    * every candidate (q80's exact-Jaccard calibration joins the shingle
    * arrays) feel the n² first — at that scale move to chunk-triple keys
    * or run the calibration on a hash-mod document sample (it is a
    * measurement, not a pipeline stage). */
  def q31SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Bit-count packing: each hex digit's 4 bits are spread into four
    // 16-bit fields of ONE long (bit k of d at field k) via a 16-entry
    // lookup array, so the per-doc aggregate is 16 packed sums + count(*)
    // instead of 64 independent sums — same exact arithmetic (ones_j
    // recovered per field; the ±1 sum is 2*ones_j - n), a quarter of the
    // agg state and far smaller codegen. Field capacity: the top field
    // occupies bits 48-63, so the packed sum stays sign-safe up to 32767
    // shingles/doc (documents here have <= 98); beyond that pack 3 fields
    // per long.
    val spreadTable: Seq[Long] = (0 until 16).map { d =>
      (0 until 4).map(k => ((d >> k) & 1).toLong << (16 * k)).sum
    }
    val ex = shingleRows(s, dir)
      .withColumn("h", md5(col("sh")))
      // two conv() calls parse the 64-bit hash as two unsigned 32-bit
      // halves (a single 16-digit conv would overflow signed BIGINT);
      // digit p (hex position p+1, most significant first) is then a
      // shift+mask — identical values to the oracle's per-digit strpos
      // arithmetic
      .withColumn("vh", expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("vl", expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"))
      .select(col("doc_id") +: (0 until SIMBITS / 4).map { p =>
        val (src, shft) = if (p < 8) ("vh", 4 * (7 - p)) else ("vl", 4 * (15 - p))
        expr(s"($src >> $shft) & 15").as(s"d$p")
      }: _*)
      .select(col("doc_id") +: (0 until SIMBITS / 4).map(p =>
        element_at(typedLit(spreadTable), col(s"d$p").cast("int") + 1).as(s"p$p")): _*)
    val packedSums = (0 until SIMBITS / 4).map(p => sum(col(s"p$p")).as(s"p$p"))
    val sums = ex.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), packedSums: _*)
    def onesOf(j: Int): Column =
      shiftright(col(s"p${j / 4}"), 16 * (j % 4)).bitwiseAND(lit(0xFFFFL))
    // sign of the ±1 sum for bit j: 2*ones_j - n > 0. The signature is
    // carried as two NON-NEGATIVE 32-bit halves (sim_lo = bytes 0-3,
    // sim_hi = bytes 4-7) so every later shift/mask is on a non-negative
    // long — no arithmetic-shift sign-extension traps in either engine.
    def half(bytes: Range): Column = bytes.map { c =>
      (0 until 8).map { i =>
        val j = 8 * c + i
        when(onesOf(j) * 2 > col("n"), lit(1L << (8 * (c % 4) + i))).otherwise(lit(0L))
      }.reduce(_ + _)
    }.reduce(_ + _)
    // cached: both sides of the chunk-pair self-join consume it — without
    // this the whole shingle+aggregate pipeline runs twice (measured 2x)
    val sh = sums.select(col("doc_id"),
      half(0 until 4).as("sim_lo"), half(4 until 8).as("sim_hi")).persist()
    def byteOf(c: Int): Column =
      shiftright(col(if (c < 4) "sim_lo" else "sim_hi"), 8 * (c % 4))
        .bitwiseAND(lit(255L))
    val keyed = sh.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      explode(array(chunkPairs.map { case (c1, c2) =>
        struct(lit(c1 * CHUNKS + c2).as("k"), byteOf(c1).as("v1"), byteOf(c2).as("v2"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("e.k").as("k"), col("e.v1").as("v1"), col("e.v2").as("v2"))
    val a = keyed.select(col("doc_id").as("id_a"), col("sim_lo").as("lo_a"),
      col("sim_hi").as("hi_a"), col("k"), col("v1"), col("v2"))
    val b = keyed.select(col("doc_id").as("id_b"), col("sim_lo").as("lo_b"),
      col("sim_hi").as("hi_b"), col("k"), col("v1"), col("v2"))
    val ham = expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
    // hamming filter BEFORE the dedup: the filter is a per-row bit op and
    // cuts the distinct's input from every key-collision row to just the
    // near-dup survivors
    a.join(b, Seq("k", "v1", "v2")).filter(col("id_a") < col("id_b") && ham <= HAMMAX)
      .select(col("id_a"), col("id_b"), col("lo_a"), col("hi_a"), col("lo_b"), col("hi_b"))
      .distinct()
      .select(col("id_a"), col("id_b"), ham.cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Shared CTE block of the q31/q80 oracles — signature derivation,
    * chunk-pair keying, and the DISTINCT candidate set, ending at `cand`.
    * Bit j lives in hex digit j/4 (most significant first): parse the two
    * 32-bit halves once per shingle (('0x'||hex)::BIGINT — DuckDB's fast
    * path) and read each bit with one shift, exactly like the Spark side. */
  private def oSimhashCtes: String = {
    val sums = (0 until SIMBITS).map { j =>
      val p = j / 4
      val src = if (p < 8) "vh" else "vl"
      val shift = 4 * (7 - p % 8) + j % 4
      s"sum(CASE WHEN ($src >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    def half(bytes: Range): String = bytes.flatMap { c =>
      (0 until 8).map { i =>
        s"CASE WHEN s${8 * c + i} > 0 THEN ${1L << (8 * (c % 4) + i)} ELSE 0 END"
      }
    }.mkString(" + ")
    def byteOf(c: Int): String =
      s"((${if (c < 4) "sim_lo" else "sim_hi"} >> ${8 * (c % 4)}) & 255)"
    val keyUnion = chunkPairs.map { case (c1, c2) =>
      s"SELECT doc_id, sim_lo, sim_hi, ${c1 * CHUNKS + c2} AS k, " +
        s"${byteOf(c1)} AS v1, ${byteOf(c2)} AS v2 FROM sh"
    }.mkString(" UNION ALL ")
    s"""ex AS (
       |  SELECT doc_id, ('0x' || substr(h, 1, 8))::BIGINT AS vh,
       |         ('0x' || substr(h, 9, 8))::BIGINT AS vl FROM (
       |    SELECT doc_id, md5(sh) AS h FROM (
       |      SELECT doc_id, unnest($oShingles3) AS sh
       |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))),
       |sums AS (SELECT doc_id, $sums FROM ex GROUP BY doc_id),
       |sh AS (SELECT doc_id, ${half(0 until 4)} AS sim_lo,
       |       ${half(4 until 8)} AS sim_hi FROM sums),
       |keyed AS ($keyUnion),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.sim_lo AS lo_a, a.sim_hi AS hi_a,
       |         b.sim_lo AS lo_b, b.sim_hi AS hi_b
       |  FROM keyed a JOIN keyed b
       |    ON a.k = b.k AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.doc_id < b.doc_id)""".stripMargin
  }

  val oracleQ31: String =
    s"""WITH ${oSimhashCtes}
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= $HAMMAX
       |ORDER BY id_a, id_b""".stripMargin

  // =====================================================================
  // q40: dedup clusters (connected components over near-dup pairs)
  // =====================================================================

  /** The step after pair generation that an actual dedup pipeline needs:
    * group near-dup PAIRS into CLUSTERS and pick one keeper per cluster.
    * Edges are the q28 Jaccard >= 0.5 pairs (exact dups are J=1 so they are
    * included); every document is a node (singletons keep themselves).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min cluster label among itself and its neighbors; converges
    * in O(component diameter) rounds. This is the standard distributed
    * connected-components shape: each round is one join + one groupBy
    * (both shuffle on doc_id), and a lineage cut per round keeps round
    * N's plan from replaying rounds 1..N-1. The cut is `localCheckpoint`
    * by default; set `spark.graft.dedup.checkpointDir` to switch to a
    * RELIABLE `checkpoint()` (see [[Caching.cutLineage]]) — the cluster-
    * scale option, since localCheckpoint blocks die with their executor.
    * For graphs with large diameters use the large-star/small-star
    * variant; near-dup components are shallow (dup groups, not social
    * graphs), so the simple loop is the right tool.
    *
    * The DuckDB oracle computes the same fixpoint declaratively with a
    * recursive CTE (min reachable id per node).
    *
    * Split as [[clusterMemo]]/[[dedupClusterLabels]]/[[computeClusterLabels]]
    * below; `q40DedupClusters` adds the member-count window on top. */
  /** Session-lifetime memo of the converged (doc_id, cluster_id) labels
    * per (session, dir). The propagation loop is DRIVER-side iteration, so
    * Spark's plan-identity cache cannot share it across calls the way it
    * shares declarative subplans — without this, q43 re-runs q40's whole
    * fixpoint. Same staleness semantics as any .cache(): valid for the
    * session; restart (or clear) if the files under `dir` mutate. A race
    * between concurrent first calls computes the loop twice and keeps one
    * result — idempotent, so harmless. */
  private val clusterMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Converged cluster labels (doc_id, cluster_id) — memoized; see
    * [[clusterMemo]]. */
  private def dedupClusterLabels(s: SparkSession, dir: String): DataFrame =
    clusterMemo.getOrElseUpdate((s, dir), computeClusterLabels(s, dir).persist())

  def q40DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val all = dedupClusterLabels(s, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    all
      .withColumn("n_members", count(lit(1)).over(w))
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
      .orderBy("doc_id")
  }

  private def computeClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val labels = propagateLabels(jaccardPairsFrame(s, dir).select(col("id_a"), col("id_b")))
    // singletons rejoin with their own id as the cluster label
    docs(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Min-label propagation over undirected (id_a, id_b) pairs → converged
    * (doc_id, cluster_id) for every node that HAS an edge. Reused by
    * [[TextOps.dedupClusters]] and [[VectorOps.semanticDedupIndexed]] for
    * arbitrary input frames.
    *
    * Two regimes, switched on the EDGE COUNT (the dup graph, not the
    * corpus): post-threshold dup graphs are sparse by construction —
    * orders of magnitude smaller than the corpus — so when the edges fit
    * under `spark.graft.dedup.localCcMaxEdges` (default 2e6) the
    * components are solved with a DRIVER-SIDE union-find: one collect of
    * narrow (long, long) rows, exact min-member labels, and the result
    * becomes a LocalRelation that BROADCASTS into the label join (no
    * label-side shuffle at all). The distributed min-label fixpoint
    * (O(diameter) rounds, each a join + checkpoint) remains the fallback
    * for dup graphs beyond the knob — both paths converge to the
    * identical fixed point (per-component min id), which the q40/q60
    * recursive-CTE oracles pin cross-engine. */
  private[queries] def propagateLabels(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    val p = pairs.select(col("id_a"), col("id_b")).persist()
    val nEdges = p.count()
    val maxLocal =
      s.conf.get("spark.graft.dedup.localCcMaxEdges", "2000000").toLong
    if (nEdges <= maxLocal) {
      val out = localUnionFind(p)
      p.unpersist(false)
      out
    } else propagateLabelsDistributed(p)
  }

  /** Exact union-find over a collected edge list: union-by-min-root keeps
    * every tree's root at its component's minimum id, so `find(x)` IS the
    * min-reachable label. Deterministic regardless of edge order. */
  private def localUnionFind(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent.update(c, r); c = n }
      r
    }
    pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.contains(a)) parent.update(a, a)
        if (!parent.contains(b)) parent.update(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = parent.keys.toArray.sorted
      .map(k => org.apache.spark.sql.Row(k, find(k))).toSeq
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** The distributed fixpoint (see [[propagateLabels]]). `pairs` arrives
    * cached; it is consumed into the symmetric `edges` cache below. */
  private def propagateLabelsDistributed(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .withColumnRenamed("id_a", "src").withColumnRenamed("id_b", "dst")
      .persist()
    // iterate ONLY over nodes that have at least one edge: a singleton's
    // label can never change (no neighbors), so it joins the result at
    // the end with its own id. At corpus scale this shrinks every round
    // from O(corpus) to O(dup-graph nodes) — usually orders of magnitude
    // smaller (here: ~50 of 5000 docs).
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .transform(Caching.cutLineage(_, eager = true))
    // the eager cutLineage above fully scanned `edges`, materializing its
    // cache — the pair projection is consumed and can be released (the
    // local branch releases it in propagateLabels; without this the
    // distributed branch leaked one cache entry per call)
    pairs.unpersist(false)
    var changed = 1L
    var rounds = 0
    val maxRounds = 50
    while (changed > 0 && rounds < maxRounds) {
      val viaNbr = edges
        .join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"), lit(false).as("self"))
      // change detection is folded INTO the label aggregation: each node's
      // previous label rides along as `prev` (max of the single self row;
      // neighbor rows contribute null), so detecting convergence is a
      // cheap scan of the just-checkpointed result instead of an extra
      // join of two label snapshots per round (halves the per-round jobs).
      // LAZY checkpoint: the convergence count below is the action that
      // materializes it, so each round runs ONE job (update + count)
      // instead of an eager-checkpoint job followed by a count job
      val next = labels.withColumn("self", lit(true))
        .unionAll(viaNbr)
        .groupBy("doc_id")
        .agg(min("cluster_id").as("cluster_id"),
          max(when(col("self"), col("cluster_id"))).as("prev"))
        .transform(Caching.cutLineage(_, eager = false))
      changed = next.filter(col("cluster_id") =!= col("prev")).count()
      labels = next.select("doc_id", "cluster_id")
      rounds += 1
    }
    // every label snapshot was checkpointed (lineage cut) and materialized
    // by its convergence count, so the symmetric edge cache is no longer
    // reachable from the result — release it
    edges.unpersist(false)
    // Min-label propagation converges in O(component diameter) rounds;
    // silently returning unconverged labels would diverge from the
    // oracle's recursive-CTE fixpoint, so an over-deep graph is an error.
    // (A corpus whose dup graph has diameter > 50 should use the
    // large-star/small-star algorithm, which converges in O(log d).)
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds ($changed labels still changing)")
    labels
  }

  val oracleQ40: String = {
    // q28's pair derivation inlined as CTEs, then min-reachable-id per node
    s"""WITH RECURSIVE sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |           count(*) AS n_common, min(a.n) AS na, min(b.n) AS nb
       |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id)
       |  WHERE CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE) >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS n_members
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  // =====================================================================
  // q41: frequency-capped Jaccard pairs (the 100 TB hot-shingle guard)
  // =====================================================================

  private val DFCAP = 100L // max shingle document-frequency for candidates

  /** q28 with the scale guard applied: the self-join is restricted to
    * shingles whose corpus-wide DOCUMENT FREQUENCY is <= [[DFCAP]], so a
    * pathological shingle shared by millions of documents can never
    * produce an O(hot²) join bucket — the standard guard that keeps the
    * shared-shingle join feasible at 100 TB (shingle frequency here is
    * near-uniform with max df 25, so the cap is invisible; on web corpora
    * boilerplate n-grams hit df ~10^6 without it).
    *
    * The Jaccard stays EXACT: n_common = (cold intersection, counted off
    * the capped join exactly like q28) + (hot intersection, computed by
    * intersecting the per-doc HOT-shingle arrays — only docs containing a
    * hot shingle carry one, and each array holds at most the few shingles
    * with df > cap; the ROW count can still be large, see the join-side
    * note below). A pair is lost
    * only when EVERY shared shingle is hot, which a genuine near-dup
    * (many shared shingles) never triggers — the standard, documented
    * recall trade of this guard. The cap is mirrored in the oracle, so
    * parity holds by construction. */
  def q41JaccardCapped(s: SparkSession, dir: String): DataFrame =
    cappedJaccardPairsOf(docs(s, dir), 0.5, DFCAP).orderBy("id_a", "id_b")

  /** The df-annotated hashed-shingle frame (doc_id, n, sh, df), cached:
    * consumed by the capped self-join (both sides) and the hot-array
    * builder. Document frequency via TWO-PHASE groupBy + join-back,
    * deliberately NOT a `count over (partition by sh)` window: a window
    * has no partial aggregation, so the hottest shingle (df ~10^6-10^8 on
    * web corpora) would put ALL its rows in one window partition on one
    * task — the precise skew regime this cap exists to guard against. The
    * groupBy combines map-side (each task emits one (sh, cnt) pair per
    * local shingle), and the join-back is an equi-join AQE can handle: it
    * broadcasts the df table when it measures small and skew-splits the
    * sort-merge fallback — both regimes a window cannot reach.
    *
    * Cache point deliberately on the JOINED frame, not the (sh, df)
    * table: moving it to dfTab (tried r20 — "cache the narrow side,
    * re-stream the join" per guide §5) measured the family 1.96 → 3.20 s
    * in-suite, because cappedPairStatsOf consumes this frame THREE times
    * (cold a-side, cold b-side broadcast build, hot filter) and each
    * consumer re-paid the join — including inside the broadcast-build
    * subtree. One materialized copy beats three lazy recomputes here. */
  private def dfAnnotatedOf(d: DataFrame): DataFrame = {
    val base = hashedShingleRowsOf(d)
    val dfTab = base.groupBy("sh").agg(count(lit(1)).as("df"))
    base.join(dfTab, Seq("sh")).persist()
  }

  /** Shared capped PAIR-STAT frame: (id_a, id_b, n_common, na, nb) for
    * every doc pair sharing at least one cold (df <= cap) shingle, with
    * n_common EXACT (cold count + hot-array intersection). Cached by plan
    * identity — the Jaccard (q41) and containment (q69) scorings are just
    * different ratios over this same frame, so a session computing both
    * pays the candidate join once. */
  private[queries] def cappedPairStatsOf(d: DataFrame, dfCap: Long): DataFrame = {
    val exDf = dfAnnotatedOf(d)
    val cold = exDf.filter(col("df") <= dfCap).select("doc_id", "n", "sh")
    // per-doc hot-shingle arrays: rows exist ONLY for docs touching a hot
    // shingle. Each ARRAY is tiny (the few shingles with df > cap), but the
    // ROW COUNT is one per document touching any hot shingle — on a web
    // corpus a boilerplate shingle with df ~ 10^6 puts millions of docs
    // here, so this side must NOT be force-broadcast; AQE broadcasts it
    // when it measures small and falls back to a shuffle join when not.
    // Deliberately NOT persisted even though hot_a/hot_b join it twice:
    // the two broadcast builds run CONCURRENTLY as independent subtrees,
    // while a cache entry serializes them into materialize-then-read —
    // measured r20: q69 1.31 → 1.53/1.64 s, q41/q75 regress too (the
    // tried-and-reverted negative in OPTIMIZATION_r20.md).
    val hot = exDf.filter(col("df") > dfCap)
      .groupBy("doc_id").agg(collect_list(col("sh")).as("hot"))
    val a = cold.select(col("doc_id").as("id_a"), col("n").as("na"), col("sh"))
    val b = cold.select(col("doc_id").as("id_b"), col("n").as("nb"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_cold"), min("na").as("na"), min("nb").as("nb"))
    val emptyArr = array().cast("array<bigint>")
    val nHot = size(array_intersect(
      coalesce(col("hot_a"), emptyArr), coalesce(col("hot_b"), emptyArr))).cast("long")
    inter
      .join(hot.select(col("doc_id").as("id_a"), col("hot").as("hot_a")), Seq("id_a"), "left")
      .join(hot.select(col("doc_id").as("id_b"), col("hot").as("hot_b")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (col("n_cold") + nHot).as("n_common"), col("na"), col("nb"))
      .persist()
  }

  private[queries] def cappedJaccardPairsOf(d: DataFrame, threshold: Double,
      dfCap: Long): DataFrame = {
    val stats = cappedPairStatsOf(d, dfCap)
    val j = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common")).cast("double")
    stats.filter(j >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("na"), col("nb"),
        round(j, 6).as("jaccard"))
  }

  /** Containment pairs through the same df-cap guard ([[cappedPairStatsOf]])
    * — the production default for [[containmentPairsOf]]: a pair is lost
    * only when EVERY shared shingle is hot, same documented recall trade
    * as q41. */
  private[queries] def cappedContainmentPairsOf(d: DataFrame,
      threshold: Double, dfCap: Long): DataFrame = {
    val stats = cappedPairStatsOf(d, dfCap)
    val c = col("n_common").cast("double") /
      least(col("na"), col("nb")).cast("double")
    stats.filter(c >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("na"), col("nb"),
        round(c, 6).as("containment"))
  }

  val oracleQ41: String =
    s"""WITH sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |freq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
       |exdf AS (SELECT e.doc_id, e.n, e.sh, f.df FROM ex e JOIN freq f ON f.sh = e.sh),
       |cold AS (SELECT doc_id, n, sh FROM exdf WHERE df <= $DFCAP),
       |hot AS (SELECT doc_id, list(sh) AS hot FROM exdf WHERE df > $DFCAP GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*) AS n_cold, min(a.n) AS na, min(b.n) AS nb
       |  FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |scored AS (
       |  SELECT i.id_a, i.id_b,
       |         i.n_cold + CAST(len(list_intersect(
       |           coalesce(ha.hot, []), coalesce(hb.hot, []))) AS BIGINT) AS n_common,
       |         i.na, i.nb
       |  FROM inter i
       |  LEFT JOIN hot ha ON ha.doc_id = i.id_a
       |  LEFT JOIN hot hb ON hb.doc_id = i.id_b)
       |SELECT id_a, id_b, n_common, na, nb,
       |  round(CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE), 6) AS jaccard
       |FROM scored
       |WHERE CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // =====================================================================
  // q42: deterministic stratified sampling (reproducible splits at scale)
  // =====================================================================

  /** Language-stratified DETERMINISTIC sample: keep a document when
    * `md5(doc_id) mod 1000` falls under its stratum's per-mille rate
    * (en: 10%, other langs: 30%). Hash-mod sampling instead of RNG is
    * what a training pipeline actually wants: the split is a pure
    * function of the stable id — reproducible across runs/engines,
    * stable under repartitioning, and membership is decidable per row
    * with no sampling state. Scale: map + filter, zero shuffle; at
    * 100 TB this is a scan whose output is the sample. */
  def q42StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000")
    val rate = when(col("lang") === "en", lit(100L)).otherwise(lit(300L))
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        bucket.as("bucket"), rate.as("rate_permille"))
      .filter(col("bucket") < col("rate_permille"))
      .orderBy("doc_id")
  }

  val oracleQ42: String = {
    val bucket = (0 until 8).map { k =>
      val pow = 1L << (4 * (7 - k))
      s"(strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1) * $pow"
    }.mkString("(", " + ", ")")
    s"""SELECT doc_id, lang, n_chars, bucket, rate_permille FROM (
       |  SELECT doc_id, lang, n_chars, $bucket % 1000 AS bucket,
       |         CAST(CASE WHEN lang = 'en' THEN 100 ELSE 300 END AS BIGINT)
       |           AS rate_permille
       |  FROM (SELECT doc_id, lang, n_chars,
       |          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents))
       |WHERE bucket < rate_permille ORDER BY doc_id""".stripMargin
  }

  // =====================================================================
  // q43: canonical document per dedup cluster (keep-best)
  // =====================================================================

  /** The decision step a dedup pipeline ends with: for every q40 cluster,
    * KEEP the member with the highest q24 quality score (ties broken by
    * lowest doc_id — fully deterministic). Output is one row per cluster:
    * the keeper, the member count, and the winning quality. Scale: the
    * cluster labels (narrow: two longs per doc) join the quality
    * projection on doc_id, then one window partitioned by cluster_id —
    * both shuffles are on compact keys; text never travels. */
  def q43KeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = q40DedupClusters(s, dir)
    val quality = q24DocStats(s, dir).select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("n_members"), col("quality").as("best_quality"))
      .orderBy("cluster_id")
  }

  val oracleQ43: String = {
    val quality =
      """round(((CASE WHEN n_chars >= 200 AND n_chars <= 450 THEN 1.0
        |         WHEN n_chars >= 100 THEN 0.5 ELSE 0.0 END)
        |  + CAST(len(list_distinct(w)) AS DOUBLE)/CAST(len(w) AS DOUBLE)
        |  + (1.0 - CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS DOUBLE)
        |      /CAST(len(w) AS DOUBLE)))/3.0, 6)""".stripMargin
    s"""WITH RECURSIVE sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |           count(*) AS n_common, min(a.n) AS na, min(b.n) AS nb
       |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id)
       |  WHERE CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE) >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
       |quality AS (
       |  SELECT doc_id, $quality AS quality
       |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents)),
       |ranked AS (
       |  SELECT lab.cluster_id, lab.doc_id, q.quality,
       |         row_number() OVER (PARTITION BY lab.cluster_id
       |                            ORDER BY q.quality DESC, lab.doc_id ASC) AS rn,
       |         count(*) OVER (PARTITION BY lab.cluster_id) AS n_members
       |  FROM lab JOIN quality q ON q.doc_id = lab.doc_id)
       |SELECT cluster_id, doc_id AS keeper_id, n_members, quality AS best_quality
       |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  // =====================================================================
  // q44: repetition / quality signals (Gopher-style filters)
  // =====================================================================

  /** The within-document repetition signals quality-filter pipelines use
    * (the Gopher/C4 rule family): duplicate-3-gram ratio (1 − distinct /
    * total shingles WITH multiplicity) and the most-frequent-token share.
    * High values flag boilerplate/spam for removal before training. All
    * ratios are exact integer divisions rounded once — engine-portable.
    * Scale: pure per-row projection (array ops + one `aggregate` fold for
    * the mode count) — no shuffle at all. */
  def q44RepetitionStats(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("long")
    // total 3-grams WITH multiplicity = max(n_tokens - 2, 0)
    val total3 = greatest(nTok - 2, lit(0L))
    val nDis3 = size(shingles3(toks)).cast("long") // shingles3 is distinct
    val dupRatio = when(total3 > 0,
      round((total3 - nDis3).cast("double") / total3.cast("double"), 6))
      .otherwise(lit(0.0))
    // most frequent token count: fold over distinct tokens counting
    // occurrences via array filtering (tokens per doc are <= 100 here;
    // document the O(distinct × n) bound — fine for short docs, switch to
    // explode+groupBy for book-length inputs)
    val maxTf = expr(
      "aggregate(array_distinct(split(text, ' ')), 0L, " +
        "(acc, t) -> greatest(acc, size(filter(split(text, ' '), x -> x = t))))")
      .cast("long")
    docs(s, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      total3.as("n_3grams"),
      nDis3.as("n_distinct_3grams"),
      dupRatio.as("dup_3gram_ratio"),
      maxTf.as("max_token_freq"),
      when(nTok > 0, round(maxTf.cast("double") / nTok.cast("double"), 6))
        .otherwise(lit(0.0)).as("max_token_share"))
      .orderBy("doc_id")
  }

  val oracleQ44: String =
    s"""SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(greatest(len(w) - 2, 0) AS BIGINT) AS n_3grams,
       |  CAST(len($oShingles3) AS BIGINT) AS n_distinct_3grams,
       |  CASE WHEN len(w) - 2 > 0 THEN
       |    round(CAST(greatest(len(w) - 2, 0) - len($oShingles3) AS DOUBLE)
       |      / CAST(greatest(len(w) - 2, 0) AS DOUBLE), 6)
       |  ELSE 0.0 END AS dup_3gram_ratio,
       |  CAST(list_max(list_transform(list_distinct(w),
       |    t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS max_token_freq,
       |  CASE WHEN len(w) > 0 THEN
       |    round(CAST(list_max(list_transform(list_distinct(w),
       |      t -> len(list_filter(w, x -> x = t)))) AS DOUBLE)
       |      / CAST(len(w) AS DOUBLE), 6)
       |  ELSE 0.0 END AS max_token_share
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q48: incremental dedup — new batch vs the existing corpus index
  // =====================================================================

  /** The serving shape of a production ingest pipeline: an INCOMING BATCH
    * (a deterministic ~10% hash-mod slice of `documents`, standing in for
    * "today's crawl") is deduplicated AGAINST THE EXISTING CORPUS rather
    * than all-pairs. Two layers, exactly as deployed systems stack them:
    *
    *  1. exact: the batch's content hashes probe the corpus's
    *     min-id-per-hash map — verdict `exact_dup`;
    *  2. near: the batch's MinHash band rows probe the corpus band INDEX
    *     (the same [[bandRows]] relation q30 uses — in a long-lived ingest
    *     session that cache IS the stored index), candidates are verified
    *     with true 3-gram Jaccard >= 0.5, and the best partner wins
    *     (highest Jaccard, ties to the lowest corpus id) — `near_dup`;
    *  otherwise the document is `new`.
    *
    * Intra-batch duplicates are deliberately out of scope (q27/q28 handle
    * those); verdicts are batch-vs-corpus only. Scale: the expensive side
    * is BATCH-proportional — the corpus contributes its (precomputed)
    * signatures through an equi-join, never a scan per batch doc; exactly
    * why incremental ingest stays cheap when the corpus is 100 TB and the
    * batch is 0.1%. */
  def q48IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // same deterministic hash-mod family as q42: pure function of doc_id
    def bucketOf(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 1000
    val isBatch = bucketOf(col("doc_id")) < 100
    val d = docs(s, dir)
    // exact layer: batch content hashes probe min-id-per-hash over the
    // corpus (one narrow groupBy + a left join on a 32-char key)
    val hashed = d.select(col("doc_id"), md5(col("text")).as("ch"))
    val exact = hashed.filter(isBatch)
      .join(hashed.filter(!isBatch)
        .groupBy("ch").agg(min("doc_id").as("exact_partner")), Seq("ch"), "left")
      .select(col("doc_id"), col("exact_partner"))
    // near layer: batch band rows probe the corpus band index
    val bands = bandRows(s, dir)
    val cand = bands.filter(bucketOf(col("doc_id")) < 100).as("x")
      .join(bands.filter(bucketOf(col("doc_id")) >= 100).as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner_id"))
      .distinct()
    val sets = shingleSets(s, dir)
    val interC = size(array_intersect(col("ts_a"), col("ts_b"))).cast("long")
    val j = interC.cast("double") /
      ((size(col("ts_a")) + size(col("ts_b"))).cast("long") - interC).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("j").desc, col("partner_id").asc)
    val best = cand
      .join(sets.select(col("doc_id"), col("ts").as("ts_a")), "doc_id")
      .join(sets.select(col("doc_id").as("partner_id"), col("ts").as("ts_b")), "partner_id")
      .withColumn("j", j).filter(col("j") >= 0.5)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("partner_id").as("near_partner"), col("j"))
    d.filter(isBatch).select(col("doc_id"))
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

  val oracleQ48: String = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, $b AS b, band$b AS h FROM sig").mkString(" UNION ALL ")
    s"""WITH ${oMinhashCtes},
       |flags AS (
       |  SELECT doc_id,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 100)
       |      AS is_batch
       |  FROM documents),
       |hashes AS (
       |  SELECT d.doc_id, md5(d.text) AS ch, f.is_batch
       |  FROM documents d JOIN flags f ON f.doc_id = d.doc_id),
       |exact AS (
       |  SELECT b.doc_id, min(c.doc_id) AS exact_partner
       |  FROM hashes b JOIN hashes c ON c.ch = b.ch AND NOT c.is_batch
       |  WHERE b.is_batch GROUP BY b.doc_id),
       |bandrows AS ($bandUnion),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS partner_id
       |  FROM bandrows x
       |  JOIN flags fx ON fx.doc_id = x.doc_id AND fx.is_batch
       |  JOIN bandrows y ON y.b = x.b AND y.h = x.h
       |  JOIN flags fy ON fy.doc_id = y.doc_id AND NOT fy.is_batch),
       |sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |scored AS (
       |  SELECT c.doc_id, c.partner_id,
       |    CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
       |      / CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) AS j
       |  FROM cand c
       |  JOIN sets ta ON ta.doc_id = c.doc_id
       |  JOIN sets tb ON tb.doc_id = c.partner_id),
       |best AS (
       |  SELECT doc_id, partner_id AS near_partner, j FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY j DESC, partner_id ASC) AS rn
       |    FROM scored WHERE j >= 0.5) WHERE rn = 1)
       |SELECT f.doc_id,
       |  CASE WHEN e.exact_partner IS NOT NULL THEN 'exact_dup'
       |       WHEN b.near_partner IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  coalesce(e.exact_partner, b.near_partner) AS partner_id,
       |  CASE WHEN e.exact_partner IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       |       ELSE round(b.j, 6) END AS jaccard
       |FROM flags f
       |LEFT JOIN exact e ON e.doc_id = f.doc_id
       |LEFT JOIN best b ON b.doc_id = f.doc_id
       |WHERE f.is_batch ORDER BY f.doc_id""".stripMargin
  }

  // =====================================================================
  // q49: benchmark decontamination (eval-set n-gram overlap scan)
  // =====================================================================

  /** Training-data decontamination, the published recipe (n-gram overlap
    * against the evaluation sets, as described in the GPT-3 and PaLM
    * appendices): every 3-gram of the held-out BENCHMARK slice (here the
    * deterministic `doc_id % 97 = 0` docs, standing in for an eval set)
    * is collected into one distinct set, and every training document
    * reports how many of its shingles appear in it. Any overlap flags the
    * document for removal/review.
    *
    * Scale shape: the benchmark side is BOUNDED BY CONSTRUCTION — eval
    * sets are thousands of documents, so their distinct-shingle set is
    * broadcastable no matter how big the training corpus is (this is the
    * legitimate broadcast case, unlike q41's per-document hot rows). The
    * corpus side is then a map-side broadcast-hash join + a partial-agg
    * count per doc_id: one shuffle of (doc_id, count) pairs, no
    * corpus-side shuffle of shingles at all. Rides the same
    * [[hashedShingleRows]] cache as the dedup family. */
  def q49Decontamination(s: SparkSession, dir: String): DataFrame = {
    val rows = hashedShingleRows(s, dir)
    val bench = rows.filter(col("doc_id") % 97 === 0).select(col("sh")).distinct()
    val overlaps = rows.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    shingleSets(s, dir).filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_shingles"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(coalesce(col("n_overlap"), lit(0L)) > 0, lit(1L)).otherwise(lit(0L))
          .as("contaminated"))
      .orderBy("doc_id")
  }

  val oracleQ49: String =
    s"""WITH sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |ex AS (SELECT doc_id, unnest(ts) AS sh FROM sets),
       |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 97 = 0),
       |ov AS (
       |  SELECT e.doc_id, count(*) AS n_overlap
       |  FROM ex e JOIN bench b ON b.sh = e.sh
       |  WHERE e.doc_id % 97 <> 0 GROUP BY e.doc_id)
       |SELECT s.doc_id, CAST(len(s.ts) AS BIGINT) AS n_shingles,
       |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(CASE WHEN coalesce(o.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS contaminated
       |FROM sets s LEFT JOIN ov o ON o.doc_id = s.doc_id
       |WHERE s.doc_id % 97 <> 0 ORDER BY s.doc_id""".stripMargin

  // =====================================================================
  // q61: graded contamination scoring (overlap fraction + severity)
  // =====================================================================

  /** Severity thresholds of the oracle-checked binding: the PaLM-style
    * graded policy (review high, sample-audit medium, keep low) instead of
    * q49's binary any-overlap flag. */
  val ContamHigh = 0.05
  val ContamMedium = 0.01

  /** Shared assembly for q49's graded sibling: given the corpus's hashed
    * shingle rows + distinct-set sizes and the (bounded, broadcast)
    * eval-set shingles, emit per-document overlap counts, the overlap
    * FRACTION (share of the document's distinct 3-grams that appear in
    * the eval set, rounded once), and the severity bucket computed FROM
    * the rounded fraction — so both engines bucket identical doubles. */
  private def contaminationAssembly(corpusRows: DataFrame, benchSh: DataFrame,
      corpusSets: DataFrame, high: Double, medium: Double): DataFrame = {
    val overlaps = corpusRows
      .join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    corpusSets
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_shingles"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_shingles") === 0L, lit(0.0))
          .otherwise(round(col("n_overlap").cast("double") /
            col("n_shingles").cast("double"), 6)))
      .withColumn("severity",
        when(col("overlap_frac") >= high, lit("high"))
          .when(col("overlap_frac") >= medium, lit("medium"))
          .when(col("overlap_frac") > 0.0, lit("low"))
          .otherwise(lit("clean")))
  }

  /** Map-only decontamination SCREEN: a broadcast BLOOM FILTER of the
    * eval set's shingle hashes replaces the exact broadcast hash join —
    * each corpus document pays one membership probe per shingle against
    * a bits-bounded filter literal, with NO join and NO shuffle of any
    * kind (the flag is a pure projection over the cached shingle sets).
    *
    * Contract: no false negatives — every document the exact scan
    * ([[contaminationScoreOf]] with n_overlap > 0) flags is flagged
    * here (Bloom filters cannot miss an inserted element); false
    * positives at the filter's rate flag clean documents. The scale
    * play: run the screen over the full corpus, then feed ONLY the
    * flagged sliver to the exact overlap join — at a 10⁷-shingle eval
    * suite the filter is ~1 MB where the exact distinct-hash broadcast
    * is ~100 MB, and the (overwhelmingly clean) unflagged mass never
    * enters a join at all. `numBits` trades broadcast size for the
    * false-positive rate (fpp ≈ (1−e^(−kn/m))^k with Spark's default
    * k); both knobs sit inside Spark's runtime-filter conf caps.
    *
    * Output: (doc_id, flagged 0/1). Spec-pinned (BloomScreenSpec):
    * flagged ⊇ the exact contaminated set at ANY numBits; plan is
    * join-free. */
  /** The eval-set Bloom bits — the FIT half of the screen ([[BloomScreen]]
    * persists exactly these bytes; parquet binary round-trips exactly, so
    * a persisted screen is bit-identical to the in-session one). */
  private[queries] def bloomScreenBytes(bench: DataFrame, nGrams: Int,
      numBits: Long, estItems: Long = 0L): Array[Byte] = {
    GraftFunctions.register(bench.sparkSession)
    // estItems sets the aggregate's hash-function count k (optimal
    // k ≈ m/n·ln2); callers that measured the true distinct-shingle
    // count pass it ([[BloomScreen.buildSized]]), the legacy default
    // keeps the m/16 guess for bit-compat with existing artifacts
    hashedShingleRowsNOf(bench, nGrams)
      .agg(GraftFunctions.bloomAgg(col("sh"),
        estItems =
          if (estItems > 0L) estItems else math.max(numBits / 16L, 1L),
        numBits = numBits))
      .head().getAs[Array[Byte]](0)
  }

  /** The benchmark's distinct `nGrams`-gram shingle count — the `n` of
    * the standard Bloom sizing formula. */
  private[queries] def distinctShingleCount(bench: DataFrame,
      nGrams: Int): Long =
    hashedShingleRowsNOf(bench, nGrams).select(col("sh")).distinct().count()

  /** The APPLY half: a pure map-only projection — the filter bytes ride
    * as a literal, so the plan has no join, no shuffle, and no scan
    * beyond the corpus itself. */
  private[queries] def bloomScreenApply(corpus: DataFrame,
      filterBytes: Array[Byte], nGrams: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val probe = lit(filterBytes)
    shingleSetsNOf(corpus, nGrams)
      .select(col("doc_id"),
        when(exists(transform(col("ts"), s => xxhash64(s)),
          h => GraftFunctions.bloomContains(probe, h)), lit(1L))
          .otherwise(lit(0L)).as("flagged"))
  }

  private[queries] def decontaminationScreenOf(corpus: DataFrame,
      bench: DataFrame, nGrams: Int = 3,
      numBits: Long = 1L << 22): DataFrame =
    bloomScreenApply(corpus, bloomScreenBytes(bench, nGrams, numBits),
      nGrams)

  /** Graded contamination core over arbitrary corpus/bench frames —
    * [[TextOps.contaminationScore]]'s implementation. Same broadcast
    * shape as q49 (eval shingles bounded by construction; corpus side
    * never shuffles its shingles). `nGrams` sets the overlap window
    * (default 3 = the oracle-checked binding and the shared caches;
    * production decontamination runs 8–13). */
  private[queries] def contaminationScoreOf(corpus: DataFrame,
      bench: DataFrame, high: Double = ContamHigh,
      medium: Double = ContamMedium, nGrams: Int = 3): DataFrame =
    contaminationAssembly(
      hashedShingleRowsNOf(corpus, nGrams),
      hashedShingleRowsNOf(bench, nGrams).select(col("sh")).distinct(),
      shingleSetsNOf(corpus, nGrams), high, medium)

  /** q61: q49's eval-set overlap scan upgraded to a GRADED score — the
    * decontamination policy real pipelines run is fraction-based (a doc
    * sharing one boilerplate 3-gram with an eval set is noise; a doc
    * whose shingles are 10% eval content is a leak). Rides the same
    * cached shingle derivation as q49 — the eval scan amortizes to zero
    * extra corpus passes in a session that already deduped. */
  def q61ContaminationScore(s: SparkSession, dir: String): DataFrame = {
    val rows = hashedShingleRows(s, dir)
    contaminationAssembly(
      rows.filter(col("doc_id") % 97 =!= 0),
      rows.filter(col("doc_id") % 97 === 0).select(col("sh")).distinct(),
      shingleSets(s, dir).filter(col("doc_id") % 97 =!= 0),
      ContamHigh, ContamMedium)
      .orderBy("doc_id")
  }

  val oracleQ61: String =
    s"""WITH sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |ex AS (SELECT doc_id, unnest(ts) AS sh FROM sets),
       |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 97 = 0),
       |ov AS (
       |  SELECT e.doc_id, count(*) AS n_overlap
       |  FROM ex e JOIN bench b ON b.sh = e.sh
       |  WHERE e.doc_id % 97 <> 0 GROUP BY e.doc_id),
       |f AS (
       |  SELECT s.doc_id, CAST(len(s.ts) AS BIGINT) AS n_shingles,
       |    CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       |    CASE WHEN len(s.ts) = 0 THEN 0.0
       |         ELSE round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) /
       |           CAST(len(s.ts) AS DOUBLE), 6) END AS overlap_frac
       |  FROM sets s LEFT JOIN ov o ON o.doc_id = s.doc_id
       |  WHERE s.doc_id % 97 <> 0)
       |SELECT doc_id, n_shingles, n_overlap, overlap_frac,
       |  CASE WHEN overlap_frac >= $ContamHigh THEN 'high'
       |       WHEN overlap_frac >= $ContamMedium THEN 'medium'
       |       WHEN overlap_frac > 0 THEN 'low'
       |       ELSE 'clean' END AS severity
       |FROM f ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q50: composite quality filter (the Gopher/C4 rule family as a verdict)
  // =====================================================================

  /** Rule-based quality FILTER: the q24/q44 signals composed into
    * per-rule pass flags and a keep/drop verdict — the shape a training
    * pipeline actually consumes (FILTER the corpus, not just score it;
    * the rule set follows the published Gopher/C4 heuristics: token
    * count bounds, mean word length bounds, minimum distinct stopwords,
    * max-token-share cap, duplicate-3-gram cap).
    *
    * Determinism: every signal is exact integer arithmetic or a single
    * IEEE division evaluated identically in both engines; thresholds
    * compare the UNROUNDED values; `round(..., 6)` exactly once for the
    * reported columns. Flags are BIGINT 0/1 (portable hashing).
    * Scale: pure per-row projection — zero shuffle; at 100 TB this is a
    * map over the scan, the cheapest possible plan. */
  private[queries] def qualityFilterOf(d: DataFrame): DataFrame = {
    val nTok = size(toks).cast("long")
    // exact sum of token lengths (a fold, not the n_chars shortcut — the
    // generic form cannot assume single-space separation is lossless)
    val sumWl = expr(
      "CAST(aggregate(split(text, ' '), 0L, (acc, t) -> acc + length(t)) AS BIGINT)")
    val meanWl = sumWl.cast("double") / nTok.cast("double")
    val stops = array(Seq("the", "a", "of", "to", "and", "in").map(lit): _*)
    val nStop = size(array_intersect(array_distinct(toks), stops)).cast("long")
    val maxTf = expr(
      "aggregate(array_distinct(split(text, ' ')), 0L, " +
        "(acc, t) -> greatest(acc, size(filter(split(text, ' '), x -> x = t))))")
      .cast("long")
    val maxShare = maxTf.cast("double") / nTok.cast("double")
    val total3 = greatest(nTok - 2, lit(0L))
    val dupRatio = when(total3 > 0,
      (total3 - size(shingles3(toks)).cast("long")).cast("double") /
        total3.cast("double")).otherwise(lit(0.0))
    def flag(c: Column) = when(c, lit(1L)).otherwise(lit(0L))
    val rLen = flag(nTok >= 20 && nTok <= 100000)
    val rWl = flag(meanWl >= 3.0 && meanWl <= 10.0)
    val rStop = flag(nStop >= 2)
    val rRep = flag(maxShare <= 0.15)
    val rDup = flag(dupRatio < 0.3)
    val nFail = lit(5L) - (rLen + rWl + rStop + rRep + rDup)
    d.select(
      col("doc_id"), nTok.as("n_tokens"),
      round(meanWl, 6).as("mean_word_len"), nStop.as("n_stop_distinct"),
      round(maxShare, 6).as("max_token_share"),
      round(dupRatio, 6).as("dup_3gram_ratio"),
      rLen.as("r_len"), rWl.as("r_word_len"), rStop.as("r_stopwords"),
      rRep.as("r_repetition"), rDup.as("r_dup_3gram"),
      nFail.as("n_rules_failed"),
      flag(nFail === 0L).as("keep"))
  }

  def q50QualityFilter(s: SparkSession, dir: String): DataFrame =
    qualityFilterOf(docs(s, dir)).orderBy("doc_id")

  val oracleQ50: String = {
    val meanWl = "CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)/CAST(len(w) AS DOUBLE)"
    val nStop = "CAST(len(list_intersect(list_distinct(w), ['the','a','of','to','and','in'])) AS BIGINT)"
    val maxTf = "CAST(list_max(list_transform(list_distinct(w), t -> len(list_filter(w, x -> x = t)))) AS BIGINT)"
    val maxShare = s"CAST($maxTf AS DOUBLE)/CAST(len(w) AS DOUBLE)"
    val dupRatio = s"CASE WHEN len(w) - 2 > 0 THEN CAST(greatest(len(w) - 2, 0) - len($oShingles3) AS DOUBLE)/CAST(greatest(len(w) - 2, 0) AS DOUBLE) ELSE 0.0 END"
    s"""SELECT doc_id, n_tokens, mean_word_len, n_stop_distinct,
       |  max_token_share, dup_3gram_ratio,
       |  r_len, r_word_len, r_stopwords, r_repetition, r_dup_3gram,
       |  n_rules_failed,
       |  CAST(CASE WHEN n_rules_failed = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM (
       |  SELECT doc_id, n_tokens, round(mwl, 6) AS mean_word_len,
       |    n_stop_distinct, round(mshare, 6) AS max_token_share,
       |    round(dup3, 6) AS dup_3gram_ratio,
       |    r_len, r_word_len, r_stopwords, r_repetition, r_dup_3gram,
       |    5 - (r_len + r_word_len + r_stopwords + r_repetition + r_dup_3gram)
       |      AS n_rules_failed
       |  FROM (
       |    SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |      $meanWl AS mwl, $nStop AS n_stop_distinct,
       |      $maxShare AS mshare, $dupRatio AS dup3,
       |      CAST(CASE WHEN len(w) >= 20 AND len(w) <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_len,
       |      CAST(CASE WHEN $meanWl >= 3.0 AND $meanWl <= 10.0 THEN 1 ELSE 0 END AS BIGINT) AS r_word_len,
       |      CAST(CASE WHEN $nStop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords,
       |      CAST(CASE WHEN $maxShare <= 0.15 THEN 1 ELSE 0 END AS BIGINT) AS r_repetition,
       |      CAST(CASE WHEN $dupRatio < 0.3 THEN 1 ELSE 0 END AS BIGINT) AS r_dup_3gram
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  // =====================================================================
  // q51: deterministic weighted corpus mixing (training-mix construction)
  // =====================================================================

  /** Build a training MIX with exact per-stratum quotas: within each
    * source, rank documents by `(md5(doc_id), doc_id)` — a deterministic
    * pseudo-random order, a pure function of the stable id — and keep the
    * first `quota` rows. Here even-numbered sources get quota 14 and odd
    * ones 6 per slice (a 70/30 mix over equal-width strata).
    *
    * Two mixing shapes exist at scale: RATE-based (q42's hash-mod — zero
    * shuffle, budget only approximate) and QUOTA-exact (this — one
    * shuffle by stratum + per-stratum rank). Quota-exact is the shape for
    * "exactly N docs of source X in the mix"; the rank window shuffles
    * once on the stratum key and never materializes more than the
    * per-partition top-k when Spark pushes the rank limit (AQE at 100 TB:
    * strata are independent, so skew splits cleanly). */
  private[queries] def weightedMixOf(d: DataFrame, strata: String,
      quota: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(col("h"), col("doc_id"))
    d.select(col("doc_id"), col(strata),
        md5(col("doc_id").cast("string")).as("h"), quota.as("quota"))
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= col("quota"))
      .select(col("doc_id"), col(strata), col("pick_rank"), col("quota"))
      .orderBy("doc_id")
  }

  def q51CorpusMix(s: SparkSession, dir: String): DataFrame =
    weightedMixOf(docs(s, dir), "source",
      when(expr("CAST(substring(source, 4) AS INT)") % 2 === 0, lit(14L))
        .otherwise(lit(6L)))

  val oracleQ51: String =
    """SELECT doc_id, source, pick_rank, quota FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pick_rank,
      |    CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
      |      THEN 14 ELSE 6 END AS BIGINT) AS quota
      |  FROM documents)
      |WHERE pick_rank <= quota ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q52: corpus vocabulary top-k (token + document frequency)
  // =====================================================================

  /** Corpus-level vocabulary table: the k most frequent tokens with term
    * frequency (total occurrences) and document frequency (documents
    * containing the token), ties broken by token for determinism — the
    * vocab-building pass every tokenizer/quality pipeline runs first.
    *
    * Scale shape: explode → two-phase hash aggregate keyed on the token
    * (map-side partial collapses each partition's duplicates, so hot
    * tokens — exactly the top-k targets — shrink before the shuffle);
    * doc frequency via count(DISTINCT doc_id) rides the same aggregate
    * (Spark plans the standard two-shuffle distinct-agg). The top-k is
    * TakeOrderedAndProject over the ≤|vocab| aggregate output — never a
    * global sort of occurrences. */
  private[queries] def vocabTopKOf(d: DataFrame, k: Int): DataFrame =
    d.select(col("doc_id"), explode(toks).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)

  def q52VocabTopK(s: SparkSession, dir: String): DataFrame =
    vocabTopKOf(docs(s, dir), 100)

  val oracleQ52: String =
    """SELECT token, count(*) AS n_occurrences,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY n_occurrences DESC, token ASC LIMIT 100""".stripMargin

  // =====================================================================
  // q69: containment near-dup pairs (asymmetric subset-duplicate)
  // =====================================================================

  /** Near-dup pairs under the CONTAINMENT measure: |A∩B| / min(|A|,|B|)
    * over word-3-gram shingle sets. Jaccard (q28) under-scores the
    * subset-duplicate case — a short doc fully embedded in a long one
    * (a quote, a syndicated article inside a portal page, a README
    * pasted into a monorepo dump) has |A∩B|/|A∪B| ≈ |A|/|B| → 0 as the
    * host grows, but containment stays ≈ 1. This is the measure
    * suffix-style dedup literature uses for "document A is inside B"
    * (reference behavior: de_polars has no pair matcher at all; this
    * extends the dedup family beyond it). Containment ≥ Jaccard always,
    * so these pairs are a superset of q28's at the same threshold.
    *
    * Scale: IDENTICAL physical shape to q28 — the candidate join and
    * the (id_a, id_b) aggregate are shared work with the Jaccard form
    * (both read the cached hashed-shingle base; only the final ratio
    * differs), so a session computing both pays the join once. The
    * df-cap guard (q41) is the DEFAULT here (`dfCap = Some(100)` routes
    * through [[cappedPairStatsOf]], shared with the capped Jaccard);
    * pass `dfCap = None` for the deliberately-uncapped exact baseline
    * (bounded corpora only — on a web corpus a boilerplate shingle makes
    * the uncapped join quadratic). */
  private[queries] def containmentPairsOf(d: DataFrame, threshold: Double,
      dfCap: Option[Long] = Some(DFCAP)): DataFrame = dfCap match {
    case Some(cap) => cappedContainmentPairsOf(d, threshold, cap)
    case None =>
      val ex = hashedShingleRowsOf(d)
      val a = ex.select(col("doc_id").as("id_a"), col("n").as("na"), col("sh"))
      val b = ex.select(col("doc_id").as("id_b"), col("n").as("nb"), col("sh"))
      val inter = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_common"), min("na").as("na"), min("nb").as("nb"))
      val c = col("n_common").cast("double") /
        least(col("na"), col("nb")).cast("double")
      inter.filter(c >= threshold)
        .select(col("id_a"), col("id_b"), col("n_common"), col("na"), col("nb"),
          round(c, 6).as("containment"))
  }

  def q69ContainmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairsOf(docs(s, dir), 0.7).orderBy("id_a", "id_b")

  /** Oracle mirrors the default df-cap (same CTE structure as oracleQ41,
    * containment ratio instead of Jaccard), so parity holds by
    * construction whatever the shingle-frequency distribution. */
  val oracleQ69: String =
    s"""WITH sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |freq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
       |exdf AS (SELECT e.doc_id, e.n, e.sh, f.df FROM ex e JOIN freq f ON f.sh = e.sh),
       |cold AS (SELECT doc_id, n, sh FROM exdf WHERE df <= $DFCAP),
       |hot AS (SELECT doc_id, list(sh) AS hot FROM exdf WHERE df > $DFCAP GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*) AS n_cold, min(a.n) AS na, min(b.n) AS nb
       |  FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |scored AS (
       |  SELECT i.id_a, i.id_b,
       |         i.n_cold + CAST(len(list_intersect(
       |           coalesce(ha.hot, []), coalesce(hb.hot, []))) AS BIGINT) AS n_common,
       |         i.na, i.nb
       |  FROM inter i
       |  LEFT JOIN hot ha ON ha.doc_id = i.id_a
       |  LEFT JOIN hot hb ON hb.doc_id = i.id_b)
       |SELECT id_a, id_b, n_common, na, nb,
       |  round(CAST(n_common AS DOUBLE)/CAST(least(na, nb) AS DOUBLE), 6) AS containment
       |FROM scored
       |WHERE CAST(n_common AS DOUBLE)/CAST(least(na, nb) AS DOUBLE) >= 0.7
       |ORDER BY id_a, id_b""".stripMargin

  // =====================================================================
  // q70: normalized exact dedup (casefold + punctuation-collapse)
  // =====================================================================

  /** Exact dedup over NORMALIZED text: lowercase, collapse every
    * non-alphanumeric run to a single space, trim — the "fuzzy-exact"
    * stage real pipelines run between byte-exact dedup (q27) and
    * shingle near-dup (q28): it catches trivially-reformatted copies
    * (case changes, punctuation/whitespace variants, smart quotes)
    * that q27 misses but that don't merit a candidate join. The
    * normalization regex is in the RE2∩Java common subset (same
    * contract as q57), so both engines rewrite identically.
    *
    * Output is one row per normalized-distinct group, q27's shape:
    * keeper (min doc_id), group size, and the normalized hash the
    * group keys on.
    *
    * Scale: projection + ONE two-phase hash aggregate on the 16-byte
    * md5 of the normalized text — map-side partials collapse dup
    * groups before the shuffle, and only (hash, id, count) crosses the
    * wire, never text. Zero joins; the same shape q27 ships. */
  private[queries] def normalizedDedupOf(d: DataFrame): DataFrame =
    d.select(
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .as("norm_hash"),
      col("doc_id"))
      .groupBy("norm_hash")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_variants"))
      .select(col("keeper_id"), col("n_variants"), col("norm_hash"))

  def q70NormalizedDedup(s: SparkSession, dir: String): DataFrame =
    normalizedDedupOf(docs(s, dir)).orderBy("keeper_id")

  val oracleQ70: String =
    """SELECT min(doc_id) AS keeper_id, count(*) AS n_variants,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash
      |FROM documents
      |GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
      |ORDER BY keeper_id""".stripMargin

  // =====================================================================
  // q74: source-overlap matrix (which sources duplicate each other)
  // =====================================================================

  /** Corpus analytics: for every SOURCE pair, the shingle-set overlap —
    * |shingles(A) ∩ shingles(B)|, each side's distinct-shingle count,
    * and the Jaccard of the two source-level sets. The triage report a
    * curation team reads before dedup: a high-overlap source pair means
    * one is syndicating/mirroring the other and a source-level drop is
    * cheaper than document-level dedup.
    *
    * Scale: the (source, shingle-hash) DISTINCT frame is a two-phase
    * aggregate (map-side partials collapse each source's repeated
    * shingles before the shuffle). Pair counting does NOT self-join:
    * each shingle's source SET is collected in one sh-keyed aggregate
    * (bounded by |sources| — a curated enumeration of tens, never a
    * skew risk), its C(k, 2) ordered pairs explode map-side, and the
    * final pair aggregate is map-combinable into at most C(|sources|, 2)
    * groups. That is one narrow shuffle of the distinct frame instead of
    * re-shuffling BOTH copies of it through a join plus aggregating the
    * Σ C(k,2) join output (BENCH_NOTES.md has the r11 numbers; same
    * rows). Shingle key is xxhash64 (the q28 caveat: string-keyed
    * oracle parity is probabilistic with birthday bound ~s²/2^64). */
  /** Sorted distinct source names per (session, canonical input plan) —
    * the [[clusterMemo]] pattern, same staleness semantics as a cache:
    * valid for the session, restart if the files mutate. */
  private val srcNamesMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Int), Array[String]]

  /** Collect cap for the (mask → count) rollup in [[sourceOverlapOf]]:
    * distinct observed source-combination masks beyond this (16 MiB of
    * driver rows at the default) route to the distributed expansion
    * instead. Session-tunable so the distributed branch is testable. */
  private def sourceOverlapMaskCap(s: SparkSession): Int =
    s.conf.get("spark.graft.sourceOverlap.maskCap", (1 << 20).toString).toInt

  private[queries] def sourceOverlapOf(d: DataFrame): DataFrame = {
    // Sources are a curated enumeration of tens, so the per-shingle
    // source SET fits a 64-bit BITMASK: `bit_or(1L << src_id)` is a
    // DeclarativeAggregate that stays inside whole-stage-codegen
    // HashAggregate and ships 16-byte (sh, mask) rows through the one
    // wide shuffle. The r11 `collect_set`-of-source-names form (kept as
    // [[sourceOverlapWideOf]], the >64-source fallback) ran the same
    // plan shape on ObjectHashAggregate, whose sort-based fallback
    // (spark.sql.objectHashAggregate.sortBased.fallbackThreshold=128
    // keys) made the ~600k-key aggregate pay a per-partition sort plus
    // set-buffer serialization — the residual 4×-vs-oracle floor VERDICT
    // r11 flagged.
    //
    // Two further floors measured and removed here (ProbeQ74, sf0.1):
    //  - shingle STRING materialization: token triples hash in place via
    //    xxhash64(w[i], w[i+1], w[i+2]) inside the transform — no
    //    concatenated shingle strings, no array_distinct (duplicates
    //    collapse in the idempotent bit_or partial agg), and no
    //    persist() write+read (the cache build alone was ~1.1 s of the
    //    1.55 s total; tokens never contain spaces, so triples map 1:1
    //    to the oracle's space-joined shingle strings — same birthday
    //    collision caveat as q28);
    //  - the post-aggregate tail: sizes/pairs/joins were 4 extra tiny
    //    shuffles each paying AQE stage-scheduling overhead on
    //    droplet-sized frames. The (mask → cnt) rollup is bounded by the
    //    observed source COMBINATIONS, so up to [[SourceOverlapMaskCap]]
    //    rows it collects and the C(k,2) pair/size expansion runs as a
    //    driver loop (the same bounded-collect contract as the k-means
    //    seeds); past the cap the expansion runs distributed.
    //
    // Net: a bounded dim-collect job + ONE main stage chain (scan →
    // sh-agg → mask rollup) + local-relation assembly. Measured floors
    // that shaped this (ProbeQ74, sf0.1, min-of-5): computing the dim
    // IN-plan (distinct + row_number window feeding the broadcast) costs
    // ~0.7 s of serialized broadcast-stage materialization vs 0.15 s for
    // the bounded collect + LOCAL-relation broadcast used here. NOTE the
    // call is EAGER (it runs the aggregate at plan time, like the
    // blocked-pairs guard); at 100 TB the source dim should come from
    // catalog metadata rather than the full-scan distinct, which is the
    // one scan a partition-column `source` would eliminate entirely.
    val spark = d.sparkSession
    // The source enumeration is a stable property of the dataset, so it
    // memoizes per (session, canonical plan) — the clusterMemo pattern.
    // Bounded by |sources|; the scan behind it is the one a
    // partition-column `source` would make metadata-only.
    val srcNames = srcNamesMemo.getOrElseUpdate(
      (spark, d.queryExecution.analyzed.semanticHash()),
      d.select(col("source")).distinct().collect().map(_.getString(0)).sorted)
    if (srcNames.length > 64) return sourceOverlapWideOf(d)
    val k = srcNames.length
    // ids are assigned over SORTED names, so id order == lexicographic
    // source order and `ia < ib` below reproduces the oracle's
    // `a.source < b.source` pair orientation.
    val dim = broadcast(spark.createDataFrame(
      srcNames.toIndexedSeq.zipWithIndex).toDF("source", "src_id"))
    // Size-based parallelism for the heavy hash projection: it runs in
    // the SCAN stage, and at bench scale the documents table is one
    // sub-MB parquet file — ONE scan partition, the whole tokenize+hash
    // on a single core. Re-spread to ~256 KiB of input per task
    // (ProbeQ74: 8 parts 0.38 s vs 1 part 0.60 s vs 32 parts 0.59 s —
    // at 156 rows/task the scheduling overhead eats the parallelism).
    // At 100 TB the scan has ≫ cores partitions and this is a no-op:
    // the repartition only fires for tables small enough (< cores ×
    // 1 MiB) that the file scan cannot have spread them itself — decided
    // from plan stats alone, no RDD materialization.
    val cores = spark.sparkContext.defaultParallelism
    val bytes = d.queryExecution.optimizedPlan.stats.sizeInBytes
    val dd =
      if (bytes < BigInt(cores.toLong << 20))
        d.repartition(bytes./(256L << 10).min(cores.toLong).max(1L).toInt)
      else d
    def maskCounts: DataFrame = dd.join(dim, Seq("source"))
      .select(col("src_id"), split(col("text"), " ").as("w"))
      .select(col("src_id"), explode(when(size(col("w")) >= 3,
        expr("transform(sequence(0, size(w)-3), i -> xxhash64(w[i], w[i+1], w[i+2]))"))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))).as("sh"))
      .groupBy("sh")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), src_id))").as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    val cap = sourceOverlapMaskCap(spark)
    val mc = maskCounts.take(cap + 1)
    if (mc.length <= cap) {
      val nSh = new Array[Long](k)
      val shared = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
      mc.foreach { r =>
        val mask = r.getLong(0); val cnt = r.getLong(1)
        val bits = (0 until k).filter(i => ((mask >> i) & 1L) == 1L)
        bits.foreach(i => nSh(i) += cnt)
        for (ai <- bits.indices; bi <- ai + 1 until bits.size) {
          val key = (bits(ai), bits(bi))
          shared(key) = shared.getOrElse(key, 0L) + cnt
        }
      }
      val rows = shared.toSeq.map { case ((ia, ib), ns) =>
        // same rounding as Spark's round(col, 6) on DoubleType
        // (HALF_UP over BigDecimal) so the two paths hash-match
        (srcNames(ia), srcNames(ib), ns, nSh(ia), nSh(ib),
          BigDecimal(ns.toDouble / (nSh(ia) + nSh(ib) - ns).toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(t => (t._1, t._2))
      spark.createDataFrame(rows)
        .toDF("src_a", "src_b", "n_shared", "n_sh_a", "n_sh_b", "jaccard")
    } else {
      val withBits = maskCounts.withColumn("bits",
        expr(s"filter(sequence(0, ${k - 1}), i -> (shiftright(mask, i) & 1) = 1)"))
      val sizes = withBits
        .select(explode(col("bits")).as("src_id"), col("cnt"))
        .groupBy("src_id").agg(sum(col("cnt")).as("n_sh"))
      val p = withBits.filter(size(col("bits")) >= 2)
        .select(explode(col("bits")).as("ia"), col("bits"), col("cnt"))
        .select(col("ia"),
          explode(expr("filter(bits, b -> b > ia)")).as("ib"), col("cnt"))
        .groupBy("ia", "ib").agg(sum(col("cnt")).as("n_shared"))
      p.join(broadcast(sizes.select(col("src_id").as("ia"), col("n_sh").as("n_sh_a"))), Seq("ia"))
        .join(broadcast(sizes.select(col("src_id").as("ib"), col("n_sh").as("n_sh_b"))), Seq("ib"))
        .join(dim.select(col("src_id").as("ia"), col("source").as("src_a")), Seq("ia"))
        .join(dim.select(col("src_id").as("ib"), col("source").as("src_b")), Seq("ib"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          col("n_sh_a"), col("n_sh_b"),
          round(col("n_shared").cast("double") /
            (col("n_sh_a") + col("n_sh_b") - col("n_shared")).cast("double"), 6)
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    }
  }

  /** Past-64-sources fallback for [[sourceOverlapOf]]: the r11
    * `collect_set`-of-source-names form. Same one-wide-shuffle plan
    * shape, but the aggregate runs on ObjectHashAggregate (set buffers),
    * which is the slower regime the bitmask path avoids — acceptable
    * here because >64 sources is outside the curated-enumeration
    * contract and correctness still holds. */
  private[queries] def sourceOverlapWideOf(d: DataFrame): DataFrame = {
    val srcSets = shingleSetsOf(d)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), explode(col("ts")).as("shs"))
      .groupBy(xxhash64(col("shs")).as("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .persist()
    val sizes = srcSets.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_sh"))
    val p = srcSets.filter(size(col("srcs")) >= 2)
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"),
        explode(filter(col("srcs"), x => x > col("src_a"))).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    p.join(broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("n_sh_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("n_sh_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_sh_a"), col("n_sh_b"),
        round(col("n_shared").cast("double") /
          (col("n_sh_a") + col("n_sh_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // no outer orderBy: sourceOverlapOf's driver path returns a
  // pre-sorted local relation and its distributed branches sort
  // internally — an external sort would add an exchange for nothing
  def q74SourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(docs(s, dir))

  val oracleQ74: String =
    s"""WITH s AS (
       |  SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest(ts) AS sh FROM (
       |      SELECT source, $oShingles3 AS ts
       |      FROM (SELECT source, string_split(text, ' ') AS w FROM documents)))),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
       |       FROM s GROUP BY source),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         CAST(count(*) AS BIGINT) AS n_shared
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT p.src_a, p.src_b, p.n_shared,
       |  sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b,
       |  round(CAST(p.n_shared AS DOUBLE) /
       |        CAST(sa.n_sh + sb.n_sh - p.n_shared AS DOUBLE), 6) AS jaccard
       |FROM p JOIN sz sa ON sa.source = p.src_a
       |       JOIN sz sb ON sb.source = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin

  // =====================================================================
  // q75: split leakage report (near-dups straddling train/val/test)
  // =====================================================================

  /** Deterministic split assignment (hash-mod, the q42 mechanism):
    * bucket 0 → test, 1 → val, 2-9 → train (80/10/10). */
  private def splitAssign(idCol: Column): Column = {
    val bucket =
      conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long") % 10
    when(bucket === 0, lit("test"))
      .when(bucket === 1, lit("val"))
      .otherwise(lit("train"))
  }

  /** LEAKAGE-FREE split assignment: documents are assigned to
    * train/val/test by their DEDUP CLUSTER's representative id, not
    * their own — every near-dup cluster lands wholly in one split, so
    * the q75 report is empty by construction (spec-proven). This is the
    * remediation the q75 report points at: dedup-aware splitting.
    * Unclustered documents are their own representative, so the
    * 80/10/10 proportions are preserved over cluster representatives.
    *
    * Scale: one left join of the corpus against the (bounded) cluster
    * labels, then the same zero-shuffle hash projection on the
    * representative id. Label derivation cost is q40's (hybrid
    * union-find); a session that already clustered pays two equi-joins
    * total. */
  private[queries] def splitByClusterOf(d: DataFrame,
      threshold: Double): DataFrame = {
    val labels = propagateLabels(
      jaccardPairsOf(d, threshold).select(col("id_a"), col("id_b")))
    d.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep_id"))
      .select(col("doc_id"), col("rep_id"),
        splitAssign(col("rep_id")).as("split"))
  }

  /** Eval-integrity report: near-duplicate pairs (q28 semantics) whose
    * members landed in DIFFERENT splits of a deterministic 80/10/10
    * train/val/test assignment — each such pair is evaluation-set
    * leakage (the model sees a near-copy of a test document during
    * training). Random splits leak near-dups by construction, which is
    * why pipelines dedup BEFORE splitting (or split by cluster); this
    * report quantifies the damage for a given corpus + assignment.
    *
    * Scale: the assignment is a zero-shuffle projection; the pairs ride
    * the SHARED capped pair-stat cache ([[cappedPairStatsOf]] — a
    * session that already ran q41/q69 pays nothing new; `dfCap = None`
    * opts back into the uncapped q28 frame); the two assignment lookups
    * join on doc_id — equi-joins AQE sizes. Output is bounded by the
    * near-dup pair count, already bounded by the candidate-join
    * guards. */
  private[queries] def splitLeakageOf(d: DataFrame, threshold: Double,
      dfCap: Option[Long] = Some(DFCAP)): DataFrame = {
    val asg = d.select(col("doc_id"), splitAssign(col("doc_id")).as("split"))
    val pairs = dfCap match {
      case Some(cap) => cappedJaccardPairsOf(d, threshold, cap)
      case None => jaccardPairsOf(d, threshold)
    }
    pairs
      .join(asg.select(col("doc_id").as("id_a"), col("split").as("split_a")),
        Seq("id_a"))
      .join(asg.select(col("doc_id").as("id_b"), col("split").as("split_b")),
        Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
        col("jaccard"))
  }

  // Pass the UNPROJECTED documents frame: the derivation only reads
  // doc_id/text (column pruning handles the scan), and an explicit
  // .select here changes the canonicalized plan under every shared
  // derivation, so q75 missed the family caches q41/q69 share and
  // re-built the whole shingle→df→pair chain per pass (measured r19:
  // 1.48 s with the projection vs 0.26 s riding the cache).
  def q75SplitLeakage(s: SparkSession, dir: String): DataFrame =
    splitLeakageOf(docs(s, dir), 0.5)
      .orderBy("id_a", "id_b")

  /** Oracle mirrors the default df-cap (oracleQ41's CTE structure), so
    * parity holds by construction whatever the shingle-frequency
    * distribution. */
  val oracleQ75: String = {
    val bucket = (0 until 8).map { k =>
      val pow = 1L << (4 * (7 - k))
      s"(strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1) * $pow"
    }.mkString("(", " + ", ")")
    s"""WITH asg AS (
       |  SELECT doc_id, CASE WHEN b = 0 THEN 'test' WHEN b = 1 THEN 'val'
       |                      ELSE 'train' END AS split
       |  FROM (SELECT doc_id, $bucket % 10 AS b
       |        FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
       |              FROM documents))),
       |sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |freq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
       |exdf AS (SELECT e.doc_id, e.n, e.sh, f.df FROM ex e JOIN freq f ON f.sh = e.sh),
       |cold AS (SELECT doc_id, n, sh FROM exdf WHERE df <= $DFCAP),
       |hot AS (SELECT doc_id, list(sh) AS hot FROM exdf WHERE df > $DFCAP GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*) AS n_cold, min(a.n) AS na, min(b.n) AS nb
       |  FROM cold a JOIN cold b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |scored AS (
       |  SELECT i.id_a, i.id_b,
       |         i.n_cold + CAST(len(list_intersect(
       |           coalesce(ha.hot, []), coalesce(hb.hot, []))) AS BIGINT) AS n_common,
       |         i.na, i.nb
       |  FROM inter i
       |  LEFT JOIN hot ha ON ha.doc_id = i.id_a
       |  LEFT JOIN hot hb ON hb.doc_id = i.id_b),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    round(CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE), 6) AS jaccard
       |  FROM scored
       |  WHERE CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE) >= 0.5)
       |SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b, p.jaccard
       |FROM pairs p JOIN asg sa ON sa.doc_id = p.id_a
       |             JOIN asg sb ON sb.doc_id = p.id_b
       |WHERE sa.split <> sb.split
       |ORDER BY p.id_a, p.id_b""".stripMargin
  }

  // =====================================================================
  // q76: vocabulary coverage curve (how much corpus do top-k tokens cover)
  // =====================================================================

  /** Curve checkpoints of the oracle binding — sized to the synthetic
    * corpus vocabulary (~31 tokens at sf0.01) so all three points
    * materialize; a real corpus binds {1e3, 1e4, 1e5}-style prefixes
    * through the `ks` parameter. */
  private val CoverageKs = Seq(5L, 10L, 25L)

  /** Vocabulary coverage curve: for each checkpoint k, the fraction of
    * ALL token occurrences covered by the k most frequent tokens — the
    * number that decides vocab/tokenizer sizing (q62's keep-k) and
    * flags boilerplate-heavy corpora (high coverage at tiny k).
    *
    * Scale: token counts are the q52 two-phase aggregate; the curve
    * needs only the TOP max(k) prefix, taken with
    * TakeOrderedAndProject (never a global sort of the vocab), so the
    * single-partition rank window that follows runs over ≤1000 rows by
    * construction — bounded, not a skew hazard. The corpus-wide total
    * is a scalar aggregate broadcast via cross join (the q09 shape). */
  private[queries] def vocabCoverageOf(d: DataFrame,
      ks: Seq[Long] = CoverageKs): DataFrame = {
    val counts = d.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val maxK = ks.max.toInt
    val top = counts.orderBy(col("n").desc, col("token").asc).limit(maxK)
    val tot = counts.agg(sum(col("n")).as("total_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top
      .withColumn("k", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("n").desc, col("token").asc)).cast("long"))
      .withColumn("cum_tokens", sum(col("n")).over(w))
      .filter(col("k").isin(ks: _*))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("cum_tokens"), col("total_tokens"),
        round(col("cum_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("coverage"))
  }

  def q76VocabCoverage(s: SparkSession, dir: String): DataFrame =
    vocabCoverageOf(docs(s, dir)).orderBy("k")

  val oracleQ76: String =
    """WITH counts AS (
      |  SELECT token, count(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM counts),
      |ranked AS (
      |  SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS k,
      |    CAST(sum(n) OVER (ORDER BY n DESC, token ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM (SELECT * FROM counts ORDER BY n DESC, token ASC LIMIT 25))
      |SELECT k, cum_tokens, total_tokens,
      |  round(CAST(cum_tokens AS DOUBLE)/CAST(total_tokens AS DOUBLE), 6) AS coverage
      |FROM ranked, tot
      |WHERE k IN (5, 10, 25) ORDER BY k""".stripMargin

  // =====================================================================
  // q77: per-source duplication stats (exact + cross-source)
  // =====================================================================

  /** Per-source duplication report: document count, distinct content
    * hashes (exact-dup rate within the source), and how many of the
    * source's distinct hashes ALSO appear in another source — the
    * exact-copy companion of q74's shingle overlap (a mirror shows up
    * as n_cross ≈ n_unique). The per-source health row a curation
    * dashboard starts from.
    *
    * Scale: everything derives from the (source, content-hash) DISTINCT
    * frame — a two-phase aggregate; the cross-source probe is a
    * hash-keyed self semi-join whose per-key multiplicity is bounded by
    * |sources|. Text never moves: hashes are computed in the scan
    * projection. */
  private[queries] def sourceDupStatsOf(d: DataFrame): DataFrame = {
    val h = d.select(col("source"), md5(col("text")).as("ch"))
    val perSrc = h.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("ch")).as("n_unique"))
    val sc = h.select(col("source"), col("ch")).distinct()
    val cross = sc.as("x").join(sc.as("y"),
        col("x.ch") === col("y.ch") && col("x.source") =!= col("y.source"),
        "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_cross"))
    perSrc.join(cross, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_unique"),
        coalesce(col("n_cross"), lit(0L)).as("n_cross"),
        round((col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs").cast("double"), 6).as("exact_dup_ratio"))
  }

  def q77SourceDupStats(s: SparkSession, dir: String): DataFrame =
    sourceDupStatsOf(docs(s, dir)).orderBy("source")

  val oracleQ77: String =
    """WITH h AS (SELECT source, md5(text) AS ch FROM documents),
      |per_src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(count(DISTINCT ch) AS BIGINT) AS n_unique
      |  FROM h GROUP BY source),
      |sc AS (SELECT DISTINCT source, ch FROM h),
      |cross_src AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_cross FROM sc x
      |  WHERE EXISTS (SELECT 1 FROM sc y
      |                WHERE y.ch = x.ch AND y.source <> x.source)
      |  GROUP BY source)
      |SELECT p.source, p.n_docs, p.n_unique,
      |  coalesce(c.n_cross, 0) AS n_cross,
      |  round(CAST(p.n_docs - p.n_unique AS DOUBLE)/CAST(p.n_docs AS DOUBLE), 6)
      |    AS exact_dup_ratio
      |FROM per_src p LEFT JOIN cross_src c ON c.source = p.source
      |ORDER BY p.source""".stripMargin

  // =====================================================================
  // q78: contamination attribution (WHICH eval doc leaked into training)
  // =====================================================================

  /** Attribution layer over q49/q61: for every training document that
    * overlaps the eval set at all, the single eval document it shares
    * the MOST 3-gram shingles with (ties to the lowest eval id) and the
    * overlap count. q49 answers "is it contaminated", q61 "how much";
    * this answers "by WHAT" — the row a leak investigation starts from
    * (which benchmark got copied, which eval split to rotate).
    *
    * Scale: both sides derive from the shared cached shingle bases; the
    * train×eval join is shingle-keyed with the EVAL side bounded by
    * construction (benchmarks are curated), and the per-(train, eval)
    * aggregate is two-phase. The top-1 per train doc is a rank-1
    * window — WindowGroupLimit keeps only each task's best candidate
    * ahead of the shuffle, and a partition's row count is bounded by
    * the eval-set size, not the corpus. */
  private[queries] def contaminationAttributionOf(train: DataFrame,
      eval: DataFrame): DataFrame =
    contaminationAttributionFromRows(
      hashedShingleRowsOf(train).select(col("doc_id"), col("sh")),
      hashedShingleRowsOf(eval)
        .select(col("doc_id").as("eval_id"), col("sh")))

  /** Core of the attribution over ALREADY-DERIVED hashed-shingle rows:
    * `t` = (doc_id, sh), `e` = (eval_id, sh). Split out so a caller
    * whose train/eval frames are doc_id-level filters of ONE corpus
    * (q78) can filter the SHARED [[hashedShingleRowsOf]] cache instead
    * of deriving two private shingle chains — shingle derivation is
    * per-row, so filter-then-derive and derive-then-filter are
    * row-identical. */
  private def contaminationAttributionFromRows(t: DataFrame,
      e: DataFrame): DataFrame = {
    val ov = t.join(e, Seq("sh"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("n_overlap").desc, col("eval_id").asc)
    ov.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("eval_id"), col("n_overlap"))
  }

  // The train/eval split is a doc_id-level filter, so it commutes with
  // the per-row shingle derivation: filter the SHARED hashed-shingle
  // cache (one derivation, reused by the whole dedup family) instead of
  // deriving two private chains over projected+filtered bases that can
  // never hit the cache (measured r19: 0.67 s → riding the family
  // cache; rows identical by construction).
  def q78ContaminationAttribution(s: SparkSession, dir: String): DataFrame = {
    val ex = hashedShingleRowsOf(docs(s, dir))
    contaminationAttributionFromRows(
      ex.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"), col("sh")),
      ex.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("eval_id"), col("sh"))).orderBy("doc_id")
  }

  val oracleQ78: String =
    s"""WITH sets AS (
       |  SELECT doc_id, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, unnest(ts) AS sh FROM sets),
       |t AS (SELECT doc_id, sh FROM ex WHERE doc_id % 97 <> 0),
       |e AS (SELECT doc_id AS eval_id, sh FROM ex WHERE doc_id % 97 = 0),
       |ov AS (
       |  SELECT t.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM t JOIN e ON e.sh = t.sh GROUP BY t.doc_id, e.eval_id),
       |rk AS (
       |  SELECT doc_id, eval_id, n_overlap,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n_overlap DESC, eval_id ASC) AS r
       |  FROM ov)
       |SELECT doc_id, eval_id, n_overlap FROM rk WHERE r = 1
       |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // q79: MinHash estimator calibration (sketch error by true-J decile)
  // =====================================================================

  /** Accuracy report for the K=18 MinHash sketch itself: over the LSH
    * candidate pairs (≥1 agreeing band — the q30 candidate set), the
    * signature-level similarity estimate (matching minhash positions /
    * K) is compared against the exact 3-gram Jaccard, and the error is
    * aggregated per true-similarity decile. This is the measurement that
    * justifies (or indicts) the K/BANDS choice: a drifting
    * `sum_abs_err_milli / n_pairs` in the high deciles means the sketch
    * is too coarse for the dedup threshold and K must grow.
    *
    * Determinism: estimates and Jaccards are fixed-point MILLI integers
    * (floor(1000·x), exact in double at these magnitudes), summed as
    * longs — no float aggregation crosses the engine boundary.
    *
    * Scale: candidates come from the band equi-join (bounded bucket
    * sizes, no cross product); the signature join probes the cached
    * [[mhDfOf]] frame (K longs per doc); the exact-Jaccard re-check
    * joins shingle sets for CANDIDATE pairs only, so the expensive
    * verification stays proportional to the near-dup count. The final
    * aggregate collapses to ≤11 decile rows map-side. */
  private[queries] def minhashCalibrationOf(d: DataFrame): DataFrame = {
    val bands = bandRowsOf(d)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val mh = mhDfOf(d)
    val ma = mh.select(col("doc_id").as("id_a") +:
      (0 until K).map(i => col(s"mh$i").as(s"a$i")): _*)
    val mb = mh.select(col("doc_id").as("id_b") +:
      (0 until K).map(i => col(s"mh$i").as(s"b$i")): _*)
    val sets = shingleSetsOf(d)
    val ta = sets.select(col("doc_id").as("id_a"), col("ts").as("ts_a"))
    val tb = sets.select(col("doc_id").as("id_b"), col("ts").as("ts_b"))
    val nMatch = (0 until K).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val interC = size(array_intersect(col("ts_a"), col("ts_b"))).cast("long")
    val unionC = (size(col("ts_a")) + size(col("ts_b"))).cast("long") - interC
    val pair = cand
      .join(ma, "id_a").join(mb, "id_b").join(ta, "id_a").join(tb, "id_b")
      .select(
        floor(lit(1000.0) * nMatch / lit(K.toDouble)).as("est_milli"),
        floor(lit(1000.0) * interC / unionC).as("jac_milli"))
    pair
      .groupBy(floor(col("jac_milli") / lit(100.0)).as("j_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("est_milli")).as("sum_est_milli"),
        sum(abs(col("est_milli") - col("jac_milli"))).as("sum_abs_err_milli"))
      .orderBy("j_decile")
  }

  def q79MinhashCalibration(s: SparkSession, dir: String): DataFrame =
    minhashCalibrationOf(docs(s, dir))

  val oracleQ79: String = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, $b AS b, band$b AS h FROM sig").mkString(" UNION ALL ")
    val matchNum = (0 until K)
      .map(i => s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ${oMinhashCtes},
       |bandrows AS ($bandUnion),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandrows x JOIN bandrows y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id),
       |sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |pair AS (
       |  SELECT
       |    CAST(floor(1000.0 * ($matchNum) / ${K}.0) AS BIGINT) AS est_milli,
       |    CAST(floor(1000.0 * len(list_intersect(ta.ts, tb.ts))
       |      / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))) AS BIGINT) AS jac_milli
       |  FROM cand c
       |  JOIN mh ma ON ma.doc_id = c.id_a
       |  JOIN mh mb ON mb.doc_id = c.id_b
       |  JOIN sets ta ON ta.doc_id = c.id_a
       |  JOIN sets tb ON tb.doc_id = c.id_b)
       |SELECT CAST(floor(jac_milli / 100.0) AS BIGINT) AS j_decile,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(est_milli) AS BIGINT) AS sum_est_milli,
       |  CAST(sum(abs(est_milli - jac_milli)) AS BIGINT) AS sum_abs_err_milli
       |FROM pair GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // =====================================================================
  // q80: SimHash calibration (true Jaccard per hamming radius)
  // =====================================================================

  /** q79's companion for the OTHER sketch: per hamming distance over the
    * q31 SimHash candidate pairs (hamming ≤ 6 by pigeonhole-complete
    * chunk-pair keys), the pair count plus fixed-point sum and MINIMUM
    * of the exact 3-gram Jaccard. The minimum is the decision column:
    * the worst pair admitted at each radius is what validates (or
    * indicts) HAMMAX against the pipeline's Jaccard floor — if
    * min_jac_milli at hamming 6 is still above the dedup threshold, the
    * radius can grow; if it dips below at hamming 4, the radius is
    * already too loose.
    *
    * Scale: pairs come from q31's chunk-pair equi-join (no cross
    * product, candidate volume ~n²·2e-4); the Jaccard re-check joins
    * the cached shingle sets for candidates only; the final aggregate
    * collapses to ≤7 hamming rows map-side, integer throughout. */
  private[queries] def simhashCalibrationOf(pairs: DataFrame,
      sets: DataFrame): DataFrame = {
    val ta = sets.select(col("doc_id").as("id_a"), col("ts").as("ts_a"))
    val tb = sets.select(col("doc_id").as("id_b"), col("ts").as("ts_b"))
    val interC = size(array_intersect(col("ts_a"), col("ts_b"))).cast("long")
    val unionC = (size(col("ts_a")) + size(col("ts_b"))).cast("long") - interC
    pairs.join(ta, "id_a").join(tb, "id_b")
      .select(col("hamming"),
        floor(lit(1000.0) * interC / unionC).as("jac_milli"))
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jac_milli")).as("sum_jac_milli"),
        min(col("jac_milli")).as("min_jac_milli"))
      .orderBy("hamming")
  }

  def q80SimhashCalibration(s: SparkSession, dir: String): DataFrame =
    simhashCalibrationOf(q31SimhashPairs(s, dir), shingleSets(s, dir))

  val oracleQ80: String =
    s"""WITH ${oSimhashCtes},
       |pairs AS (
       |  SELECT id_a, id_b,
       |    CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
       |  FROM cand
       |  WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= $HAMMAX),
       |sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |pj AS (
       |  SELECT p.hamming,
       |    CAST(floor(1000.0 * len(list_intersect(ta.ts, tb.ts))
       |      / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))) AS BIGINT) AS jac_milli
       |  FROM pairs p
       |  JOIN sets ta ON ta.doc_id = p.id_a
       |  JOIN sets tb ON tb.doc_id = p.id_b)
       |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(jac_milli) AS BIGINT) AS sum_jac_milli,
       |  CAST(min(jac_milli) AS BIGINT) AS min_jac_milli
       |FROM pj GROUP BY 1 ORDER BY 1""".stripMargin

  // =====================================================================
  // q83: soft-dedup reweighting (1/cluster-size example weights)
  // =====================================================================

  /** SOFT deduplication: instead of dropping duplicates (q43), keep every
    * document and down-weight it by its dedup-cluster size — weight =
    * 1/n_members, so each near-dup CLUSTER contributes one unit of total
    * training mass however many copies it has (the repetition-aware
    * reweighting alternative to hard dedup: "d'eja vu all over again" /
    * SlimPajama-style duplication-count weighting — preserves rare intra-
    * cluster variation that hard dedup discards, while neutralizing the
    * effective-epoch skew of boilerplate). Singletons get weight 1.
    *
    * Output: (doc_id, cluster_id, n_members, weight round-6).
    *
    * Scale: rides the memoized q40 cluster labels (the candidate join +
    * component solve amortize across q40/q43/q83 in a session); on top of
    * them this is ONE window count per cluster partition (clusters are
    * small by construction — the dup graph is post-threshold sparse) and
    * a pure projection. Nothing new shuffles. */
  def q83SoftDedupWeights(s: SparkSession, dir: String): DataFrame =
    // q40's labels + member counts verbatim (single source of truth for
    // the window semantics), plus the 1/n weight projection
    q40DedupClusters(s, dir)
      .withColumn("weight",
        round(lit(1.0) / col("n_members").cast("double"), 6))

  val oracleQ83: String = {
    // q40's cluster derivation + the 1/n_members weight
    s"""WITH RECURSIVE sets AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, ts FROM (
       |    SELECT doc_id, $oShingles3 AS ts
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
       |ex AS (SELECT doc_id, n, unnest(ts) AS sh FROM sets),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |           count(*) AS n_common, min(a.n) AS na, min(b.n) AS nb
       |    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id)
       |  WHERE CAST(n_common AS DOUBLE)/CAST(na + nb - n_common AS DOUBLE) >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS n_members,
       |  round(1.0/CAST(count(*) OVER (PARTITION BY cluster_id) AS DOUBLE), 6)
       |    AS weight
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  // =====================================================================
  // q93: eval-set novelty audit (the inverse direction of q49)
  // =====================================================================

  /** Shared assembly (the [[contaminationAssembly]] pattern): callers
    * supply the pre-derived frames, so the q93 binding can pass filtered
    * slices of the dir-level caches while [[TextOps.evalNovelty]] derives
    * per arbitrary frame — one copy of the probe + novelty math.
    *
    * Scale shape: the EVAL side is bounded by construction and
    * BROADCASTS; the corpus side streams its (cached) hashed shingle rows
    * through a map-side broadcast-hash join — the corpus never shuffles
    * its shingles, and deliberately NO corpus-wide DISTINCT either: the
    * per-eval-doc `count_distinct(sh)` collapses repeated corpus
    * occurrences in partial aggregation (distinct keys bounded by the
    * eval side), which replaces the corpus-sized distinct shuffle a
    * naive seen-set build would pay. One narrow (doc_id, sh-partial)
    * shuffle, eval-bounded. */
  private[queries] def evalNoveltyAssembly(benchRows: DataFrame,
      benchSets: DataFrame, corpusRows: DataFrame): DataFrame = {
    val seen = corpusRows.select(col("sh"))
      .join(broadcast(benchRows.select(col("doc_id"), col("sh"))), Seq("sh"))
      .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_seen"))
    benchSets
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_shingles"))
      .join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(col("n_shingles") === 0L, lit(1.0))
          .otherwise(round(lit(1.0) -
            coalesce(col("n_seen"), lit(0L)).cast("double") /
              col("n_shingles").cast("double"), 6)).as("novelty_frac"))
  }

  /** For every EVAL document (the q49 bench slice, doc_id % 97 = 0): how
    * many of its distinct 3-grams already appear anywhere in the TRAINING
    * corpus, and the novelty fraction (1 − seen/total). q49 answers "which
    * training docs leak eval content"; this answers the question an eval
    * owner asks before trusting a benchmark score — "was this eval novel
    * w.r.t. the corpus at all, or is it memorization-measurable?"
    * (the eval-side view of the GPT-3/PaLM overlap methodology). */
  def q93EvalNovelty(s: SparkSession, dir: String): DataFrame = {
    val rows = hashedShingleRows(s, dir)
    evalNoveltyAssembly(
      rows.filter(col("doc_id") % 97 === 0),
      shingleSets(s, dir).filter(col("doc_id") % 97 === 0),
      rows.filter(col("doc_id") % 97 =!= 0))
      .orderBy("doc_id")
  }

  val oracleQ93: String =
    s"""WITH sets AS (
       |  SELECT doc_id, $oShingles3 AS ts
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       |ex AS (SELECT doc_id, unnest(ts) AS sh FROM sets),
       |seen AS (
       |  SELECT b.doc_id, count(DISTINCT b.sh) AS n_seen
       |  FROM ex b JOIN ex c ON c.sh = b.sh AND c.doc_id % 97 <> 0
       |  WHERE b.doc_id % 97 = 0 GROUP BY b.doc_id)
       |SELECT s.doc_id, CAST(len(s.ts) AS BIGINT) AS n_shingles,
       |  CAST(coalesce(o.n_seen, 0) AS BIGINT) AS n_seen,
       |  CASE WHEN len(s.ts) = 0 THEN 1.0
       |       ELSE round(1.0 - CAST(coalesce(o.n_seen, 0) AS DOUBLE)
       |                      / CAST(len(s.ts) AS DOUBLE), 6) END AS novelty_frac
       |FROM sets s LEFT JOIN seen o ON o.doc_id = s.doc_id
       |WHERE s.doc_id % 97 = 0 ORDER BY s.doc_id""".stripMargin

  // =====================================================================
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_doc_stats" -> q24DocStats _,
    "q25_lang_id" -> q25LangId _,
    "q26_fingerprint" -> q26Fingerprint _,
    "q27_exact_dedup" -> q27ExactDedup _,
    "q28_jaccard_pairs" -> q28JaccardPairs _,
    "q29_minhash_sig" -> q29MinhashSig _,
    "q30_lsh_pairs" -> q30LshPairs _,
    "q31_simhash_pairs" -> q31SimhashPairs _,
    "q40_dedup_clusters" -> q40DedupClusters _,
    "q41_jaccard_capped" -> q41JaccardCapped _,
    "q42_stratified_sample" -> q42StratifiedSample _,
    "q43_keep_best" -> q43KeepBest _,
    "q44_repetition_stats" -> q44RepetitionStats _,
    "q48_incremental_dedup" -> q48IncrementalDedup _,
    "q49_decontamination" -> q49Decontamination _,
    "q50_quality_filter" -> q50QualityFilter _,
    "q51_corpus_mix" -> q51CorpusMix _,
    "q52_vocab_topk" -> q52VocabTopK _,
    "q61_contamination_score" -> q61ContaminationScore _,
    "q69_containment_pairs" -> q69ContainmentPairs _,
    "q70_normalized_dedup" -> q70NormalizedDedup _,
    "q74_source_overlap" -> q74SourceOverlap _,
    "q75_split_leakage" -> q75SplitLeakage _,
    "q76_vocab_coverage" -> q76VocabCoverage _,
    "q77_source_dup_stats" -> q77SourceDupStats _,
    "q78_contamination_attribution" -> q78ContaminationAttribution _,
    "q79_minhash_calibration" -> q79MinhashCalibration _,
    "q80_simhash_calibration" -> q80SimhashCalibration _,
    "q83_soft_dedup_weights" -> q83SoftDedupWeights _,
    "q93_eval_novelty" -> q93EvalNovelty _,
  )

  val oracle: Map[String, String] = Map(
    "q24_doc_stats" -> oracleQ24,
    "q25_lang_id" -> oracleQ25,
    "q26_fingerprint" -> oracleQ26,
    "q27_exact_dedup" -> oracleQ27,
    "q28_jaccard_pairs" -> oracleQ28,
    "q29_minhash_sig" -> oracleQ29,
    "q30_lsh_pairs" -> oracleQ30,
    "q31_simhash_pairs" -> oracleQ31,
    "q40_dedup_clusters" -> oracleQ40,
    "q41_jaccard_capped" -> oracleQ41,
    "q42_stratified_sample" -> oracleQ42,
    "q43_keep_best" -> oracleQ43,
    "q44_repetition_stats" -> oracleQ44,
    "q48_incremental_dedup" -> oracleQ48,
    "q49_decontamination" -> oracleQ49,
    "q50_quality_filter" -> oracleQ50,
    "q51_corpus_mix" -> oracleQ51,
    "q52_vocab_topk" -> oracleQ52,
    "q61_contamination_score" -> oracleQ61,
    "q69_containment_pairs" -> oracleQ69,
    "q70_normalized_dedup" -> oracleQ70,
    "q74_source_overlap" -> oracleQ74,
    "q75_split_leakage" -> oracleQ75,
    "q76_vocab_coverage" -> oracleQ76,
    "q77_source_dup_stats" -> oracleQ77,
    "q78_contamination_attribution" -> oracleQ78,
    "q79_minhash_calibration" -> oracleQ79,
    "q80_simhash_calibration" -> oracleQ80,
    "q83_soft_dedup_weights" -> oracleQ83,
    "q93_eval_novelty" -> oracleQ93,
  )
}
