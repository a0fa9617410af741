package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Column-parameterized LIBRARY forms of the vector-similarity operators,
  * for use over ANY (id, vec: array&lt;float&gt;) DataFrame — the
  * oracle-checked q32/q33/q34/q37/q45 queries ([[Similarity]]) are these
  * same pipelines bound to the driver's `embeddings` table, so the generic
  * surface inherits the DuckDB-verified semantics (`VectorOpsSpec` pins
  * bit-exact equivalence on renamed columns).
  *
  * Two layers, like a real vector store:
  *   - [[index]] quantizes + norms once and caches — the materialized
  *     vector index a serving deployment persists. At 100 TB this is the
  *     table you write to parquet and scan per query batch.
  *   - `*Indexed` operators consume indexed frames (so one shared index
  *     serves many queries); same-named raw-frame overloads compose
  *     `index` + the operator for one-shot use.
  *
  * Determinism contract (shared with [[Similarity]], proven by its
  * oracles): each float coordinate is quantized ONCE — widened to double
  * (exact) and `round(x*1e6)` to BIGINT (exact in double for a 24-bit
  * float mantissa), so every downstream dot/norm is pure integer
  * arithmetic via the codegen'd [[graft.functions.ArrayIntDot]].
  *
  * Scale shapes (the reason each operator exists):
  *   - [[knnBrute]]: single scan + broadcast query + TakeOrderedAndProject
  *     — the exact baseline.
  *   - [[knnBatch]]: one corpus scan amortized over a broadcast query
  *     BATCH + per-query window top-k — the serving shape.
  *   - [[knnLsh]]: random-hyperplane signatures (pure map), candidates
  *     from a band equi-join, exact re-rank on candidates only.
  *   - [[knnIvf]]: per-cell exact integer centroids, nprobe cells probed,
  *     re-rank scans only probed cells.
  *   - [[blockedPairs]]: all-pairs restricted to a block column — the
  *     bucketed-join pattern LSH/IVF feed at scale.
  */
object VectorOps {

  private val SCALE = 1e6

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The threshold family's knob policy, in one place: fully auto-knobbed
    * calls (both sentinels) on a corpus at or past [[DeepenMinBits]]
    * occupancy route to the CELL-SHARDED approximate path (None) — the
    * regime where the r12 100× stress measured global threshold-LSH
    * super-linear, while cell candidate volume stays O(rows) because
    * cells hold ~targetCellRows regardless of corpus size. Everything
    * else resolves to the global LSH (planes, bands) ([[resolveShape]]).
    * Callers that rely on exact global LSH semantics pass explicit
    * planes/bands; the engaged route logs, so the semantic switch is
    * never silent (r13 advisor). `rows` (the corpus row count) is
    * evaluated only when a sentinel needs it, so explicit-knob callers
    * pay no count. */
  private[graft] def routeShape(op: String, planes: Int, bands: Int,
      minCos: Double, rows: => Long): Option[(Int, Int)] =
    if (planes == AutoPlanes && bands == AutoBands &&
        autoBitsPer(rows) >= DeepenMinBits) {
      log.info(s"graft: $op with auto knobs routed to the CELL-SHARDED " +
        s"approximate path (corpus rows=$rows >= " +
        s"~${64L << DeepenMinBits}): clusters cannot span k-means cells " +
        "and boundary near-dups can be missed; pass explicit planes/bands " +
        "for exact global LSH semantics")
      None
    } else Some(resolveShape(planes, bands, minCos, rows))

  /** Sentinel default for `planes` in the THRESHOLD family
    * (semanticDedup / semanticIncremental / semanticKeepBest): size the
    * LSH from the corpus row count at call time ([[autoPlanes]] /
    * [[autoShape]]). Resolving it runs ONE `count()` job per distinct
    * corpus plan (memoized), so default-knob calls are eager like
    * [[semanticDedupIndexed]] already is; pass an explicit `planes`
    * (e.g. 16) to keep plan construction fully lazy.
    *
    * The QUERY-PROBE family ([[knnLsh]]) deliberately keeps a FIXED
    * 16/4 default instead: with no similarity threshold in hand there
    * is no principled recall target to size against, and measurement
    * (BENCH_NOTES r12) shows occupancy-only growth guts probe recall
    * (0.48 → 0.06 at the 10× corpus). Probe cost at a fixed shape grows
    * with corpus size — that is inherent to fixed-knob LSH; the
    * sub-linear probe path at scale is [[knnIvf]], and [[annRecall]]
    * (q81) is the audit that sizes explicit knobs on real data. */
  val AutoPlanes = 0

  /** Sentinel default for `bands` in the threshold family: derive the
    * band count from (bitsPer, minCos) via [[autoShape]]'s S-curve so
    * RECALL at the calling threshold is preserved as bitsPer grows. */
  val AutoBands = 0

  /** Per-bit collision probability of a vector pair at cosine `c` under
    * random-hyperplane LSH: P(sign agrees) = 1 − θ/π, θ = arccos(c). */
  def pBit(c: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi

  /** Occupancy-targeting bits-per-band: ceil(log2(rows /
    * targetBucketRows)) clamped to [4, 16] — each band bucket holds
    * ~targetBucketRows expected rows at ANY corpus size, which is what
    * keeps the candidate self-join linear in rows (the r11 sweep
    * measured the fixed 16-plane shape entering a 6.1×
    * bucket-occupancy-growth regime instead). */
  def autoBitsPer(rows: Long, targetBucketRows: Int = 64): Int = {
    val need = math.max(1.0, rows.toDouble / math.max(1, targetBucketRows))
    math.min(16, math.max(4, math.ceil(math.log(need) / math.log(2.0)).toInt))
  }

  /** Occupancy-only plane count (bands fixed by the caller): planes =
    * bands · [[autoBitsPer]]. This controls COST, not recall — raising
    * bitsPer lowers every pair's band-collision probability, true
    * neighbors included (recall follows 1−(1−p^bits)^bands exactly;
    * measured in BENCH_NOTES r12). Use [[autoShape]] when a similarity
    * threshold is available to size bands against. */
  def autoPlanes(rows: Long, bands: Int = 4, targetBucketRows: Int = 64): Int =
    bands * autoBitsPer(rows, targetBucketRows)

  /** RECALL-PRESERVING corpus-size-aware LSH shape for the threshold
    * family: returns (planes, bands) such that (a) expected band-bucket
    * occupancy stays ~targetBucketRows (candidate join linear in rows)
    * and (b) recall AT THE CALLING THRESHOLD stays ≈ the historical
    * 16/4 baseline's, by growing bands as bitsPer grows:
    * bands = ceil(4 / p^(bitsPer−4)) with p = [[pBit]](minCos) — the
    * S-curve identity 1−(1−p^bits)^bands ≈ 1−e^(−bands·p^bits) holds
    * bands·p^bits constant. When the needed band count would exceed
    * `maxBands`, bitsPer backs off instead (occupancy — cost — grows,
    * recall does not silently drop): at high thresholds (real near-dup
    * regimes, minCos ≥ ~0.85) the shape stays selective AND
    * recall-preserving; at low thresholds it honestly converges toward
    * wide buckets, because that is what the S-curve demands there — a
    * low-threshold pair family is where the text-side MinHash machinery
    * (calibrated K/bands, q79) is the better tool.
    *
    * At [[DeepenMinBits]]-and-above occupancy bits (≳128k rows) the
    * shape DEEPENS further by an explicit per-row cost model —
    * cost(bits) ∝ bands(bits)·(rows/2^bits + bits), random-candidate
    * volume plus signature plane-dots in the same 64-dim-dot units —
    * minimized over the bits whose recall-matched band count fits the
    * (maxBands, maxPlanes) budget. The gate is empirical: the in-round
    * A/B measured deepening monotonically WINNING at 200k rows (498 s
    * at 11/12 → 344 s at the model's 14/19 pick) and LOSING at 20k
    * ((81,9) 14.0 s vs (168,14) 23.8 s warm) — on clustered embeddings
    * true pairs collide in ~every band, so below the random-collision
    * scale extra bands are pure cost and the occupancy shape ships
    * unchanged (BENCH_NOTES r12 100× section). `maxPlanes = 288` is
    * the codegen ceiling: a 416-plane signature projection exceeds
    * janino's 64 KB method limit (measured), 266 compiles fine.
    * Corpora ≤ targetBucketRows·2^4 resolve to exactly (16, 4) at any
    * threshold — the oracle-checked baseline. */
  /** Deepening threshold for [[autoShape]]: the occupancy-bit count
    * (≈ log2(rows/64)) above which the cost-model deepening is trusted —
    * 12 bits ≈ 128k rows at the default occupancy target, the scale
    * where the in-round A/B measured deepening winning (see autoShape). */
  val DeepenMinBits = 12

  /** Band budget OUTSIDE the deepened regime: the raised 20-band ceiling
    * was A/B-measured only at [[DeepenMinBits]]-and-above scale; below
    * it extra bands were measured as pure cost on clustered data, so
    * mid-scale shapes keep the historical 12-band budget (r12 advisor). */
  val ShallowMaxBands = 12

  def autoShape(rows: Long, minCos: Double, targetBucketRows: Int = 64,
      maxBands: Int = 20, maxPlanes: Int = 288): (Int, Int) = {
    val p = pBit(minCos)
    val occBits0 = autoBitsPer(rows, targetBucketRows)
    val bandBudget =
      if (occBits0 >= DeepenMinBits) maxBands
      else math.min(maxBands, ShallowMaxBands)
    def bandsFor(bits: Int): Int =
      math.max(4, math.ceil(4.0 / math.pow(p, (bits - 4).toDouble)).toInt)
    def fits(bits: Int): Boolean =
      bandsFor(bits) <= bandBudget && bits * bandsFor(bits) <= maxPlanes
    // per-row cost in candidate-refine units: each band contributes
    // ~rows/2^bits expected RANDOM candidates (a 64-dim dot + a shuffle
    // row each) plus `bits` plane-dots of signature work. The model
    // only counts random collisions, so it is trusted only at the scale
    // where they dominate: the in-round A/B measured deepening a WIN at
    // 200k rows ((266,19) 344 s vs occupancy (168,14) 449 s, monotone)
    // but a LOSS at 20k ((81,9) 14.0 s vs (168,14) 23.8 s warm) — on
    // clustered data true pairs collide in ~every band, so extra bands
    // are pure cost until random-bucket mass is large. Hence deepening
    // is gated to occBits >= DeepenMinBits (~128k rows at the default
    // occupancy target); below that the occupancy shape ships as-is.
    def cost(bits: Int): Double =
      bandsFor(bits).toDouble * (rows.toDouble / (1L << bits) + bits)
    val occBits = occBits0
    val deeper = (occBits to 16).filter(fits)
    val bits =
      if (occBits >= DeepenMinBits && deeper.nonEmpty)
        deeper.minBy(cost)
      else if (occBits > 4 && fits(occBits))
        occBits
      else {
        // low-threshold regime: even the occupancy bits demand more
        // bands than the budget — back off (occupancy grows, recall
        // does not silently drop); ≤ 1024-row corpora land here at 4
        // bits and resolve to the (16, 4) oracle baseline
        var b = occBits
        while (b > 4 && !fits(b)) b -= 1
        b
      }
    val nb = math.min(bandBudget, bandsFor(bits))
    (bits * nb, nb)
  }

  /** Bounded memo of row counts keyed by canonicalized logical plan:
    * [[AutoPlanes]] resolution needs one `count()` per distinct corpus
    * frame, not one per operator call — a session typically probes the
    * same cached index many times. */
  private val rowCountMemo =
    new java.util.LinkedHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            java.lang.Long]): Boolean = size > 64
    }

  private def memoizedCount(df: DataFrame): Long = {
    val key = df.queryExecution.logical.canonicalized
    val hit = rowCountMemo.synchronized(Option(rowCountMemo.get(key)))
    hit.map(_.longValue).getOrElse {
      val n = df.count()
      rowCountMemo.synchronized(rowCountMemo.put(key, n))
      n
    }
  }

  /** Resolve the effective plane count: explicit values pass through;
    * [[AutoPlanes]] derives from the (memoized) corpus row count. */
  private def resolvePlanes(planes: Int, bands: Int, corpus: DataFrame): Int =
    if (planes != AutoPlanes) planes
    else autoPlanes(memoizedCount(corpus), bands)

  /** Resolve the threshold family's (planes, bands): both sentinels →
    * the recall-preserving [[autoShape]]; explicit planes with sentinel
    * bands → the historical 4 bands; sentinel planes with explicit
    * bands → occupancy-only [[autoPlanes]] at that band count. `rows` is
    * the corpus row count, evaluated only for the sentinel planes. */
  private def resolveShape(planes: Int, bands: Int, minCos: Double,
      rows: => Long): (Int, Int) =
    (planes, bands) match {
      case (AutoPlanes, AutoBands) => autoShape(rows, minCos)
      case (AutoPlanes, b) => (autoPlanes(rows, b), b)
      case (p, AutoBands) => (p, 4)
      case (p, b) => (p, b)
    }

  /** Worst-block-size memo for [[blockedPairsIndexed]]'s quadratic guard,
    * keyed by (canonicalized plan, block column) — same rationale as
    * [[rowCountMemo]]: the guard is an eager aggregate; repeated or
    * speculative calls over the same frame should pay it once. */
  private val blockMaxMemo =
    new java.util.LinkedHashMap[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
        java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
            java.lang.Long]): Boolean = size > 64
    }

  /** Quantized copy of the embedding: array<long> of round(x*1e6). */
  private def efpCol(c: Column): Column =
    transform(c, x => round(x.cast("double") * SCALE).cast("long"))

  /** cos = dot / (sqrt(na)*sqrt(nb)) — the 1e12 scales cancel. */
  private def cosOf(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Normalize any (id, vec) frame to the internal indexed contract:
    * (vec_id: long, carry..., efp: array<long>, nrm: long), persisted at
    * the session's `spark.sql.defaultCacheStorageLevel` (MEMORY_AND_DISK
    * unless a deployment sets DISK_ONLY for indexes that outgrow memory).
    * Repeated calls with the same input share the cache entry by
    * plan identity. `carry` columns ride along into operator output
    * (must not collide with vec_id/efp/nrm/cos/rank/query_id). */
  def index(df: DataFrame, id: String, vec: String,
      carry: Seq[String] = Nil): DataFrame =
    indexUncached(df, id, vec, carry).persist()

  /** [[index]] without the cache pin — for batch-proportional serving
    * probes (streaming epochs) where recomputing the narrow projection a
    * few times beats accumulating per-epoch cache entries the caller
    * cannot release. */
  private[queries] def indexUncached(df: DataFrame, id: String, vec: String,
      carry: Seq[String] = Nil): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(id).cast("long").as("vec_id") +: carry.map(col) :+
        efpCol(col(vec)).as("efp"): _*)
      .withColumn("nrm", GraftFunctions.intDot(col("efp"), col("efp")))
  }

  // =====================================================================
  // Brute-force exact KNN — single query (q32 semantics)
  // =====================================================================

  /** Top-k of `corpus` by cosine against the single row of `query`.
    * Plan: broadcast the query, one codegen'd integer dot per corpus row,
    * distributed top-k (TakeOrderedAndProject) — no corpus shuffle. */
  def knnBruteIndexed(corpus: DataFrame, query: DataFrame, k: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val q = query.select(col("efp").as("qefp"), col("nrm").as("qnrm"))
    corpus.crossJoin(broadcast(q))
      .select(col("vec_id") +: carry.map(col) :+
        round(cosOf(GraftFunctions.intDot(col("efp"), col("qefp")),
          col("nrm"), col("qnrm")), 6).as("cos"): _*)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  def knnBrute(corpus: DataFrame, query: DataFrame, id: String, vec: String,
      k: Int, carry: Seq[String] = Nil): DataFrame =
    knnBruteIndexed(index(corpus, id, vec, carry), index(query, id, vec), k, carry)

  // =====================================================================
  // Batch exact KNN — the serving shape (q45 semantics)
  // =====================================================================

  /** Top-k per query for a BATCH of queries in ONE corpus scan: the batch
    * broadcasts once, each corpus row scores against every query, a
    * per-query window keeps the top-k. Output: (query_id, vec_id,
    * carry..., cos, rank) ordered by (query_id, rank); ties break on
    * vec_id — deterministic. */
  def knnBatchIndexed(corpus: DataFrame, queries: DataFrame, k: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("efp").as("qefp"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(q))
      .select(Seq(col("query_id"), col("vec_id")) ++ carry.map(col) :+
        round(cosOf(GraftFunctions.intDot(col("efp"), col("qefp")),
          col("nrm"), col("qnrm")), 6).as("cos"): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  def knnBatch(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, carry: Seq[String] = Nil): DataFrame =
    knnBatchIndexed(index(corpus, id, vec, carry), index(queries, id, vec), k, carry)

  // =====================================================================
  // Random-hyperplane LSH ANN (q34 semantics, multi-query)
  // =====================================================================

  /** Hyperplane weights ±1 derived from md5(p + "_" + i) — a deterministic
    * pseudo-random source both engines reproduce exactly (see
    * [[Similarity]] q34's oracle). Computed driver-side and embedded as
    * LITERAL arrays so signature computation is a single codegen'd
    * projection — no explode/join/groupBy stages. */
  private def planeWeights(planes: Int, dims: Int): IndexedSeq[Array[Long]] =
    (0 until planes).map { p =>
      Array.tabulate(dims) { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
        val hex = d.digest(s"${p}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (("0123456789abcdef".indexOf(hex.charAt(0))) % 2 == 0) 1L else -1L
      }
    }

  /** ANN via random-hyperplane LSH: `planes` sign bits per vector (sign of
    * the quantized projection onto each pseudo-random ±1 hyperplane),
    * banded into `bands` groups of planes/bands bits; candidates share
    * >= 1 band value with a query; only candidates pay the exact cosine.
    * Output: (query_id, vec_id, carry..., cos, rank), top-k per query.
    * Scale: signatures are a pure map over the scan — no shuffle; the
    * candidate set is an equi-join on (band, value); the window runs over
    * candidates only (small by construction). */
  /** LSH band rows (vec_id, k: band index, v: band value) for an indexed
    * frame: `planes` sign bits from the pseudo-random ±1 hyperplanes,
    * grouped into `bands` values of planes/bands bits each. A pure
    * codegen'd projection over the scan (weights ride as literals) —
    * no shuffle. Shared by [[knnLshIndexed]] (query-vs-corpus probe) and
    * [[lshCandidatePairs]] (corpus self-join). */
  private[queries] def lshBandRows(idx: DataFrame, planes: Int, bands: Int,
      dims: Int): DataFrame = {
    require(planes % bands == 0, s"bands=$bands must divide planes=$planes")
    val bitsPer = planes / bands
    val pw = planeWeights(planes, dims)
    val bits = (0 until planes).map { p =>
      val w = typedLit(pw(p).toSeq)
      when(GraftFunctions.intDot(col("efp"), w) > 0, 1).otherwise(0).as(s"bit$p")
    }
    val sig = idx.select(col("vec_id") +: bits: _*)
    val nib = (0 until bands).map { b =>
      (0 until bitsPer).map(j => col(s"bit${bitsPer * b + j}") * lit(1 << j))
        .reduce(_ + _).as(s"nib$b")
    }
    sig.select(col("vec_id") +: nib: _*)
      .select(col("vec_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("k"), col(s"nib$b").as("v"))): _*)).as("e"))
      .select(col("vec_id"), col("e.k").as("k"), col("e.v").as("v"))
  }

  /** CACHED corpus-side band rows — the persisted-artifact form the
    * family's scaladocs promise ("the corpus-side index and band rows
    * are the cached artifacts a serving deployment persists"): every
    * consumer of one corpus's band rows at the same (planes, bands,
    * dims) — the dedup self-join's two sides, the incremental probe,
    * the LSH-ANN candidate join, the recall audit — shares ONE
    * in-memory relation by plan identity instead of re-deriving the
    * projection per consumer (guide §2.4; the r19 q75/q78 discipline).
    * Narrow (vec_id, k, v) rows at `bands` rows per vector; the
    * configurable vector storage level. Batch/query sides stay
    * UNCACHED — per-epoch serving frames must not accumulate cache
    * entries (the [[indexUncached]] rationale). */
  private[queries] def bandRowsCached(idx: DataFrame, planes: Int,
      bands: Int, dims: Int): DataFrame =
    lshBandRows(idx, planes, bands, dims).persist()

  def knnLshIndexed(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 16, bands: Int = 4, dims: Int = 64,
      carry: Seq[String] = Nil): DataFrame = {
    // both sides deliberately uncached: each is consumed ONCE in this
    // plan (a one-shot probe), and a cache entry would only serialize
    // the scan into materialize-then-read (measured r20: q34/q81 pay
    // ~0.03-0.07 s for a corpus-side cache here with nothing reusing it)
    val qBands = lshBandRows(queries, planes, bands, dims)
      .select(col("vec_id").as("query_id"), col("k"), col("v"))
    val cand = lshBandRows(corpus, planes, bands, dims)
      .join(broadcast(qBands), Seq("k", "v"))
      .select(col("query_id"), col("vec_id")).distinct()
    val q = queries.select(col("vec_id").as("query_id"),
      col("efp").as("qefp"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    corpus.join(cand, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ carry.map(col) :+
        round(cosOf(GraftFunctions.intDot(col("efp"), col("qefp")),
          col("nrm"), col("qnrm")), 6).as("cos"): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  def knnLsh(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, planes: Int = 16, bands: Int = 4, dims: Int = 64,
      carry: Seq[String] = Nil): DataFrame =
    knnLshIndexed(index(corpus, id, vec, carry), index(queries, id, vec),
      k, planes, bands, dims, carry)

  // =====================================================================
  // IVF ANN — coarse cells + probed re-rank (q37 semantics, multi-query)
  // =====================================================================

  /** ANN via IVF: `cell` is the inverted-file cell assignment (the k-means
    * step of a real IVF build, supplied by the caller so it stays
    * deterministic), centroids are computed IN-QUERY as exact per-cell
    * integer sums, each query probes its `nprobe` nearest centroids by
    * cosine, and only vectors in probed cells pay the exact re-rank.
    *
    * Centroid cosine needs no division: cos(q, mean(cell)) =
    * Σq·s / (√Σs² · √Σq²) — the 1/count factors cancel, so everything
    * stays in exact BIGINT sums. Output: (query_id, vec_id, carry...,
    * cos, rank), top-k per query.
    * Scale: centroid pass is one groupBy over (cell, dim); the probe is a
    * per-query top-nprobe window over |cells| rows; the re-rank scans only
    * probed cells — the IVF contract that replaces the full scan. */
  /** The IVF coarse probe: each query's `nprobe` nearest cells by
    * cosine against the exact integer per-cell SUM centroid (the 1/count
    * factors cancel — see [[knnIvfIndexed]]). Returns (query_id, cell
    * AS `cell`), the cell restriction both [[knnIvfIndexed]] and
    * [[knnIvfPqIndexed]] join the corpus against. */
  private def ivfProbe(corpus: DataFrame, queries: DataFrame, cell: String,
      nprobe: Int): DataFrame = {
    val cex = corpus.select(col(cell).as("cell"),
      posexplode(col("efp")).as(Seq("i", "x")))
    val cells = cex.groupBy(col("cell"), col("i")).agg(sum(col("x")).as("sx"))
    val qex = queries.select(col("vec_id").as("query_id"),
      posexplode(col("efp")).as(Seq("i", "qx")))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("cscore").desc, col("cell").asc)
    cells.join(broadcast(qex), Seq("i"))
      .groupBy(col("query_id"), col("cell"))
      .agg(sum(col("qx") * col("sx")).as("dotq"),
        sum(col("sx") * col("sx")).as("cnorm"))
      .select(col("query_id"), col("cell"),
        (col("dotq").cast("double") / sqrt(col("cnorm").cast("double"))).as("cscore"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cell").as(cell))
  }

  def knnIvfIndexed(corpus: DataFrame, queries: DataFrame, cell: String,
      k: Int, nprobe: Int = 2, carry: Seq[String] = Nil): DataFrame = {
    val probe = ivfProbe(corpus, queries, cell, nprobe)
    val q = queries.select(col("vec_id").as("query_id"),
      col("efp").as("qefp"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    corpus.join(broadcast(probe), Seq(cell))
      .join(broadcast(q), Seq("query_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ carry.map(col) :+
        round(cosOf(GraftFunctions.intDot(col("efp"), col("qefp")),
          col("nrm"), col("qnrm")), 6).as("cos"): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  def knnIvf(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      cell: String, k: Int, nprobe: Int = 2,
      carry: Seq[String] = Nil): DataFrame =
    knnIvfIndexed(index(corpus, id, vec, (carry :+ cell).distinct),
      index(queries, id, vec), cell, k, nprobe, carry)

  // =====================================================================
  // ANN recall report — approximate paths audited vs brute (q81 semantics)
  // =====================================================================

  /** Recall@k of the LSH, IVF, and PQ paths against brute-force, per
    * query and method: ('ivf'|'lsh'|'pq', query_id, n_hits,
    * recall_milli) with recall_milli = floor(1000·hits/k) — fixed-point,
    * cross-engine exact. Brute amortizes ONE corpus scan across the
    * query batch (the [[knnBatchIndexed]] shape; recall audits at corpus
    * scale run on a query SAMPLE, so the exact scan is a bounded,
    * occasional cost); the approximate paths reuse their candidate
    * joins; the overlap join compares two post-top-k frames of
    * k·|batch| rows each. */
  def annRecallIndexed(corpus: DataFrame, queries: DataFrame, cell: String,
      k: Int, nprobe: Int = 2, planes: Int = 16, bands: Int = 4,
      dims: Int = 64, pqM: Int = 8, pqKsub: Int = 16,
      pqRerank: Int = 50): DataFrame = {
    val brute = knnBatchIndexed(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    val qids = queries.select(col("vec_id").as("query_id"))
    def recallOf(approx: DataFrame, m: String): DataFrame = {
      val hits = brute
        .join(approx.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      qids.join(hits, Seq("query_id"), "left")
        .select(lit(m).as("method"), col("query_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          floor(lit(1000.0) * coalesce(col("h"), lit(0L)) / lit(k.toDouble))
            .as("recall_milli"))
    }
    recallOf(knnLshIndexed(corpus, queries, k, planes, bands, dims), "lsh")
      .unionByName(recallOf(knnIvfIndexed(corpus, queries, cell, k, nprobe),
        "ivf"))
      .unionByName(recallOf(
        knnPqIndexed(corpus, queries, k, pqM, pqKsub, pqRerank), "pq"))
      .orderBy("method", "query_id")
  }

  def annRecall(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, cell: String, k: Int, nprobe: Int = 2,
      planes: Int = 16, bands: Int = 4, dims: Int = 64, pqM: Int = 8,
      pqKsub: Int = 16, pqRerank: Int = 50): DataFrame =
    annRecallIndexed(index(corpus, id, vec, Seq(cell)),
      index(queries, id, vec), cell, k, nprobe, planes, bands, dims,
      pqM, pqKsub, pqRerank)

  // =====================================================================
  // Product-quantization ANN — ADC over sub-vector codebooks (q96)
  // =====================================================================

  /** Per-subspace codebooks SAMPLED from the corpus: dims split into `m`
    * contiguous subspaces, codewords = the `ksub` corpus vectors with the
    * smallest (md5(vec_id), vec_id) — the [[kmeansCells]] seed rule —
    * sliced per subspace. Sampled codebooks (k-means iters = 0) are the
    * oracle-expressible baseline a cross-engine check can replay;
    * [[pqRefineBooks]] adds deterministic k-means refinement on top.
    * Driver-held m × ksub × (dims/m) longs — bounded by construction,
    * independent of corpus size (and at real scale trained on a sample:
    * codebook quality saturates long before the corpus is exhausted). */
  def pqBooksSampled(idx: DataFrame, m: Int,
      ksub: Int): IndexedSeq[IndexedSeq[Array[Long]]] = {
    val seeds = idx
      .select(col("vec_id"), col("efp"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(ksub)
      .select(col("efp")).collect()
      .map(_.getSeq[Long](0).toArray).toIndexedSeq
    require(seeds.length == ksub, s"corpus has fewer than ksub=$ksub vectors")
    val dims = seeds.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** The code column for subspace `j` under `books`: argmin over the
    * ksub codewords of ‖v_j − c‖² = c·c − 2·v_j·c (the common v_j·v_j
    * dropped — it cannot change the argmin), ties to the LOWEST code —
    * one [[graft.functions.CellTop2]] call over the subvector, scoring
    * centroid 2·c with bias c·c and norm 1, so its argmax is this
    * argmin. All integer until the kernel's one exact long → double
    * conversion: |c·c| and |2·dot| ≤ 2·subdim·SCALE² ≈ 1.6e13 at 8 dims,
    * far below 2^53. The codebook rides as kernel constructor data, not
    * plan literals. */
  private def pqCodeCol(efp: Column,
      books: IndexedSeq[IndexedSeq[Array[Long]]], j: Int): Column = {
    val book = books(j)
    val sub = book.head.length
    GraftFunctions.cellTop2(slice(efp, j * sub + 1, sub),
      book.map(_.map(2L * _)), book.map(_ => 1.0),
      book.map(c => c.map(x => x * x).sum)).getField("c1")
  }

  private def pqCodesCol(efp: Column,
      books: IndexedSeq[IndexedSeq[Array[Long]]]): Column =
    array(books.indices.map(j => pqCodeCol(efp, books, j)): _*)

  /** Deterministic per-subspace k-means refinement of sampled codebooks:
    * each iteration is ONE distributed pass — every vector emits its m
    * (subspace, code, subvector) assignments, a (j, code, dim)-keyed
    * two-phase aggregate reduces them to exact integer sums (bounded at
    * m·ksub·subdim = dims·ksub rows, independent of corpus size), and
    * the driver re-quantizes means to the 1e6 grid exactly like
    * [[kmeansCells]]. Empty codes keep their previous codeword; `iters`
    * is fixed, so output is exactly reproducible. */
  def pqRefineBooks(idx: DataFrame,
      books: IndexedSeq[IndexedSeq[Array[Long]]],
      iters: Int): IndexedSeq[IndexedSeq[Array[Long]]] = {
    val m = books.length
    val sub = books.head.head.length
    var bs = books
    for (_ <- 0 until iters) {
      val rows = idx.select(explode(array((0 until m).map { j =>
          struct(lit(j).as("j"), pqCodeCol(col("efp"), bs, j).as("code"),
            slice(col("efp"), j * sub + 1, sub).as("v"))
        }: _*)).as("r"))
        .select(col("r.j").as("j"), col("r.code").as("code"),
          posexplode(col("r.v")).as(Seq("i", "x")))
        .groupBy("j", "code", "i")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(m)(j => bs(j).map(_.clone()).toArray)
      rows.groupBy(r => (r.getAs[Int]("j"), r.getAs[Int]("code")))
        .foreach { case ((j, c), rs) =>
          val cent = new Array[Long](sub)
          rs.foreach { r =>
            cent(r.getAs[Int]("i")) =
              math.round(r.getAs[Long]("sx").toDouble / r.getAs[Long]("n"))
          }
          next(j)(c) = cent
        }
      bs = next.map(_.toIndexedSeq).toIndexedSeq
    }
    bs
  }

  /** PQ-encode an indexed frame: (vec_id, carry..., codes: array<int>) —
    * a PURE PROJECTION (one [[graft.functions.CellTop2]] per subspace;
    * no shuffle, no join), the compressed representation that replaces
    * the raw vectors at serving time: m bytes/vector instead of dims·4. */
  def pqEncodeIndexed(idx: DataFrame,
      books: IndexedSeq[IndexedSeq[Array[Long]]],
      carry: Seq[String] = Nil): DataFrame =
    idx.select(col("vec_id") +: carry.map(col) :+
      pqCodesCol(col("efp"), books).as("codes"): _*)

  /** ANN via product quantization with asymmetric-distance (ADC)
    * candidate scoring + exact re-rank — the compression leg of the
    * standard IVF-PQ serving stack (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011; what FAISS
    * ships as IVFPQ): [[knnIvf]] bounds how much of the corpus a query
    * TOUCHES, PQ bounds what each touched vector COSTS (m table lookups
    * against a per-query LUT instead of a dims-wide dot product, and m
    * bytes of storage instead of dims floats — at 10¹⁰ vectors the
    * difference between an index that fits executor memory and one that
    * does not).
    *
    * Candidates rank by the norm-corrected ADC score
    * adc/√(Σ_j ‖c_code‖²) — an approximate cosine against the
    * RECONSTRUCTED vector (both factors exact integers, one IEEE
    * division both engines reproduce bit-exactly); the top-`rerank`
    * pool then pays the exact integer cosine, so with rerank ≥ corpus
    * size the output EQUALS [[knnBatch]] brute force by construction
    * (spec-pinned). Output: (query_id, vec_id, carry..., cos, rank),
    * top-k per query.
    *
    * Scale: encoding is a pure projection; the ADC pass is the
    * [[knnBatchIndexed]] broadcast shape over the CODES frame (narrow:
    * id + m bytes) with per-query WindowGroupLimit top-rerank; only the
    * rerank·|batch| candidate pool reads full vectors. `iters` > 0
    * refines the sampled codebooks with deterministic per-subspace
    * k-means ([[pqRefineBooks]]); the oracle binding pins iters = 0,
    * the cross-engine-replayable form. */
  /** Per-subspace ADC lookup table for one vector column: m arrays of
    * ksub integer dots (vector subspace × every codeword). Used on the
    * query side of [[knnPqIndexed]] and, in the residual form, on the
    * per-cell centroid table of [[knnIvfPqIndexed]]. The subvector is
    * LET-BOUND as a lambda variable (the single-element-array `transform`
    * trick, see [[Curation.winnowedSelOf]]) so the slice is evaluated
    * once per subspace, not once per codeword. */
  private def pqLutCol(vec: Column,
      books: IndexedSeq[IndexedSeq[Array[Long]]]): Column = {
    val sub = books.head.head.length
    array(books.indices.map { j =>
      element_at(transform(array(slice(vec, j * sub + 1, sub)), vj =>
        array(books(j).map(c =>
          GraftFunctions.intDot(vj, typedLit(c.toSeq))): _*)), 1)
    }: _*)
  }

  /** Σ_j lut[j][codes_j] — the ADC table-lookup sum. */
  private def pqAdcSum(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (cd, l) => element_at(l, cd + 1)),
      lit(0L), (acc, x) => acc + x)

  /** Σ_j ‖book_j[codes_j]‖² — the reconstructed norm, from a literal
    * per-subspace codeword-norm table. */
  private[queries] def pqRnorm2Col(codes: Column,
      books: IndexedSeq[IndexedSeq[Array[Long]]]): Column = {
    val nrm2Lut = books.map(_.map(c => c.map(x => x * x).sum))
    books.indices.map(j =>
      element_at(typedLit(nrm2Lut(j).toSeq),
        element_at(codes, j + 1) + 1)).reduce(_ + _)
  }

  /** Exact integer-cosine re-rank of a (query_id, vec_id, qefp, qnrm)
    * candidate frame against the corpus: the shared tail of the PQ
    * paths — only candidates read full vectors. */
  private def exactReRank(cands: DataFrame, corpus: DataFrame, k: Int,
      carry: Seq[String]): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cands
      .join(corpus.select(col("vec_id") +: carry.map(col) :+
        col("efp") :+ col("nrm"): _*), Seq("vec_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ carry.map(col) :+
        round(cosOf(GraftFunctions.intDot(col("efp"), col("qefp")),
          col("nrm"), col("qnrm")), 6).as("cos"): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Persistable PQ serving artifacts: the driver-held codebooks plus
    * the CACHED encoded frame (vec_id, codes, rnorm2) — at scale `enc`
    * is the parquet table a serving deployment writes once (m small
    * codes + one 8-byte norm per vector, instead of dims floats) and
    * `books` ship with the job; [[knnPqWithIndex]] probes it without
    * re-training or re-encoding, the long-lived-session / streaming
    * serving shape ([[graft.streaming.EventStream.runAnnServing]]). */
  final case class PqIndex(books: IndexedSeq[IndexedSeq[Array[Long]]],
      enc: DataFrame)

  /** Bounded memo of the sampled(+refined) codebooks per (session,
    * canonical corpus plan, m, ksub, iters): [[pqBooksSampled]] runs an
    * eager top-ksub collect (and [[pqRefineBooks]] `iters` distributed
    * passes) at CALL time, so Spark's plan-identity cache alone cannot
    * stop a repeat call — the recall audit (q81) re-paid the ADC
    * binding's (q96) training job, and each Bench pass re-paid it
    * again. Driver-held arrays only — model reuse (the
    * centsMemo/trainMemo pattern), not result caching: every probe
    * still computes its answer from the corpus frames. */
  private val pqBooksMemo = new BoundedMemo[(
    org.apache.spark.sql.SparkSession,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int, Int),
    IndexedSeq[IndexedSeq[Array[Long]]]](32)

  private def memoizedPqBooks(corpus: DataFrame, m: Int, ksub: Int,
      iters: Int): IndexedSeq[IndexedSeq[Array[Long]]] =
    pqBooksMemo.getOrBuild((corpus.sparkSession,
      corpus.queryExecution.logical.canonicalized, m, ksub, iters)) {
      val books0 = pqBooksSampled(corpus, m, ksub)
      if (iters > 0) pqRefineBooks(corpus, books0, iters) else books0
    }

  def pqIndexOf(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 0): PqIndex = {
    val books = memoizedPqBooks(corpus, m, ksub, iters)
    PqIndex(books, pqEncodeIndexed(corpus, books)
      .withColumn("rnorm2", pqRnorm2Col(col("codes"), books)).persist())
  }

  /** The probe half of [[knnPqIndexed]]: ADC over an already-encoded
    * codes frame + exact re-rank against `corpus`. */
  def knnPqWithIndex(corpus: DataFrame, pq: PqIndex, queries: DataFrame,
      k: Int, rerank: Int = 50, carry: Seq[String] = Nil): DataFrame =
    pqProbe(corpus, pq.books, pq.enc, queries, k, rerank, carry)

  private def pqProbe(corpus: DataFrame,
      books: IndexedSeq[IndexedSeq[Array[Long]]], enc: DataFrame,
      queries: DataFrame, k: Int, rerank: Int,
      carry: Seq[String]): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      pqLutCol(col("efp"), books).as("lut"),
      col("efp").as("qefp"), col("nrm").as("qnrm"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("adc_cos").desc, col("vec_id").asc)
    val cands = enc.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"), col("qefp"), col("qnrm"),
        pqAdcSum(col("codes"), col("lut")).as("adc"),
        col("rnorm2"))
      .select(col("query_id"), col("vec_id"), col("qefp"), col("qnrm"),
        when(col("rnorm2") === 0L, lit(Double.MinValue))
          .otherwise(col("adc").cast("double") /
            sqrt(col("rnorm2").cast("double"))).as("adc_cos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= rerank)
      .select("query_id", "vec_id", "qefp", "qnrm")
    exactReRank(cands, corpus, k, carry)
  }

  def knnPqIndexed(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, rerank: Int = 50, iters: Int = 0,
      carry: Seq[String] = Nil): DataFrame = {
    val books = memoizedPqBooks(corpus, m, ksub, iters)
    // codes frame CACHED (r20; it was deliberately lazy before): with
    // the books memoized, every caller over the same (corpus, m, ksub,
    // iters) builds a literal-identical encode plan, so the ADC scan
    // (q96) and the recall audit's PQ leg (q81) now share one narrow
    // (vec_id, codes, rnorm2) relation instead of each re-encoding the
    // corpus (guide §2.4) — the same artifact pqIndexOf persists for
    // serving. Memory: m small ints + one long per vector.
    val enc = pqEncodeIndexed(corpus, books)
      .withColumn("rnorm2", pqRnorm2Col(col("codes"), books)).persist()
    pqProbe(corpus, books, enc, queries, k, rerank, carry)
  }

  def knnPq(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, m: Int = 8, ksub: Int = 16, rerank: Int = 50, iters: Int = 0,
      carry: Seq[String] = Nil): DataFrame =
    knnPqIndexed(index(corpus, id, vec, carry), index(queries, id, vec),
      k, m, ksub, rerank, iters, carry)

  /** The FULL IVF-PQ composition (FAISS's IndexIVFPQ): the IVF coarse
    * probe bounds how much of the corpus a query TOUCHES (only `nprobe`
    * cells' vectors are scored), PQ over RESIDUALS (v − cell centroid)
    * bounds what each touched vector COSTS and STORES — residual
    * encoding is what makes the composition work: within a cell the
    * residual magnitudes are a fraction of the raw coordinates, so the
    * same ksub codewords quantize far more finely than global-space PQ.
    *
    * ADC over residuals: dot(q, v̂) = dot(q, cent) + Σ_j lut_q[j][code_j]
    * (one integer dot per PROBED (query, cell) pair + m lookups per
    * row), and ‖v̂‖² = ‖cent‖² + 2·(cent·r̂) + ‖r̂‖² where cent·r̂ rides a
    * per-cell m×ksub lookup table computed ONCE on the |cells|-row
    * centroid frame, never per corpus row. All exact integers; the only
    * doubles are the final ordering scores, same as [[knnPqIndexed]].
    *
    * Exactness contract (spec-pinned): rerank ≥ probed-set size makes
    * the output EQUAL [[knnIvfIndexed]] at the same nprobe (ADC only
    * selects the pool within probed cells; the re-rank is exact with
    * identical tie-breaks), and additionally nprobe ≥ |cells| makes it
    * equal the brute batch scan.
    *
    * Scale: centroids are one (cell, dim)-keyed two-phase aggregate
    * reassembled to |cells| array rows that BROADCAST everywhere they
    * are used (the q82 shape); encoding is corpus-row-proportional
    * projection work after that broadcast join; the ADC pass joins the
    * narrow codes frame to the nprobe·|batch|-row probe — per-query
    * cost is (touched vectors)·m lookups, the IVF-PQ contract. `cell`
    * comes from the caller ([[kmeansCells]] for a real build), so the
    * coarse quantizer stays deterministic. */
  def knnIvfPqIndexed(corpus: DataFrame, queries: DataFrame, cell: String,
      k: Int, nprobe: Int = 2, m: Int = 8, ksub: Int = 16,
      rerank: Int = 50, iters: Int = 0,
      carry: Seq[String] = Nil): DataFrame = {
    // integer cell centroids: re-quantized means (the kmeansCells update
    // rule), reassembled to one array row per cell
    val cents = corpus
      .select(col(cell).as("cell"), posexplode(col("efp")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(col("cell"), col("i"),
        round(col("sx").cast("double") / col("n"), 0).cast("long").as("cm"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cm")))),
        e => e.getField("cm")).as("cefp"))
      .withColumnRenamed("cell", cell)
    val resCol = zip_with(col("efp"), col("cefp"), (a, b) => a - b)
    val withCent = corpus.join(broadcast(cents), Seq(cell))
    // books train on residuals (collect-bounded seeds; optional k-means)
    val resIdx = withCent.select(col("vec_id"), resCol.as("efp"))
    val books0 = pqBooksSampled(resIdx, m, ksub)
    val books = if (iters > 0) pqRefineBooks(resIdx, books0, iters) else books0
    // per-cell lookup tables computed ONCE on the centroid frame
    val centsK = cents
      .withColumn("cnorm2", GraftFunctions.intDot(col("cefp"), col("cefp")))
      .withColumn("cdot_lut", pqLutCol(col("cefp"), books))
    val enc = corpus.select(col(cell), col("vec_id"), col("efp"))
      .join(broadcast(centsK), Seq(cell))
      // the residual is projected once; every subspace's code slices it
      .select(col(cell), col("vec_id"), resCol.as("refp"), col("cnorm2"),
        col("cdot_lut"))
      .select(col(cell), col("vec_id"),
        pqCodesCol(col("refp"), books).as("codes"),
        col("cnorm2"), col("cdot_lut"))
      .select(col(cell), col("vec_id"), col("codes"),
        (col("cnorm2") + lit(2L) * pqAdcSum(col("codes"), col("cdot_lut")) +
          pqRnorm2Col(col("codes"), books)).as("vnorm2"))
    val probe = ivfProbe(corpus, queries, cell, nprobe)
    val probeC = probe
      .join(broadcast(centsK.select(col(cell), col("cefp"))), Seq(cell))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("efp").as("qefp0"))), Seq("query_id"))
      .select(col("query_id"), col(cell),
        GraftFunctions.intDot(col("qefp0"), col("cefp")).as("qcdot"))
    val q = queries.select(col("vec_id").as("query_id"),
      pqLutCol(col("efp"), books).as("lut"),
      col("efp").as("qefp"), col("nrm").as("qnrm"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("adc_cos").desc, col("vec_id").asc)
    val cands = enc.join(broadcast(probeC), Seq(cell))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("qefp"), col("qnrm"),
        (col("qcdot") + pqAdcSum(col("codes"), col("lut"))).as("adcdot"),
        col("vnorm2"))
      .select(col("query_id"), col("vec_id"), col("qefp"), col("qnrm"),
        when(col("vnorm2") <= 0L, lit(Double.MinValue))
          .otherwise(col("adcdot").cast("double") /
            sqrt(col("vnorm2").cast("double"))).as("adc_cos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= rerank)
      .select("query_id", "vec_id", "qefp", "qnrm")
    exactReRank(cands, corpus, k, carry)
  }

  def knnIvfPq(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, cell: String, k: Int, nprobe: Int = 2, m: Int = 8,
      ksub: Int = 16, rerank: Int = 50, iters: Int = 0,
      carry: Seq[String] = Nil): DataFrame =
    knnIvfPqIndexed(index(corpus, id, vec, (carry :+ cell).distinct),
      index(queries, id, vec), cell, k, nprobe, m, ksub, rerank, iters,
      carry)

  // =====================================================================
  // Prototypicality pruning — distance-to-centroid ranking (q82 semantics)
  // =====================================================================

  /** Per-vector prototypicality within its `cell`: cosine of each vector
    * to its cell's centroid, ranked ascending (least prototypical first),
    * with the bottom `pruneTenths`/10 of every cell flagged — the
    * self-supervised data-pruning signal (rank examples by distance to
    * their cluster prototype and drop the least/most prototypical band;
    * Sorscher et al., "Beyond neural scaling laws", NeurIPS 2022; the
    * SemDeDup companion for redundancy-vs-outlier curation).
    *
    * Centroid cosine needs no division by the member count: cos(v,
    * mean(cell)) = v·S / (√(S·S)·√(v·v)) with S the exact integer SUM —
    * the 1/n factors cancel, so the score stays in exact integer dots and
    * one fixed IEEE sequence (the [[knnIvfIndexed]] probe identity).
    * The prune flag is pure integer arithmetic: rnk·10 ≤ n_cell·tenths.
    *
    * Output: (cell, vec_id, cos_c round-6, rnk, n_cell, prune 0/1).
    *
    * Scale: the centroid pass is ONE two-phase groupBy over (cell, dim)
    * — |cells|·dims rows out, skew-free partial aggregation; centroids
    * re-assemble to arrays (|cells| rows) and BROADCAST into a map-side
    * join, so the corpus pays one codegen'd [[graft.functions.ArrayIntDot]]
    * per row with no corpus shuffle; the rank window partitions by cell
    * (cells are bounded by the clustering fan-out, each a small sorted
    * partition). Integer range: |sx| ≤ n_cell·5e5, S·S ≤ dims·(n_cell·
    * 5e5)² — exact in Long through n_cell ≈ 4·10⁵ at 64 dims; beyond
    * that, split cells (raise k) before widening types. */
  def prototypicalityIndexed(idx: DataFrame, cell: String,
      pruneTenths: Int = 1): DataFrame = {
    val cents = idx
      .select(col(cell).as("cell"), posexplode(col("efp")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(sum(col("x")).as("sx"))
      .groupBy("cell")
      .agg(
        transform(array_sort(collect_list(struct(col("i"), col("sx")))),
          e => e.getField("sx")).as("cent"),
        sum(col("sx") * col("sx")).as("cnorm"))
    val w = Window.partitionBy(col(cell))
      .orderBy(col("cos_c").asc, col("vec_id").asc)
    val wc = Window.partitionBy(col(cell))
    idx.select(col(cell).as("cell"), col("vec_id"), col("efp"), col("nrm"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("cell").as(cell), col("vec_id"),
        round(cosOf(GraftFunctions.intDot(col("efp"), col("cent")),
          col("nrm"), col("cnorm")), 6).as("cos_c"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(wc))
      .withColumn("prune",
        when(col("rnk") * 10 <= col("n_cell") * pruneTenths, 1L)
          .otherwise(0L))
  }

  def prototypicality(df: DataFrame, id: String, vec: String, cell: String,
      pruneTenths: Int = 1): DataFrame =
    prototypicalityIndexed(index(df, id, vec, Seq(cell)), cell, pruneTenths)

  // =====================================================================
  // Per-cell diversity sampling (q100 semantics)
  // =====================================================================

  /** Diversity-preserving per-cell subsample: within every cell keep the
    * `num/den` LEAST prototypical fraction (cosine to the exact
    * integer-sum cell centroid, ascending — the cluster's outer shell),
    * at least one per cell, ties on id. The coreset-flavored companion
    * of [[prototypicalityIndexed]]: where q82 FLAGS the most redundant
    * examples for pruning, this SELECTS the per-cluster spread a
    * balanced training subsample keeps — cluster-coverage-preserving by
    * construction (every cell retains ≥ 1 member), redundancy-dropping
    * by ranking (prototype-adjacent members go first). Quota is exact
    * integer arithmetic: `greatest(1, (n_cell·num) div den)`.
    *
    * Output per kept vector: (cell, vec_id, cos_c, rnk, n_cell, quota).
    *
    * Scale: identical to q82 — centroids are a |cells|-row broadcast
    * aggregate, the rank window partitions by cell (bounded by cell
    * membership; size cells via the q37/kmeans k knob), and the quota
    * is a projection on the already-computed window counts. */
  def diverseSampleIndexed(idx: DataFrame, cell: String, num: Int,
      den: Int): DataFrame = {
    require(num >= 1 && den >= num, s"need 1 <= num <= den (got $num/$den)")
    val quota = greatest(lit(1L), expr(s"(n_cell * $num) div $den"))
    prototypicalityIndexed(idx, cell)
      .withColumn("quota", quota)
      .filter(col("rnk") <= col("quota"))
      .select(col(cell), col("vec_id"), col("cos_c"), col("rnk"),
        col("n_cell"), col("quota"))
  }

  def diverseSample(df: DataFrame, id: String, vec: String, cell: String,
      num: Int, den: Int): DataFrame =
    diverseSampleIndexed(index(df, id, vec, Seq(cell)), cell, num, den)

  /** [[kmeansCells]] + [[diverseSampleIndexed]] in one call: train the
    * cells from the corpus itself, then keep each learned cluster's
    * least-prototypical `num/den` — diversity sampling over a frame with
    * NO pre-existing cell column (the common case: a raw embedding dump).
    * Deterministic end to end (hash-seeded k-means, id tie-breaks). */
  def diverseSampleAuto(df: DataFrame, id: String, vec: String, num: Int,
      den: Int, nCells: Int, iters: Int = 5): DataFrame = {
    val idx = index(df, id, vec)
    val withCells = idx.join(kmeansCells(idx, nCells, iters), "vec_id")
    diverseSampleIndexed(withCells, "cell", num, den)
  }

  // =====================================================================
  // Embedding dimension health report (q87 semantics)
  // =====================================================================

  /** Per-dimension statistics of an embedding corpus — the embedding
    * HEALTH check run before trusting ANN/semantic-dedup over a new
    * encoder dump: dead dimensions (var 0), scale outliers (a dimension
    * whose variance dwarfs the rest distorts every cosine), and
    * mean offsets (anisotropy — a large common-mean component makes all
    * cosines ~1 and kills contrast).
    *
    * Output per 0-based dimension: (i, n, mean_micro, var_micro2, min_x,
    * max_x) in the quantized micro units of [[index]] — means/variances
    * from EXACT integer sums, divided and rounded exactly once.
    *
    * Scale: one posexplode (pure map, dims rows per vector) into one
    * two-phase (i)-keyed aggregate — dims groups total, each collapsed
    * map-side; output is dims rows regardless of corpus size. Integer
    * exactness: Σx² ≤ n·2.5e11 — inside Long through n ≈ 3·10⁷ rows
    * per dimension; larger corpora run the same plan on a hash-mod
    * vector sample (the audit is statistical, not per-row). */
  def dimensionStatsIndexed(idx: DataFrame): DataFrame = {
    val n = count(lit(1))
    val meanMicro = round(sum(col("x")).cast("double") / n.cast("double"))
      .cast("long")
    val varMicro2 = round(
      (sum(col("x") * col("x")).cast("double") -
        sum(col("x")).cast("double") * sum(col("x")).cast("double") /
          n.cast("double")) / n.cast("double")).cast("long")
    idx.select(posexplode(col("efp")).as(Seq("i", "x")))
      .groupBy(col("i").cast("long").as("i"))
      .agg(n.as("n"), meanMicro.as("mean_micro"),
        varMicro2.as("var_micro2"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .orderBy("i")
  }

  def dimensionStats(df: DataFrame, id: String, vec: String): DataFrame =
    dimensionStatsIndexed(index(df, id, vec))

  // =====================================================================
  // Docs ↔ embeddings referential audit (q91 semantics)
  // =====================================================================

  /** Cross-table DATA-CONTRACT audit of a multimodal corpus: every
    * document must have exactly one well-formed embedding, every
    * embedding must have a document. This is the gate run before any
    * doc↔vector join is trusted (semantic dedup, keep-best, IVF
    * serving) — partial encoder dumps, doubled ingest, truncated
    * vectors, and id drift between the text and vector pipelines are
    * the four standing failure modes, and each gets its own column.
    *
    * Output per `strata` value of the doc side: (source, n_docs,
    * n_with_vec, n_missing_vec, n_bad_dim, n_dup_vec, n_orphan_vecs=0),
    * plus one `__unmatched__` row carrying the count of embedding ROWS
    * whose id matches no document (orphans have no stratum to land in).
    * `n_with_vec + n_missing_vec = n_docs` always (a NULL embedding
    * counts as missing); `n_bad_dim` counts docs with ANY copy of the
    * wrong length; `n_dup_vec` counts docs with >1 embedding row.
    *
    * Scale: the vector side collapses to one row per id FIRST (two-phase
    * aggregate — dup detection rides the same pass), so the doc join is
    * 1:1 by construction, never a row-multiplying skew hazard; orphans
    * are a left-anti probe of the same collapsed frame. Everything on
    * the wire is (id, small ints); embeddings never shuffle their
    * payload (the `size()` projection happens at the scan). */
  def referentialAudit(docs: DataFrame, vecs: DataFrame, docId: String,
      strata: String, vecId: String, vec: String, dims: Int): DataFrame = {
    val d = docs.select(col(docId).cast("long").as("doc_id"),
      col(strata).as("source"))
    val v = vecs.select(col(vecId).cast("long").as("doc_id"),
      size(col(vec)).as("vdim")) // size(NULL) = NULL (non-legacy conf)
    val v1 = v.groupBy("doc_id").agg(
      count(lit(1)).as("n_copies"),
      max(when(col("vdim").isNotNull, 1L).otherwise(0L)).as("has"),
      max(when(col("vdim").isNotNull && col("vdim") =!= dims, 1L)
        .otherwise(0L)).as("bad"))
    val per = d.join(v1, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("has") === 1L, 1L).otherwise(0L)).as("n_with_vec"),
        sum(when(col("has").isNull || col("has") === 0L, 1L).otherwise(0L))
          .as("n_missing_vec"),
        sum(when(col("bad") === 1L, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("n_copies") > 1L, 1L).otherwise(0L)).as("n_dup_vec"))
      .withColumn("n_orphan_vecs", lit(0L))
    val orph = v.join(d.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_vecs"))
      .select(lit("__unmatched__").as("source"), lit(0L).as("n_docs"),
        lit(0L).as("n_with_vec"), lit(0L).as("n_missing_vec"),
        lit(0L).as("n_bad_dim"), lit(0L).as("n_dup_vec"),
        col("n_orphan_vecs"))
    per.unionByName(orph).orderBy("source")
  }

  // =====================================================================
  // Blocked all-pairs near-dup ranking (q33 semantics)
  // =====================================================================

  /** Refuse-by-default ceiling for [[blockedPairsIndexed]]'s largest
    * block: 100k rows is ~5e9 pair-dots in one block — already "you
    * meant to do this" territory; beyond it the quadratic baseline is
    * almost certainly a mistake (point a 100 TB corpus here and the job
    * is effectively unbounded — use the LSH/IVF paths instead). */
  val MaxBlockRowsDefault: Long = 100000L

  /** Top-n most-similar pairs WITHIN each `block` value, ranked globally
    * by cosine. Pairs are only formed inside a block — the bucketed-join
    * pattern; at 100 TB this exact shape runs within LSH/IVF buckets.
    * Norms are precomputed per vector BEFORE the join, so each pair pays
    * one integer dot. Output: (block, id_a, id_b, cos).
    *
    * `maxBlockRows` (default [[MaxBlockRowsDefault]]) is the DELIBERATE-
    * QUADRATIC guard: this is the exact all-pairs baseline, so before the
    * join we pay one cheap count aggregate and REFUSE if any block
    * exceeds the cap, instead of silently launching an O(n²) job a user
    * pointed at a full corpus. `None` opts out (benchmarking the
    * baseline at known size). Note the guard job runs EAGERLY at call
    * time — once per distinct (input plan, block): the worst-block count
    * is memoized by canonicalized plan, so callers that build the same
    * blocked-pairs frame speculatively or repeatedly pay one scan, not
    * one per call. */
  def blockedPairsIndexed(idx: DataFrame, block: String, topN: Int,
      maxBlockRows: Option[Long] = Some(MaxBlockRowsDefault)): DataFrame = {
    maxBlockRows.foreach { cap =>
      val key = idx.queryExecution.logical.canonicalized -> block
      val hit = blockMaxMemo.synchronized(Option(blockMaxMemo.get(key)))
      val worst = hit.map(_.longValue).getOrElse {
        val r = idx.groupBy(col(block)).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).head()
        val w = if (r.isNullAt(0)) 0L else r.getLong(0)
        blockMaxMemo.synchronized(blockMaxMemo.put(key, w))
        w
      }
      require(worst <= cap,
        s"blockedPairs: largest '$block' block has $worst rows (> cap $cap); " +
          "the all-pairs baseline is quadratic per block — use the LSH (q34) " +
          "or IVF (q37) path, or pass maxBlockRows=None if the size is intended")
    }
    val a = idx.select(col(block).as("blk"), col("vec_id").as("id_a"),
      col("efp").as("ea"), col("nrm").as("na"))
    val b = idx.select(col(block).as("blk"), col("vec_id").as("id_b"),
      col("efp").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .select(col("blk").as(block), col("id_a"), col("id_b"),
        round(cosOf(GraftFunctions.intDot(col("ea"), col("eb")),
          col("na"), col("nb")), 6).as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  def blockedPairs(df: DataFrame, id: String, vec: String, block: String,
      topN: Int, maxBlockRows: Option[Long] = Some(MaxBlockRowsDefault)): DataFrame =
    blockedPairsIndexed(index(df, id, vec, Seq(block)), block, topN, maxBlockRows)

  // =====================================================================
  // Semantic dedup — LSH candidates → exact cosine → components → keeper
  // =====================================================================

  /** Candidate near-dup pairs from an LSH band SELF-join: (id_a < id_b)
    * pairs sharing at least one band value. This is the corpus-scale
    * candidate generator (the SemDeDup shape): signatures are a pure map,
    * the self-join shuffles narrow (vec_id, band) rows on the band key,
    * and no pair outside a shared bucket is ever formed — never all-pairs.
    * Bucket population is geometric in bits-per-band: the [[AutoPlanes]]
    * default sizes bitsPer from the corpus row count so buckets stay
    * ~targetBucketRows at any scale. This primitive has no similarity
    * threshold in hand, so it sizes for COST only (bands stay at the
    * caller's value) — the recall policy belongs to the threshold-aware
    * callers ([[semanticDedupIndexed]] resolves the full [[autoShape]]
    * BEFORE calling here). Pass planes=16, bands=4 to reproduce the
    * oracle-checked q60 binding exactly. */
  def lshCandidatePairs(idx: DataFrame, planes: Int = AutoPlanes,
      bands: Int = 4, dims: Int = 64): DataFrame = {
    // cached: the self-join reads the SAME band frame on both sides —
    // uncached, each side re-derived the projection (and no other
    // band-rows consumer of this corpus could share it)
    val b = bandRowsCached(idx, resolvePlanes(planes, bands, idx), bands, dims)
    b.select(col("vec_id").as("id_a"), col("k"), col("v"))
      .join(b.select(col("vec_id").as("id_b"), col("k"), col("v")), Seq("k", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Embedding-level (semantic) dedup over an indexed corpus: LSH band
    * candidates filtered by EXACT integer-dot cosine >= `minCos` become
    * the dup-graph edges; connected components label every vector with
    * its cluster (min reachable vec_id); the cluster's minimum id is the
    * kept representative. Output: (vec_id, cluster_id, n_members,
    * is_kept) — one row per corpus vector.
    *
    * Scale: candidates are bucketed (see [[lshCandidatePairs]]), the
    * cosine filter drops non-dups BEFORE the component loop, and the
    * label propagation iterates only over vectors that have an edge
    * ([[TextDedup.propagateLabels]] — O(component diameter) rounds,
    * reliable `checkpoint()` when `spark.graft.dedup.checkpointDir` is
    * set). The final window runs over corpus-sized but narrow
    * (vec_id, cluster_id) rows.
    *
    * NOTE: eagerly executes the band-join + cosine edge derivation at
    * CALL time (the component solver counts the dup-graph edges to pick
    * its local vs distributed regime), so merely building the returned
    * frame runs Spark jobs; it is not a lazy plan. [[semanticDedup]]
    * inherits this. */
  def semanticDedupIndexed(idx: DataFrame, minCos: Double,
      planes: Int = AutoPlanes, bands: Int = AutoBands,
      dims: Int = 64): DataFrame = {
    // At DeepenMinBits-and-above occupancy (174× wall for 100× rows on
    // the global path, candidate volume ∝ rows·log rows), auto-knob
    // callers route to the cell-sharded SemDeDup path ([[routeShape]]).
    // Explicit-knob callers (the q60 oracle binding) keep the exact
    // global semantics they pinned.
    routeShape("semanticDedup", planes, bands, minCos, memoizedCount(idx))
      match {
        case None => semanticDedupCellsIndexed(idx, minCos, dims = dims)
        case Some((rp, rb)) =>
          val cand = lshCandidatePairs(idx, rp, rb, dims)
          clusterOutputOf(idx, cosineFilteredPairs(idx, cand, minCos))
      }
  }

  /** Exact-cosine refine of candidate (id_a, id_b) pairs: join both
    * sides' vectors back, keep pairs whose integer-dot cosine clears
    * `minCos`. The refine step shared by the global and cell-sharded
    * dedup paths. */
  private def cosineFilteredPairs(idx: DataFrame, cand: DataFrame,
      minCos: Double): DataFrame = {
    val a = idx.select(col("vec_id").as("id_a"), col("efp").as("ea"),
      col("nrm").as("na"))
    val b = idx.select(col("vec_id").as("id_b"), col("efp").as("eb"),
      col("nrm").as("nb"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .filter(cosOf(GraftFunctions.intDot(col("ea"), col("eb")),
        col("na"), col("nb")) >= minCos)
      .select(col("id_a"), col("id_b"))
  }

  /** Dup-graph edges → the dedup output contract: connected-component
    * labels (min reachable vec_id), singleton backfill, member counts,
    * min-id keeper flag. Shared tail of [[semanticDedupIndexed]] and
    * [[semanticDedupCellsIndexed]]. */
  private def clusterOutputOf(idx: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = TextDedup.propagateLabels(pairs)
      .withColumnRenamed("doc_id", "vec_id")
    val all = idx.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
    val w = Window.partitionBy("cluster_id")
    all.withColumn("n_members", count(lit(1)).over(w))
      .withColumn("is_kept",
        when(col("vec_id") === col("cluster_id"), lit(1L)).otherwise(lit(0L)))
  }

  /** Auto cell-count sentinel for [[semanticDedupCellsIndexed]]. */
  val AutoCells = 0

  /** Target rows per k-means cell for cell-sharded dedup: large enough
    * that near-dup pairs land in one cell with high probability, small
    * enough that the within-cell LSH shape stays shallow (autoShape at
    * 4096 rows resolves 6 occupancy bits at the default bucket target). */
  val DefaultCellRows = 4096

  /** Auto cell-count ceiling: 65536 cells ≈ the broadcast-assignment
    * limit of [[kmeansCells]] (the IVF literature's typical nlist
    * ceiling). Past ~268M rows cells grow beyond `targetCellRows`; the
    * design answer there is two-level sharding (hash-shard the corpus,
    * cell-shard within), which composes from this same primitive. */
  val MaxAutoCells = 65536

  /** Cell-sharded semantic dedup — SemDeDup's actual recipe (Abbas et
    * al. '23: k-means cells first, dedup WITHIN cells): train a
    * deterministic coarse quantizer ([[kmeansCells]]), then run the
    * threshold-LSH candidate join with the cell id prepended to the
    * band key, so no pair outside a shared cell is ever formed.
    *
    * Why this is the 100-TB shape: cells hold ~`targetCellRows` rows
    * regardless of corpus size (cell COUNT grows instead), so the
    * within-cell LSH shape — and with it per-vector candidate volume —
    * is CONSTANT as the corpus grows; total candidate volume is
    * O(rows). Global threshold-LSH by contrast must deepen bands to
    * hold recall as occupancy grows, and its candidate volume was
    * measured growing ~rows·log rows (BENCH_NOTES r12: 174× wall for
    * 100× rows). The k-means build cost is linear in rows (fixed
    * iterations, bounded centroid collect).
    *
    * Approximation contract (inherited from SemDeDup): pairs whose
    * members quantize into DIFFERENT cells are not candidates, so
    * boundary near-dups can be missed and clusters never span cells —
    * the price of O(rows) growth, acceptable for dedup (a missed
    * boundary dup costs a duplicate training doc, not a wrong answer).
    * Recall measured on the clustered stress corpus in BENCH_NOTES r13;
    * `probes = 2` is SemDeDup's standard boundary mitigation (each
    * vector is additionally assigned to its SECOND-nearest cell via
    * [[assignCellsMulti]], so a pair split across adjacent cells still
    * shares one). Measured (r14): recall on planted cos∈[τ, τ+0.02]
    * cross-boundary pairs goes 0/20 → 20/20 (`CellBoundarySpec`), at
    * 5.1× wall on the clustered 100× stress corpus (31.4 → 159.8 s
    * min-of-2 — second-choice cells CONCENTRATE there, so hot-bucket
    * occupancy doubles and within-bucket candidate pairs grow ~4×;
    * still O(rows) in corpus size, but a real constant). Opt in where
    * boundary recall is threshold-critical; the default stays 1.
    * Determinism: k-means seeds/ties are md5-ordered, iterations fixed,
    * LSH shape derives from (rows, minCos) — no RNG anywhere. */
  // (session, corpus plan, k, iters, trainSampleCap, probes,
  //  doubleToLongBits(probeMargin))
  private type ModelKey = (org.apache.spark.sql.SparkSession,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int, Long,
    Int, Long)

  /** Bounded (LRU) memo of the cached cell assignment per (session,
    * canonical corpus plan, k, iters, sampleCap, probes): [[kmeansCells]]
    * runs driver-side Lloyd iterations at CALL time, so Spark's
    * plan-identity cache alone cannot stop a repeat call (Bench runs each
    * query 3×) from re-paying the build. Same staleness semantics as any
    * .cache(). Eviction — and a lost concurrent build race — unpersists
    * the superseded frame ([[BoundedMemo]], r13 advisor). */
  private val cellsMemo =
    new BoundedMemo[ModelKey, DataFrame](32, _.unpersist(false))

  private def memoizedCells(key: ModelKey)(build: => DataFrame): DataFrame =
    cellsMemo.getOrBuild(key)(build)

  /** Bounded memo of the TRAINED centroid set (probes pinned to 1 in the
    * key — the model is probe-count-independent): the batch dedup and the
    * incremental serving path share one training run per corpus (the
    * incremental path must assign new batches with the corpus's own
    * centroids, or an identical batch vector could land in a different
    * cell than its corpus twin). Driver-held arrays only — no unpersist
    * on drop. */
  private val centsMemo = new BoundedMemo[ModelKey, IndexedSeq[Array[Long]]](32)

  private def memoizedCentroids(idx: DataFrame, k: Int, iters: Int,
      trainSampleCap: Long): IndexedSeq[Array[Long]] =
    centsMemo.getOrBuild((idx.sparkSession,
      idx.queryExecution.logical.canonicalized, k, iters, trainSampleCap, 1,
      0L))(
      kmeansCentroids(idx, k, iters, trainSampleCap))

  /** Auto cell count: enough ~`targetCellRows`-row cells to tile the
    * corpus, capped at [[MaxAutoCells]]. Shared by the batch and
    * incremental cell-sharded paths so both resolve identical shapes
    * for the same corpus. */
  private[queries] def autoCellCount(rows: Long, nCells: Int,
      targetCellRows: Int): Int =
    if (nCells != AutoCells) nCells
    else math.max(1, math.min(MaxAutoCells.toLong,
      (rows + targetCellRows - 1) / targetCellRows).toInt)

  /** OPT-IN Lloyd-update sample cap for k-means builds: past `cap` rows
    * the training iterations run on a hash-mod sample of this size
    * (final assignment still scans everything) — the build cost becomes
    * iters·O(cap) + ONE full-corpus assignment pass instead of iters
    * full scans (measured: kmeans_build_k1024 at 100× vectors 7.4 s →
    * 1.8 s, ratio 4.9× → 1.7×).
    *
    * Deliberately NOT the default for the cell-sharded DEDUP paths:
    * there the build is a small fraction of the wall and centroid
    * quality drives the within-cell candidate volume — on the clustered
    * 100× stress corpus the sampled centroids' cell balance DOUBLED the
    * dedup wall (isolated JVMs: 66.4 s sampled vs 33.9 s full,
    * BENCH_NOTES r13), dwarfing the training saving. Pass it explicitly
    * for build-bound uses (IVF index construction, serving cell builds)
    * where the build IS the cost. */
  val CellTrainSampleCap = 262144L

  def semanticDedupCellsIndexed(idx: DataFrame, minCos: Double,
      nCells: Int = AutoCells, kmeansIters: Int = 2,
      targetCellRows: Int = DefaultCellRows, dims: Int = 64,
      trainSampleCap: Long = 0L, probes: Int = 1,
      probeMargin: Double = 2.0): DataFrame = {
    val rows = memoizedCount(idx)
    val k = autoCellCount(rows, nCells, targetCellRows)
    val cellRows = math.max(1L, (rows + k - 1) / k)
    val (p, b) = autoShape(cellRows, minCos)
    // probes=1 ignores the margin, so its key pins 0L margin bits — the
    // incremental path and CorpusPrep then SHARE the corpus-sized cached
    // assignment instead of splitting LRU entries on an inert parameter
    val cells = memoizedCells(
      (idx.sparkSession, idx.queryExecution.logical.canonicalized, k,
        kmeansIters, trainSampleCap, probes,
        if (probes == 1) 0L
        else java.lang.Double.doubleToLongBits(probeMargin)))(
      assignCellsMulti(idx, memoizedCentroids(idx, k, kmeansIters,
        trainSampleCap), probes, probeMargin).persist())
    // band rows cached (the self-join below reads them on both sides;
    // the cell join itself stays lazy — its inputs are both cached)
    val br = bandRowsCached(idx, p, b, dims).join(cells, Seq("vec_id"))
    val cand = br.select(col("vec_id").as("id_a"), col("cell"), col("k"),
        col("v"))
      .join(br.select(col("vec_id").as("id_b"), col("cell"), col("k"),
        col("v")), Seq("cell", "k", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    clusterOutputOf(idx, cosineFilteredPairs(idx, cand, minCos))
  }

  /** [[semanticDedupCellsIndexed]] over any raw (id, vec) frame. */
  def semanticDedupCells(df: DataFrame, id: String, vec: String,
      minCos: Double, nCells: Int = AutoCells, kmeansIters: Int = 2,
      targetCellRows: Int = DefaultCellRows, dims: Int = 64,
      trainSampleCap: Long = 0L, probes: Int = 1,
      probeMargin: Double = 2.0): DataFrame =
    semanticDedupCellsIndexed(index(df, id, vec), minCos, nCells,
      kmeansIters, targetCellRows, dims, trainSampleCap, probes, probeMargin)

  /** [[semanticDedupIndexed]] over any raw (id, vec) frame. */
  def semanticDedup(df: DataFrame, id: String, vec: String, minCos: Double,
      planes: Int = AutoPlanes, bands: Int = AutoBands,
      dims: Int = 64): DataFrame =
    semanticDedupIndexed(index(df, id, vec), minCos, planes, bands, dims)

  /** INCREMENTAL semantic dedup — the vector twin of the text family's
    * q48: each BATCH vector probes the CORPUS index for its best
    * embedding near-duplicate. Candidates come from the band equi-join
    * (batch bands × corpus bands — batch-proportional, the corpus never
    * self-joins); a candidate is a dup partner when its ROUNDED cosine
    * clears `minCos`; the best partner per batch vector is
    * (cos desc, partner_id asc). Output one row per batch vector:
    * (vec_id, verdict: near_dup|new, partner_id, cos).
    *
    * Scale: the corpus-side index and band rows are the cached artifacts
    * a serving deployment persists; each ingest epoch pays only its
    * batch's signatures + the candidate join + re-rank — the same
    * batch-proportional contract as [[graft.queries.TextOps.incrementalDedup]]. */
  def semanticIncrementalIndexed(corpus: DataFrame, batch: DataFrame,
      minCos: Double, planes: Int = AutoPlanes, bands: Int = AutoBands,
      dims: Int = 64): DataFrame = {
    // Auto-knob callers past the DeepenMinBits occupancy route to the
    // cell-sharded probe ([[routeShape]]): the global path's corpus-sized
    // band artifact deepens with corpus occupancy, so per-batch-vector
    // candidate volume grows with the CORPUS — the cell path keeps it
    // pinned to ~targetCellRows. Explicit-knob callers (the q63 oracle
    // binding) keep exact global semantics. The shape sizes against the
    // big side, the corpus.
    routeShape("semanticIncremental", planes, bands, minCos,
        memoizedCount(corpus)) match {
      case None =>
        semanticIncrementalCellsIndexed(corpus, batch, minCos, dims = dims)
      case Some((p, b)) =>
        // corpus side cached (the serving artifact a long-lived session /
        // streaming ingest probes every epoch); the batch side stays a
        // per-epoch uncached projection
        val cb = bandRowsCached(corpus, p, b, dims)
          .select(col("vec_id").as("partner_id"), col("k"), col("v"))
        val bb = lshBandRows(batch, p, b, dims)
        val cand = bb.join(cb, Seq("k", "v"))
          .select(col("vec_id"), col("partner_id")).distinct()
        bestPartnerOf(corpus, batch, cand, minCos)
    }
  }

  /** [[semanticIncrementalIndexed]] where corpus and batch are the two
    * halves of ONE indexed frame split by a vec_id-only predicate — the
    * id-sliced-probe shape (batch = a slice of the corpus table, the
    * declared q63/q63b bindings). Band rows derive ONCE over `all` and
    * each side filters AFTER the derivation: the derivation is
    * row-local and keeps vec_id, so filter-then-derive commutes and the
    * results are row-identical to the generic entry — but the corpus
    * side, the batch side, and any [[semanticDedupIndexed]] run over
    * the same full frame now share a SINGLE cached band artifact
    * instead of three private derivations (the r19 q75/q78
    * cache-identity discipline; guide §2.4). Knob resolution (auto
    * shape, cell-route occupancy check — [[routeShape]]) is computed
    * from the CORPUS half exactly like the generic entry, so auto-knob
    * callers resolve identically, including the cell-sharded route.
    * `batchPred` must reference `vec_id` only — it is
    * applied to the (vec_id, k, v) band frame. */
  private[queries] def semanticIncrementalById(all: DataFrame,
      batchPred: Column, minCos: Double, planes: Int = AutoPlanes,
      bands: Int = AutoBands, dims: Int = 64): DataFrame = {
    val corpus = all.filter(!batchPred)
    val batch = all.filter(batchPred)
    routeShape("semanticIncremental", planes, bands, minCos,
        memoizedCount(corpus)) match {
      case None =>
        semanticIncrementalCellsIndexed(corpus, batch, minCos, dims = dims)
      case Some((p, b)) =>
        val allBands = bandRowsCached(all, p, b, dims)
        val cb = allBands.filter(!batchPred)
          .select(col("vec_id").as("partner_id"), col("k"), col("v"))
        val bb = allBands.filter(batchPred)
        val cand = bb.join(cb, Seq("k", "v"))
          .select(col("vec_id"), col("partner_id")).distinct()
        bestPartnerOf(corpus, batch, cand, minCos)
    }
  }

  /** Shared re-rank + verdict tail of the incremental variants: exact
    * rounded cosine over the candidate (batch, corpus) pairs, best
    * partner per batch vector by (cos desc, partner_id asc), left-join
    * back so every batch vector gets a row. */
  private[queries] def bestPartnerOf(corpus: DataFrame, batch: DataFrame,
      cand: DataFrame, minCos: Double): DataFrame = {
    // BATCH-member candidates (any partner that is itself a batch id —
    // not just the probing vector's own id) arise only when the batch's
    // rows are already in the index — an epoch REPLAY against an
    // appendAdmitted index (foreachBatch is at-least-once), or a caller
    // id collision. Mere self-exclusion is not enough for replays: a
    // batch holding two mutual near-dups A and B (both admitted and
    // appended on the first run) would flip both new→dup on replay, A
    // matching B's appended row and vice versa. Anti-joining the FULL
    // batch id set (broadcast — batch-proportional by construction)
    // makes partners "pre-batch corpus members" and replayed verdicts
    // bit-identical to the original run's (r14 advisor); disjoint-id
    // callers see a no-op.
    val liveCand = cand.join(
      broadcast(batch.select(col("vec_id").as("__b_id")).distinct()),
      col("partner_id") === col("__b_id"), "left_anti")
    val bq = batch.select(col("vec_id"), col("efp").as("be"),
      col("nrm").as("bn"))
    val cq = corpus.select(col("vec_id").as("partner_id"),
      col("efp").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("partner_id").asc)
    val best = liveCand.join(bq, Seq("vec_id")).join(cq, Seq("partner_id"))
      .withColumn("cos", round(cosOf(GraftFunctions.intDot(col("be"),
        col("ce")), col("bn"), col("cn")), 6))
      .filter(col("cos") >= minCos)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("partner_id"), col("cos"))
    batch.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("partner_id").isNotNull, lit("near_dup")).otherwise(lit("new"))
          .as("verdict"),
        col("partner_id"), col("cos"))
  }

  /** Cell-sharded incremental semantic dedup — the serving twin of
    * [[semanticDedupCellsIndexed]]: the corpus's k-means cells + cached
    * assignment are the persisted index; each batch vector is assigned
    * to its cell with the CORPUS's own centroids (identical scoring to
    * training, so an identical batch vector always lands in its corpus
    * twin's cell), then probes only (cell, band, value) buckets. The
    * LSH shape is sized for `targetCellRows`, so per-batch-vector probe
    * volume stays CONSTANT as the corpus grows — the global path's probe
    * volume grows with corpus occupancy because its shape must deepen to
    * hold recall (the r12/r13 super-linear measurements).
    *
    * Approximation contract: a batch vector whose true near-dup sits in
    * a NEIGHBORING cell reports `new` — same boundary trade as
    * [[semanticDedupCellsIndexed]], acceptable for ingest admission. */
  def semanticIncrementalCellsIndexed(corpus: DataFrame, batch: DataFrame,
      minCos: Double, nCells: Int = AutoCells, kmeansIters: Int = 2,
      targetCellRows: Int = DefaultCellRows, dims: Int = 64,
      trainSampleCap: Long = 0L, probes: Int = 1,
      probeMargin: Double = 2.0): DataFrame = {
    val rows = memoizedCount(corpus)
    val k = autoCellCount(rows, nCells, targetCellRows)
    val cellRows = math.max(1L, (rows + k - 1) / k)
    val (p, b) = autoShape(cellRows, minCos)
    val cents = memoizedCentroids(corpus, k, kmeansIters, trainSampleCap)
    val corpusCells = memoizedCells(
      (corpus.sparkSession, corpus.queryExecution.logical.canonicalized, k,
        kmeansIters, trainSampleCap, 1, 0L))(
      assignCells(corpus, cents).persist())
    // corpus band rows cached: the streaming ingest loop probes this
    // same (corpus, shape) artifact every epoch
    val cb = bandRowsCached(corpus, p, b, dims).join(corpusCells, Seq("vec_id"))
      .select(col("vec_id").as("partner_id"), col("cell"), col("k"),
        col("v"))
    // `probes` widens only the BATCH side (the corpus index keeps its
    // single training-time assignment): a batch vector whose partner
    // sits just across its cell boundary probes its second-nearest cell
    // too — the multi-probe IVF search pattern, batch-cost ~2×
    val bb = lshBandRows(batch, p, b, dims)
      .join(assignCellsMulti(batch, cents, probes, probeMargin),
        Seq("vec_id"))
    val cand = bb.join(cb, Seq("cell", "k", "v"))
      .select(col("vec_id"), col("partner_id")).distinct()
    bestPartnerOf(corpus, batch, cand, minCos)
  }

  /** [[semanticIncrementalCellsIndexed]] over raw (id, vec) frames —
    * corpus first, then batch (matching [[semanticIncremental]]). */
  def semanticIncrementalCells(corpus: DataFrame, batch: DataFrame,
      id: String, vec: String, minCos: Double, nCells: Int = AutoCells,
      kmeansIters: Int = 2, targetCellRows: Int = DefaultCellRows,
      dims: Int = 64,
      trainSampleCap: Long = 0L, probes: Int = 1,
      probeMargin: Double = 2.0): DataFrame =
    semanticIncrementalCellsIndexed(index(corpus, id, vec),
      index(batch, id, vec), minCos, nCells, kmeansIters, targetCellRows,
      dims, trainSampleCap, probes, probeMargin)

  /** [[semanticIncrementalIndexed]] over raw (id, vec) frames. Parameter
    * order matches the Indexed variant (corpus first, then batch) — the
    * two frames are same-typed, so a divergent order would let a swapped
    * call run and return plausible-looking output. */
  def semanticIncremental(corpus: DataFrame, batch: DataFrame, id: String,
      vec: String, minCos: Double, planes: Int = AutoPlanes,
      bands: Int = AutoBands, dims: Int = 64): DataFrame =
    semanticIncrementalIndexed(index(corpus, id, vec), index(batch, id, vec),
      minCos, planes, bands, dims)

  /** One keeper per semantic cluster, chosen by QUALITY instead of
    * [[semanticDedup]]'s min-id default — the embedding twin of
    * [[TextOps.keepBestPerCluster]] (q43): cluster like
    * [[semanticDedup]], then keep the member maximizing `quality`
    * (any Column over `df`'s row — a text-quality score joined onto the
    * vectors, a recency timestamp, ...), ties to the lowest id.
    * Output: (cluster_id, keeper_id, n_members, best_quality). */
  def semanticKeepBest(df: DataFrame, id: String, vec: String,
      quality: Column, minCos: Double, planes: Int = AutoPlanes,
      bands: Int = AutoBands, dims: Int = 64): DataFrame = {
    val q = df.select(col(id).cast("long").as("vec_id"), quality.as("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("vec_id").asc)
    semanticDedup(df, id, vec, minCos, planes, bands, dims)
      .join(q, Seq("vec_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("vec_id").as("keeper_id"),
        col("n_members"), col("quality").as("best_quality"))
  }

  // =====================================================================
  // Deterministic k-means coarse quantizer (the IVF build step)
  // =====================================================================

  /** Assign every indexed vector to one of `k` cells via Lloyd's k-means
    * with a FIXED iteration count and deterministic seeding — the
    * coarse-quantizer build a real IVF deployment runs before
    * [[knnIvfIndexed]] can serve (q37 takes the cell column as caller
    * input; this produces one for any corpus).
    *
    * Determinism (no RNG anywhere):
    *   - seeds: the `k` vectors with the smallest `(md5(vec_id), vec_id)`
    *     — a pseudo-random but reproducible draw, stable under
    *     repartitioning;
    *   - assignment: argmax of cos(v, centroid); since |v| is a common
    *     positive factor it reduces to argmax of dot/|centroid| — ties
    *     break to the LOWEST cell id ([[graft.functions.CellTop2]]);
    *   - update: exact integer per-dimension sums; the new centroid is
    *     the mean re-quantized to the 1e6 grid (round-half-up), keeping
    *     centroid coordinates in the same integer range as vectors so
    *     BIGINT dots never overflow regardless of cell population;
    *   - `iters` is fixed — no data-dependent convergence test, so cost
    *     and output are exactly reproducible.
    *
    * Scale shape per iteration: the assignment is a PURE MAP — one
    * [[graft.functions.CellTop2]] projection whose centroid matrix is a
    * codegen reference object, so plans stay small at any k (no join, no
    * shuffle, no plan literals). The update is one (cell, dim)-keyed
    * partial-aggregated groupBy collecting k×dims rows to the driver
    * (bounded by construction, independent of corpus size). Empty cells
    * keep their previous centroid. Returns (vec_id, cell: int). */
  def kmeansCells(idx: DataFrame, k: Int, iters: Int = 5,
      trainSampleCap: Long = 0L): DataFrame =
    assignCells(idx, kmeansCentroids(idx, k, iters, trainSampleCap))

  /** (vec_id, cell) for an indexed frame under a FIXED centroid set —
    * the assignment half of [[kmeansCells]], public so serving paths
    * ([[semanticIncrementalCellsIndexed]]) can place NEW batches into a
    * corpus's existing cells with the exact training-time scoring. A pure
    * projection at any k: the argmax runs inside one codegen'd expression
    * whose centroid matrix is a reference object
    * ([[graft.functions.CellTop2]]) — plans stay small, and nothing fans
    * out (the pre-r15 broadcast-join + max-of-struct formulation planned
    * a SortAggregate over the k-way fan-out, a disk-filling 8B-row sort
    * at the 1000×-decade build). */
  def assignCells(frame: DataFrame,
      cents: IndexedSeq[Array[Long]]): DataFrame = {
    // self-register (idempotent): callers like VectorIndex.rebuild reach
    // here without ever passing through index()'s registration
    GraftFunctions.register(frame.sparkSession)
    frame.select(col("vec_id"), cellCol(cents))
  }

  private def cellCol(cents: IndexedSeq[Array[Long]]): Column =
    GraftFunctions.cellTop2(col("efp"), cents).getField("c1").as("cell")

  /** TOP-`probes` cell assignment — [[assignCells]] widened to SemDeDup's
    * standard boundary mitigation: each vector gets one output row per
    * probed cell (its nearest, then second-nearest centroid; ties to the
    * lowest cell id at each rank), so a near-dup pair straddling a cell
    * boundary still shares a cell whenever either member's second choice
    * is the other's first. probes ∈ {1, 2}; probes = 1 IS [[assignCells]].
    *
    * `maxMargin` is the ADAPTIVE gate (standard multi-probe refinement):
    * the second cell is emitted only when the vector is boundary-
    * AMBIGUOUS — cos(v, c1) − cos(v, c2) ≤ maxMargin. A pair that
    * straddles a boundary has at least one member near it (small margin
    * by construction), while well-separated cluster-core vectors keep
    * single assignment (CellBoundarySpec: 0/600 core vectors doubled at
    * 0.3 on a 2-cluster fixture). MEASURED LIMIT (BENCH_NOTES r14): on
    * high-dimensional embedding corpora top-2 gaps CONCENTRATE far below
    * any recall-safe margin (stress corpus deciles p50 0.039 / p95 0.139 /
    * p99 0.194 vs the τ=0.9-safe ≈0.3 ≈ 2·sin(θc/2)·sin(acos τ / 2)), so
    * the gate passes ~everything and cannot recover the unconditional
    * probes=2 cost (324.7 vs 327.3 s at 100×) — that cost is inherent to
    * double assignment there; treat probes=2 as a deliberate recall-
    * insurance spend and the gate as a win only on low-dim/strongly-
    * separated corpora. The default 2.0 (the cosine diameter) is
    * unconditional, i.e. plain top-2.
    *
    * Cost shape: a pure map that reads best AND runner-up out of the same
    * single [[graft.functions.CellTop2]] evaluation, so multi-probe
    * assignment costs the same one pass as single-probe — the 2× is only
    * in the emitted rows. */
  def assignCellsMulti(frame: DataFrame, cents: IndexedSeq[Array[Long]],
      probes: Int, maxMargin: Double = 2.0): DataFrame = {
    require(probes >= 1 && probes <= 2,
      s"probes must be 1 or 2 (got $probes); deeper probing composes from" +
        " smaller cells (raise nCells) rather than wider assignment")
    if (probes == 1 || cents.length < 2) assignCells(frame, cents)
    else {
      GraftFunctions.register(frame.sparkSession) // assignCells rationale
      // score s = dot/|cent|, so cos = s/|v|: the margin condition
      // (cos1 − cos2 ≤ maxMargin) is (s1 − s2) ≤ maxMargin·|v|, and the
      // second row explodes out only when it passes
      val t = GraftFunctions.cellTop2(col("efp"), cents)
      frame.select(col("vec_id"), col("nrm"), t.as("t2"))
        .select(col("vec_id"), explode(
          when((col("t2.s1") - col("t2.s2")) <=
              lit(maxMargin) * sqrt(col("nrm").cast("double")),
            array(col("t2.c1"), col("t2.c2")))
            .otherwise(array(col("t2.c1")))).as("cell"))
    }
  }

  /** The TRAINING half of [[kmeansCells]]: Lloyd iterations to the final
    * centroid set (fixed-point coordinates), no assignment pass. Exposed
    * so serving paths can persist/reuse the model independent of the
    * corpus assignment. */
  def kmeansCentroids(idx: DataFrame, k: Int, iters: Int = 5,
      trainSampleCap: Long = 0L): IndexedSeq[Array[Long]] = {
    require(k >= 1 && iters >= 1, s"need k>=1, iters>=1 (got $k, $iters)")
    GraftFunctions.register(idx.sparkSession) // assignCells rationale
    val dims = idx.select(size(col("efp"))).head().getInt(0)

    // SAMPLED TRAINING (trainSampleCap > 0): seeds and every Lloyd update
    // pass run over a deterministic hash-mod sample of ~cap rows, and only
    // the FINAL assignment scans the full corpus — the standard recipe at
    // real scale, where iters x full-corpus scans dominate the build and
    // codebook quality saturates long before the corpus is exhausted
    // (same argument as pqBooksSampled). The sample is a pure function of
    // vec_id (the q42 hash-mod idiom), so training stays deterministic;
    // the cap is floored at 16k rows per seed-k so the seed collect can
    // never come up short. 0 = train on everything (exact legacy path).
    val trainIdx =
      if (trainSampleCap <= 0L) idx
      else {
        val rows = memoizedCount(idx)
        val cap = math.max(trainSampleCap, 16L * k)
        val m = math.max(1L, rows / cap)
        if (m <= 1L) idx
        else idx.filter(expr(
          s"CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % ${m}L = 0"))
      }

    val seeds = trainIdx
      .select(col("vec_id"), col("efp"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("efp")).collect()
      .map(_.getSeq[Long](0).toArray).toIndexedSeq
    require(seeds.length == k,
      s"training frame has fewer than k=$k vectors (sampled cap $trainSampleCap)")

    var cents = seeds
    for (_ <- 0 until iters) {
      val sums = trainIdx.select(cellCol(cents), col("efp"))
        .select(col("cell"), posexplode(col("efp")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(k)(c => cents(c).clone())
      sums.groupBy(_.getAs[Int]("cell")).foreach { case (c, rows) =>
        val cent = new Array[Long](dims)
        rows.foreach { r =>
          cent(r.getAs[Int]("i")) =
            math.round(r.getAs[Long]("sx").toDouble / r.getAs[Long]("n"))
        }
        next(c) = cent
      }
      cents = next.toIndexedSeq
    }
    cents
  }

  /** [[kmeansCells]] + [[knnIvfIndexed]] in one call: build the coarse
    * quantizer from the corpus itself, then serve the query batch — IVF
    * over any (id, vec) frame with no precomputed cell column. */
  def knnIvfAuto(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nCells: Int, nprobe: Int = 2, iters: Int = 5,
      carry: Seq[String] = Nil): DataFrame = {
    val idx = index(corpus, id, vec, carry)
    val withCells = idx.join(kmeansCells(idx, nCells, iters), "vec_id")
    knnIvfIndexed(withCells, index(queries, id, vec), "cell", k, nprobe, carry)
  }

  /** [[kmeansCells]] + [[knnIvfPqIndexed]] in one call: train the coarse
    * quantizer from the corpus, then serve the query batch through the
    * full residual IVF-PQ stack — the one-call FAISS-IndexIVFPQ build
    * over any (id, vec) frame. `iters` trains the coarse cells,
    * `pqIters` optionally refines the residual codebooks. */
  def knnIvfPqAuto(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nCells: Int, nprobe: Int = 2, m: Int = 8,
      ksub: Int = 16, rerank: Int = 50, iters: Int = 5, pqIters: Int = 0,
      carry: Seq[String] = Nil): DataFrame = {
    val idx = index(corpus, id, vec, carry)
    val withCells = idx.join(kmeansCells(idx, nCells, iters), "vec_id")
    knnIvfPqIndexed(withCells, index(queries, id, vec), "cell", k, nprobe,
      m, ksub, rerank, pqIters, carry)
  }
}
