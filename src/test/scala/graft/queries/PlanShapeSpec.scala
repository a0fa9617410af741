package graft.queries

import graft.SparkSpec

/** Physical-plan assertions: the shapes that decide 100 TB viability.
  * `.explain` inspection encoded as tests so a regression in pushdown /
  * broadcast / top-k planning fails loudly. */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q03 pushes filters into the parquet scan and prunes columns") {
    val p = plan(Relational.q03Filter(spark, sfDir))
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n${p.take(2000)}")
    // projection pruning: the 16-column lineitem scan reads only needed cols
    assert(p.contains("ReadSchema"), "no ReadSchema in scan")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), "scan reads unprojected columns")
  }

  test("q05/q06 dimension joins broadcast (no shuffle of the fact side for dims)") {
    assert(plan(Relational.q05JoinBroadcast(spark, sfDir)).contains("BroadcastHashJoin"))
    assert(plan(Relational.q06MultiJoin(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("q02 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q02TopkParts(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n${p.take(1500)}")
  }

  test("q01 aggregate is map-side partial (two-phase HashAggregate)") {
    val df = Relational.q01Agg(spark, sfDir)
    df.collect() // finalize the adaptive plan before inspecting it
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n${p.take(2000)}")
    assert(p.contains("partial_sum"), "no map-side partial sums")
    // whole-stage codegen renders as `*(n)` stage markers in toString
    assert(p.contains("*(1)"), "aggregate fell out of codegen")
  }

  test("q32 knn scan stays in whole-stage codegen with the custom int-dot") {
    val df = Similarity.q32KnnBrute(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_int_dot") || p.contains("array_int_dot"),
      s"custom expression missing from plan:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), "knn top-k not TakeOrdered")
  }

  test("q31 hamming filter sits inside the candidate join, not after the distinct") {
    val p = plan(TextDedup.q31SimhashPairs(spark, sfDir))
    // the bit_count predicate must appear as part of a join condition so
    // only near-dup survivors reach the pair-dedup shuffle
    val joinLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("bit_count")).toSeq
    assert(joinLines.nonEmpty,
      s"hamming predicate not in the join condition:\n${p.take(2000)}")
  }

  test("q88 prefix sum is two-level: corpus window bucket-partitioned, base broadcast") {
    val df = TextPipeline.q88StreamLayout(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // the per-bucket base offsets (|corpus|/span rows) ride a broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"bucket base offsets not broadcast:\n${p.take(2000)}")
    // corpus rows only ever see a window PARTITIONED BY bkt (≤ span rows
    // per partition); the sole unbounded-partition window runs over the
    // bucket aggregate, never over doc-level rows
    assert("windowspecdefinition\\(bkt#\\d+L, doc_id#\\d+L ASC".r
      .findFirstIn(p).isDefined,
      s"within-bucket window not partitioned by bkt:\n${p.take(2000)}")
    // the bucket aggregate collapses map-side before the tiny window
    assert(p.contains("partial_sum"),
      s"per-bucket token counts not map-side partial:\n${p.take(2000)}")
  }

  test("q41 document frequency is two-phase partial-aggregated, never a window") {
    val df = TextDedup.q41JaccardCapped(spark, sfDir)
    df.collect() // materialize the cached df derivation + finalize AQE
    // The df stage must be a groupBy with MAP-SIDE partial aggregation
    // (skew-robust: a df~10^8 boilerplate shingle contributes one row per
    // task to the shuffle) — NEVER a `count over (partition by sh)`
    // window, which has no partial agg and lands every row of the hottest
    // shingle in one window partition on one task. The window would live
    // inside the cached exDf derivation, which toString prints.
    val p = plan(df)
    assert(!p.contains("Window partitionedBy") && !"Window \\[count".r.findFirstIn(p).isDefined &&
      !p.contains("windowspecdefinition(sh"),
      s"df computed via a window over sh:\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      s"df aggregate not map-side partial:\n${p.take(2000)}")
  }

  /** sh-partitioned shuffles in the EXECUTED tree only — tree traversal
    * treats InMemoryTableScan as a leaf, so shuffles inside cached
    * derivations (which toString would print) are excluded. */
  private def shShufflesOf(df: org.apache.spark.sql.DataFrame) = {
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("sh#") => e
    }
  }

  test("q49 decontamination joins via broadcast; the corpus never shuffles its shingles") {
    val df = TextDedup.q49Decontamination(spark, sfDir)
    assert(plan(df).contains("BroadcastHashJoin"), "eval-set probe not a broadcast join")
    // the only legitimate sh-shuffle is the EVAL side's distinct (tiny);
    // the corpus side must reach the broadcast join shuffle-free
    assert(shShufflesOf(df).size <= 1,
      "corpus shingles shuffled for the decontamination join")
  }

  test("q45 batch knn broadcasts the query batch and never shuffles the corpus for the join") {
    val p = plan(Similarity.q45KnnBatch(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the batch join")
  }

  /** Hash-partitioned shuffles in the executed tree (the data-movement
    * shuffles; the final ORDER BY's range exchange is excluded, and so
    * is the EXPLICIT input-parallelism repartition `Tables.parallelized`
    * places under per-row-heavy derivations — its REPARTITION_BY_NUM
    * origin distinguishes it from the ENSURE_REQUIREMENTS exchanges a
    * join/aggregation introduces, which are what these shape asserts
    * guard against). */
  private def hashShufflesOf(df: org.apache.spark.sql.DataFrame) = {
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.startsWith("hashpartitioning") &&
            e.shuffleOrigin != org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM => e
    }
  }

  test("Tables.parallelized: repartitions a below-parallelism scan, identity otherwise") {
    val target = spark.sessionState.conf.numShufflePartitions
    val oneSplit = Tables.load(spark, sfDir, "documents")
    assume(oneSplit.rdd.getNumPartitions * 2 < target,
      "fixture not in the single-split regime")
    val par = Tables.parallelized(oneSplit, "doc_id")
    assert(par.rdd.getNumPartitions == target,
      s"expected $target partitions, got ${par.rdd.getNumPartitions}")
    assert(par.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM"),
      "no explicit repartition in the plan")
    // already-parallel input: the SAME frame comes back, no exchange
    val wide = oneSplit.repartition(target, org.apache.spark.sql.functions.col("doc_id"))
    assert(Tables.parallelized(wide, "doc_id") eq wide,
      "parallelized added an exchange to an already-parallel frame")
  }

  test("Tables.parallelized FileIndex probe decides exactly like the RDD probe (r20)") {
    // the r20 probe reads split counts from the logical FileIndex instead
    // of forcing physical planning (`d.rdd`): its repartition-or-identity
    // decision must match the old probe's on every driver table
    val target = spark.sessionState.conf.numShufflePartitions
    Tables.names.foreach { n =>
      val t = Tables.load(spark, sfDir, n)
      val oldDecision = t.rdd.getNumPartitions * 2 < target
      val newDecision = !(Tables.parallelized(t, t.columns.head) eq t)
      assert(newDecision == oldDecision,
        s"$n: FileIndex probe decided repartition=$newDecision, " +
          s"RDD probe says $oldDecision")
    }
  }

  test("q50 quality filter is a pure projection: no joins, no hash shuffle") {
    val df = TextDedup.q50QualityFilter(spark, sfDir)
    assert(hashShufflesOf(df).isEmpty,
      "quality filter hash-shuffled; it must stay a map over the scan")
    assert(!plan(df).contains("Join"), "quality filter grew a join")
  }

  test("q52 vocab top-k is partial-aggregated and TakeOrdered, not globally sorted") {
    val df = TextDedup.q52VocabTopK(spark, sfDir)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k fell back to a global sort:\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "no map-side partial aggregation before the token shuffle")
  }

  test("q51 mix shuffles exactly once, on the stratum key") {
    val df = TextDedup.q51CorpusMix(spark, sfDir)
    val sh = hashShufflesOf(df)
    assert(sh.size == 1,
      s"expected 1 stratum-key shuffle for the rank window, got ${sh.size}")
    assert(sh.head.outputPartitioning.toString.contains("source#"),
      s"shuffle not on the stratum key: ${sh.head.outputPartitioning}")
  }

  test("q53 chunking is a pure fan-out: no joins, no hash shuffle") {
    val df = TextPipeline.q53DocChunks(spark, sfDir)
    assert(hashShufflesOf(df).isEmpty,
      "chunking hash-shuffled; it must stay a map over the scan")
    assert(!plan(df).contains("Join"), "chunking grew a join")
  }

  test("q54 tf-idf joins broadcast (AQE-sized) and the per-doc top-k is group-limited") {
    val df = TextPipeline.q54TfidfTopK(spark, sfDir)
    df.collect() // finalize the adaptive plan: df has no broadcast HINT,
                 // AQE must pick broadcast from the measured size
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"df/N joins shuffled the corpus-sized tf side:\n${p.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).nonEmpty ||
      "BroadcastNestedLoopJoin".r.findAllIn(p).nonEmpty,
      "bounded df/N sides not broadcast")
    // Spark >= 3.5 prunes rank > k before the window shuffle: each map
    // task keeps only its local top-k per doc (the 100 TB guarantee that
    // per-doc token lists never hit the wire in full)
    assert(p.contains("WindowGroupLimit"),
      s"row_number <= k not planned as WindowGroupLimit:\n${p.take(2000)}")
  }

  test("q55 packing shuffles exactly once, on the stratum key") {
    val df = TextPipeline.q55SeqPacking(spark, sfDir)
    val sh = hashShufflesOf(df)
    assert(sh.size == 1,
      s"expected 1 stratum-key shuffle for the packing window, got ${sh.size}")
    assert(sh.head.outputPartitioning.toString.contains("source#"),
      s"shuffle not on the stratum key: ${sh.head.outputPartitioning}")
  }

  test("q57 redaction is a pure projection: no joins, no hash shuffle") {
    val df = TextPipeline.q57PiiRedact(spark, sfDir)
    assert(hashShufflesOf(df).isEmpty,
      "redaction hash-shuffled; it must stay a map over the scan")
    assert(!plan(df).contains("Join"), "redaction grew a join")
  }

  test("q58 span dedup partial-aggregates counts+canonical; no window, no cartesian") {
    val df = TextPipeline.q58SpanDedup(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // count + min(struct) come from ONE two-phase aggregate (map-side
    // combine keeps a 10^7-occurrence license-block span to one row per
    // task) — never a window over span_hash, which has no partial agg
    assert(!p.contains("windowspecdefinition(span_hash"),
      s"span count/canonical computed via a window:\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      s"span aggregate not map-side partial:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "join-back went cartesian")
    // movement bound: spans→agg shuffle + (at most) the join-back shuffle
    assert(hashShufflesOf(df).size <= 2,
      s"more shuffles than agg + join-back: ${hashShufflesOf(df).size}")
  }

  test("q59 url filter probes a broadcast blocklist; corpus never shuffles for it") {
    val df = TextPipeline.q59UrlFilter(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "blocklist not broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the blocklist probe:\n${p.take(1500)}")
  }

  test("q60 semantic dedup candidates come from the band join — never an all-pairs corpus product") {
    // the pair/edge derivation (pre-component-loop) must contain no
    // cartesian product and no join of raw embeddings to raw embeddings
    // without the band-key equi-join in between
    val idx = VectorOps.index(Tables.load(spark, sfDir, "embeddings"),
      "vec_id", "embedding")
    val pairs = VectorOps.lshCandidatePairs(idx)
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct"), "candidate join went cartesian")
    assert(p.contains("graft_int_dot") || p.contains("array_int_dot"),
      "signatures not computed via the codegen'd int-dot")
  }

  test("q61 contamination score joins via broadcast like q49; corpus shingles never shuffle") {
    val df = TextDedup.q61ContaminationScore(spark, sfDir)
    assert(plan(df).contains("BroadcastHashJoin"), "eval-set probe not a broadcast join")
    assert(shShufflesOf(df).size <= 1,
      "corpus shingles shuffled for the contamination join")
  }

  test("q62 vocab prune probes a broadcast keep-list and reassembles in one doc shuffle") {
    val df = TextPipeline.q62VocabPrune(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "keep-list not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the keep-list probe")
    // the keep-list derivation is top-k bounded: TakeOrdered, no global sort
    assert(p.contains("TakeOrderedAndProject"), "keep-list not TakeOrdered")
    // shuffles: keep-list aggregate (tiny) + the doc_id reassembly — the
    // corpus-sized movement is exactly one exchange
    assert(hashShufflesOf(df).size <= 2,
      s"vocab prune shuffles more than (keep-list agg + reassembly)")
  }

  test("q64 rolling frames plan ONE window pass over one stratum shuffle") {
    val df = TextPipeline.q64RollingStats(spark, sfDir)
    val p = plan(df)
    // all four frames share the (lang, doc_id-order) spec, so Catalyst
    // must fuse them into a single Window operator over a single sort
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"rolling frames split into multiple window passes:\n${p.take(2000)}")
    val sh = hashShufflesOf(df)
    assert(sh.size == 1,
      s"expected 1 stratum-key shuffle for the rolling frames, got ${sh.size}")
    assert(sh.head.outputPartitioning.toString.contains("lang#"),
      s"shuffle not on the stratum key: ${sh.head.outputPartitioning}")
  }

  test("q56 bigram model aggregates partially map-side; no corpus self-join") {
    val df = TextPipeline.q56BigramLm(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "bigram counts not partial-aggregated before the shuffle")
    // the occurrences side joins the MODEL (an aggregate), never itself:
    // no join may have raw scans of the documents table on both sides
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val selfJoins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.left.collectLeaves().toString.contains("documents") &&
            j.right.collectLeaves().toString.contains("documents") &&
            !j.right.toString.contains("HashAggregate") &&
            !j.right.toString.contains("Exchange") => j
    }
    assert(selfJoins.isEmpty, "scoring joined raw corpus to raw corpus")
  }

  test("q65 winnowing is a pure projection: no joins, no hash shuffle") {
    val df = Curation.q65Winnow(spark, sfDir)
    assert(hashShufflesOf(df).isEmpty,
      "winnowing hash-shuffled; the HOF selection must ride the scan")
    assert(!plan(df).contains("Join"), "winnowing grew a join")
  }

  test("q66 snapshot diff hashes before the join: only (id, md5) crosses the wire") {
    val df = Curation.q66SnapshotDiff(spark, sfDir)
    df.collect() // finalize the adaptive plan
    assert(hashShufflesOf(df).size <= 2,
      "snapshot diff moved more than one exchange per side")
    // the wide text column must be reduced to its hash below every exchange
    hashShufflesOf(df).foreach { e =>
      assert(!e.child.output.map(_.name).contains("text"),
        s"raw text shuffled: ${e.child.output.map(_.name)}")
    }
  }

  test("q67 token budget runs ONE running-sum window over one stratum shuffle") {
    val df = Curation.q67TokenBudget(spark, sfDir)
    val p = plan(df)
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"budget selection split into multiple window passes:\n${p.take(2000)}")
    val sh = hashShufflesOf(df)
    assert(sh.size == 1,
      s"expected 1 stratum-key shuffle for the budget window, got ${sh.size}")
    assert(sh.head.outputPartitioning.toString.contains("source#"),
      s"shuffle not on the stratum key: ${sh.head.outputPartitioning}")
  }

  test("q68 percentile gate joins the threshold back via broadcast") {
    val df = Curation.q68PercentileGate(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "threshold join-back not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled to meet the one-row-per-stratum threshold table")
  }

  test("q69 containment reuses the q28 candidate shape: equi-join, no cartesian") {
    val p = plan(TextDedup.q69ContainmentPairs(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "containment went all-pairs")
    assert(p.contains("InMemoryTableScan"),
      "containment not reading the shared cached shingle base")
  }

  test("q70 normalized dedup is one two-phase aggregate; text never shuffles") {
    val df = TextDedup.q70NormalizedDedup(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"no map-side partial aggregation:\n${p.take(2000)}")
    assert(!p.contains("Window "), "normalized dedup grew a window")
    assert(!p.contains("Join"), "normalized dedup grew a join")
    hashShufflesOf(df).foreach { e =>
      assert(!e.child.output.map(_.name).contains("text"),
        s"raw text shuffled: ${e.child.output.map(_.name)}")
    }
  }

  test("q71 balanced sample: one rank window, quota rides a broadcast") {
    val df = Curation.q71BalancedSample(spark, sfDir)
    val p = plan(df)
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"expected exactly one rank window:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "one-row quota table not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled to meet the one-row quota table")
  }

  test("q78 attribution top-1 is group-limited ahead of the window shuffle") {
    val df = TextDedup.q78ContaminationAttribution(spark, sfDir)
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 best-eval pick not planned as WindowGroupLimit:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "train×eval overlap went all-pairs")
  }

  test("q79 calibration: equi-join candidates, partial-aggregated deciles") {
    val df = TextDedup.q79MinhashCalibration(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "candidate join went all-pairs")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"decile aggregate not map-side combined:\n${p.take(2000)}")
  }

  test("q80 calibration: chunk-pair equi-join candidates, partial-aggregated radii") {
    val df = TextDedup.q80SimhashCalibration(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "simhash candidate join went all-pairs")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"radius aggregate not map-side combined:\n${p.take(2000)}")
  }

  test("q82 centroids broadcast into the scan; no corpus-side merge join") {
    val df = Similarity.q82Prototypicality(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join not broadcast:\n${p.take(2000)}")
    assert(p.contains("partial_sum"), "centroid sums not map-side combined")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled into a merge join for the centroid lookup")
  }

  test("q96 PQ ANN: broadcast ADC pass, limited candidate window, no corpus shuffle for scoring") {
    val df = Similarity.q96KnnPq(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // the ADC pass is the q45 broadcast-batch shape over the codes frame
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch not broadcast into the codes scan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the ADC/re-rank joins:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "non-broadcast cartesian in the PQ plan")
    // the top-rerank filter plans as WindowGroupLimit: each task forwards
    // only its local top-rerank per query before the window exchange
    assert(p.contains("WindowGroupLimit"),
      s"candidate pool not group-limited before the exchange:\n${p.take(2000)}")
  }

  test("k-means cells and PQ codes plan one cell_top2 per quantizer and no literal int-dot") {
    import graft.functions.{ArrayIntDot, CellTop2}
    import org.apache.spark.sql.catalyst.expressions.Expression
    val idx = VectorOps.index(Tables.load(spark, sfDir, "embeddings"),
      "vec_id", "embedding")
    def exprs(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case e => e
      }))
    def check(df: org.apache.spark.sql.DataFrame, quantizers: Int): Unit = {
      val es = exprs(df)
      val kernels = es.count(_.isInstanceOf[CellTop2])
      assert(kernels == quantizers,
        s"$kernels cell_top2 calls for $quantizers quantizers:\n" +
          df.queryExecution.optimizedPlan.toString.take(2000))
      assert(!es.exists {
        case d: ArrayIntDot => d.children.exists(_.foldable)
        case _ => false
      }, "centroids or codewords planned as literal int-dot operands")
    }
    // k = 64 centroids: the assignment the plan-literal regime used to
    // write out as 64 literal dots
    val cents = idx.select("efp").orderBy("vec_id").limit(64).collect()
      .map(_.getSeq[Long](0).toArray).toIndexedSeq
    check(VectorOps.assignCells(idx, cents), 1)
    // m = 8 subspaces × ksub = 16 codewords: one kernel per subspace
    check(VectorOps.pqEncodeIndexed(idx, VectorOps.pqBooksSampled(idx, 8, 16)), 8)
  }

  test("q92 span scrub is window-free: partial span agg, hash anti-join, agg rebuild") {
    val df = TextPipeline.q92SpanScrub(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // canonical selection, excision, and order-restoring rebuild must all
    // avoid windows — every stage keeps map-side partial aggregation
    assert(!p.contains("windowspecdefinition"),
      s"scrub grew a window:\n${p.take(2000)}")
    assert(p.contains("partial_count"), "span aggregate not map-side partial")
    // the (doc_id, pos) excision key is unique → a hash anti-join, never
    // a nested loop over the cut set
    assert(p.contains("LeftAnti"), s"no anti-join in the plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "excision join degenerated")
  }

  test("q84 intra-doc dedup is a pure projection: no shuffle, no window, no join") {
    val df = TextPipeline.q84IntraDocDedup(spark, sfDir)
    assert(hashShufflesOf(df).isEmpty,
      "intra-doc dedup hash-shuffled; the HOF form must ride the scan")
    val p = plan(df)
    assert(!p.contains("Window "), "intra-doc dedup grew a window")
    assert(!p.contains("Join"), "intra-doc dedup grew a join")
    assert(!p.contains("Generate"), "intra-doc dedup exploded chunk rows")
  }

  test("q85 token tables aggregate partially map-side; totals ride broadcasts") {
    val df = Curation.q85SourceDivergence(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"(source, token) counts not map-side combined:\n${p.take(2000)}")
    assert(p.contains("Broadcast"),
      "per-source totals / grand total not broadcast")
    assert(!p.contains("Window "), "divergence computed via window (no partial agg)")
  }

  test("q74 source overlap: driver-tail result is a pure local relation") {
    // r12 shape: one codegen'd bit_or-mask aggregate, then the bounded
    // (mask, cnt) rollup expands to C(k,2) pairs ON THE DRIVER — the
    // returned frame must be a local relation with no distributed tail
    // (the r11 collect_set + 4-tiny-shuffle tail paid ~1 s of AQE stage
    // scheduling on droplet frames)
    val df = TextDedup.q74SourceOverlap(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("LocalTableScan"),
      s"q74 driver-tail path not taken (distributed tail in plan):\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pair counting went through a join:\n${p.take(2000)}")
  }

  test("q74 wide fallback keeps the one-wide-shuffle set-aggregate shape") {
    val d = Tables.load(spark, sfDir, "documents")
    val df = TextDedup.sourceOverlapWideOf(d)
    df.collect()
    val p = plan(df)
    // >64-source path: collect_set + per-set pair explosion — never a
    // self-join of the (source, sh) frame
    assert(p.contains("collect_set"),
      s"source sets not collect_set-aggregated:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"pair counting joined the shingle frame to itself:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "pair counting went all-pairs")
    assert(p.contains("BroadcastHashJoin"), "sizes join-back not broadcast")
  }

  test("q93 eval novelty probes via broadcast; no corpus-wide distinct shuffle") {
    val df = TextDedup.q93EvalNovelty(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "eval-side probe not a broadcast join")
    // the only legitimate sh-bearing exchange is count_distinct's
    // (doc_id, sh) expansion — partial-aggregated BEFORE the wire and
    // bounded by the broadcast-join output (eval-sized). An exchange
    // partitioned on sh ALONE would be the corpus-wide distinct this
    // query exists to avoid.
    shShufflesOf(df).foreach { e =>
      assert(e.outputPartitioning.toString.contains("doc_id#"),
        s"corpus-wide sh-only shuffle: ${e.outputPartitioning}")
    }
    assert(!p.contains("CartesianProduct"), "novelty probe went all-pairs")
  }

  test("q72 rare-token df stage is a partial aggregate, never a count-over-window") {
    val df = Curation.q72RareTokens(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("partial_count"),
      s"token df not map-side combined:\n${p.take(2000)}")
    assert(!p.contains("Window "), "df computed via window (no partial agg)")
  }

  test("q99 DSIR: partial-aggregated counts, broadcast model join, no corpus self-join") {
    val df = Curation.q99DsirSelect(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // fit counts and per-doc tf both map-side combine before their shuffle
    assert(p.contains("partial_count"),
      s"token counts not partial-aggregated:\n${p.take(2000)}")
    // the scoring join probes the MODEL (an aggregate), never raw corpus
    // against raw corpus — the q56 contract
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val selfJoins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.left.collectLeaves().toString.contains("documents") &&
            j.right.collectLeaves().toString.contains("documents") &&
            !j.right.toString.contains("HashAggregate") &&
            !j.right.toString.contains("Exchange") => j
    }
    assert(selfJoins.isEmpty, "scoring joined raw corpus to raw corpus")
    assert(!p.contains("CartesianProduct"),
      "totals must ride a broadcast nested loop of ONE row, not a cartesian")
    // the |vocab|-sized model broadcasts into the scoring join at this SF
    assert(p.contains("BroadcastHashJoin"),
      "model join did not broadcast at sf scale")
  }
}
