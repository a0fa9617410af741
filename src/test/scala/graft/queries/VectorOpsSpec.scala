package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generic column-parameterized vector operators must produce EXACTLY
  * what the oracle-checked queries produce on the same data — this is
  * what lets VectorOps inherit the DuckDB-verified semantics. Inputs are
  * fed with RENAMED columns to prove real genericity. */
class VectorOpsSpec extends SparkSpec {

  /** embeddings with renamed columns, as an arbitrary user frame. */
  private def renamed: DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").as("v"),
        col("label").as("tag"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("knnBrute == q32 on renamed columns") {
    val got = VectorOps.knnBrute(renamed.filter(col("vid") =!= 0),
      renamed.filter(col("vid") === 0), "vid", "v", 10, Seq("tag"))
      .withColumnRenamed("tag", "label")
    assert(rows(got) == rows(Similarity.q32KnnBrute(spark, sfDir)))
  }

  test("knnBatch == q45 on renamed columns") {
    val got = VectorOps.knnBatch(renamed.filter(col("vid") >= 5),
      renamed.filter(col("vid") < 5), "vid", "v", 5, Seq("tag"))
      .withColumnRenamed("tag", "label")
    assert(rows(got) == rows(Similarity.q45KnnBatch(spark, sfDir)))
  }

  test("knnLsh == q34 on renamed columns") {
    val got = VectorOps.knnLsh(renamed.filter(col("vid") =!= 0),
      renamed.filter(col("vid") === 0), "vid", "v", 10, carry = Seq("tag"))
      .drop("query_id", "rank").withColumnRenamed("tag", "label")
    assert(rows(got) == rows(Similarity.q34KnnLsh(spark, sfDir)))
  }

  test("knnIvf == q37 on renamed columns") {
    val got = VectorOps.knnIvf(renamed.filter(col("vid") =!= 0),
      renamed.filter(col("vid") === 0), "vid", "v", cell = "tag", k = 10,
      nprobe = 2, carry = Seq("tag"))
      .drop("query_id", "rank").withColumnRenamed("tag", "label")
    assert(rows(got) == rows(Similarity.q37KnnIvf(spark, sfDir)))
  }

  test("knnPq == q96 on renamed columns") {
    val got = VectorOps.knnPq(renamed.filter(col("vid") >= 5),
      renamed.filter(col("vid") < 5), "vid", "v", 5)
    assert(rows(got) == rows(Similarity.q96KnnPq(spark, sfDir)))
  }

  test("annRecall == q81 on renamed columns") {
    val got = VectorOps.annRecall(renamed.filter(col("vid") >= 5),
      renamed.filter(col("vid") < 5), "vid", "v", cell = "tag", k = 5,
      nprobe = 2)
    assert(rows(got) == rows(Similarity.q81AnnRecall(spark, sfDir)))
  }

  test("prototypicality == q82 on renamed columns; prune flags the bottom tenth") {
    val got = VectorOps.prototypicality(renamed, "vid", "v", cell = "tag")
      .withColumnRenamed("tag", "label").orderBy("label", "vec_id")
    val want = Similarity.q82Prototypicality(spark, sfDir)
    assert(rows(got) == rows(want))
    // exactly floor(n_cell/10) members pruned per cell, and they are the
    // lowest-cosine ranks
    want.groupBy("label")
      .agg(sum(col("prune")).as("np"), count(lit(1)).as("n"),
        max(when(col("prune") === 1, col("rnk"))).as("max_pruned_rnk"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("np") == r.getAs[Long]("n") / 10)
        if (r.getAs[Long]("np") > 0)
          assert(r.getAs[Long]("max_pruned_rnk") == r.getAs[Long]("np"))
      }
  }

  test("dimensionStats == q87 on renamed columns; exact moments on a fixture") {
    val got = VectorOps.dimensionStats(renamed, "vid", "v")
    assert(rows(got) == rows(Similarity.q87DimensionStats(spark, sfDir)))
    // hand fixture: vectors (1,-1) and (3,-1) in micro units
    val sp0 = spark
    import sp0.implicits._
    val t = Seq((1L, Seq(1.0f, -1.0f)), (2L, Seq(3.0f, -1.0f)))
      .toDF("id", "vec")
    val out = VectorOps.dimensionStats(t, "id", "vec")
      .collect().map(r => r.getAs[Long]("i") -> r).toMap
    assert(out(0L).getAs[Long]("mean_micro") == 2000000L)
    assert(out(0L).getAs[Long]("var_micro2") == 1000000000000L)
    assert(out(0L).getAs[Long]("min_x") == 1000000L &&
      out(0L).getAs[Long]("max_x") == 3000000L)
    // dead dimension: zero variance, mean = the constant
    assert(out(1L).getAs[Long]("var_micro2") == 0L)
    assert(out(1L).getAs[Long]("mean_micro") == -1000000L)
  }

  test("blockedPairs == q33 on renamed columns") {
    val got = VectorOps.blockedPairs(renamed, "vid", "v", "tag", 20)
      .withColumnRenamed("tag", "label")
    assert(rows(got) == rows(Similarity.q33NearDupPairs(spark, sfDir)))
  }

  test("knnBatch per-query slice == single-query knnBrute (window/limit parity)") {
    val corpus = renamed.filter(col("vid") >= 5)
    val batch = VectorOps.knnBatch(corpus, renamed.filter(col("vid") < 5),
      "vid", "v", 5, Seq("tag"))
    for (qid <- Seq(0L, 3L)) {
      val single = VectorOps.knnBrute(corpus,
        renamed.filter(col("vid") === qid), "vid", "v", 5, Seq("tag"))
      assert(rows(batch.filter(col("query_id") === qid).drop("query_id", "rank")) ==
        rows(single))
    }
  }

  test("autoPlanes sizing: historical shape at test scale, occupancy-tracking above") {
    // corpora up to 64·2^4 = 1024 rows resolve to the historical 16/4 —
    // which is what keeps the default-knob equivalence specs above
    // bit-identical to the planes=16 oracle bindings
    for (n <- Seq(1L, 100L, 500L, 1024L))
      assert(VectorOps.autoPlanes(n) == 16, s"rows=$n")
    // above the knee, bitsPer = ceil(log2(rows/64)): the expected
    // band-bucket occupancy stays ~64 as the corpus grows
    assert(VectorOps.autoPlanes(1025L) == 20)
    assert(VectorOps.autoPlanes(2000L) == 20)   // sf0.1 embeddings
    assert(VectorOps.autoPlanes(20000L) == 36)  // the 10x stress corpus
    assert(VectorOps.autoPlanes(1000000L) == 56)
    // clamped at 16 bits/band; divisible by bands; monotone
    assert(VectorOps.autoPlanes(Long.MaxValue) == 64)
    for (b <- Seq(2, 4, 8); n <- Seq(1L, 5000L, 900000L))
      assert(VectorOps.autoPlanes(n, bands = b) % b == 0)
    val sizes = Seq(1L, 1000L, 10000L, 100000L, 1000000L, 100000000L)
    val plan = sizes.map(VectorOps.autoPlanes(_))
    assert(plan == plan.sorted, s"autoPlanes must be monotone: $plan")
  }

  test("autoShape preserves baseline recall via the S-curve (planes, bands)") {
    // any threshold at test scale resolves to the oracle baseline (16, 4)
    for (c <- Seq(0.35, 0.6, 0.9, 0.99); n <- Seq(1L, 500L, 1024L))
      assert(VectorOps.autoShape(n, c) == (16, 4), s"n=$n c=$c")
    // per-bit collision probability: 1 - acos(c)/pi
    assert(math.abs(VectorOps.pBit(0.9) - 0.8564) < 1e-3)
    assert(math.abs(VectorOps.pBit(0.35) - 0.6139) < 1e-3)
    assert(math.abs(VectorOps.pBit(1.0) - 1.0) < 1e-12)
    // near-dup threshold: occupancy shapes below the deepening scale
    // ((25,5) at 2k, (81,9) at 20k — the measured 10x winners), the
    // cost-model deepened 14/19 at 200k (the measured 100x optimum,
    // BENCH_NOTES r12)
    assert(VectorOps.autoShape(20000L, 0.9) == (81, 9))
    assert(VectorOps.autoShape(200000L, 0.9) == (266, 19))
    assert(VectorOps.autoShape(2000L, 0.9) == (25, 5))
    // low threshold: the S-curve demands more bands than the budget at
    // the occupancy bits, so bitsPer backs off until it fits — recall
    // is held, occupancy (cost) grows instead of recall silently
    // dropping. Below DeepenMinBits the 12-band ShallowMaxBands budget
    // applies (the 20-band ceiling is only A/B-validated when deepened).
    assert(VectorOps.autoShape(20000L, 0.35) == (66, 11))
    // bands never below the baseline 4, planes always bitsPer * bands
    for (c <- Seq(0.35, 0.9); n <- Seq(5000L, 200000L, 5000000L)) {
      val (p, b) = VectorOps.autoShape(n, c)
      assert(b >= 4 && p % b == 0, s"n=$n c=$c -> ($p, $b)")
    }
  }

  test("knnLsh multi-query returns an independent top-k per query") {
    val corpus = renamed.filter(col("vid") >= 5)
    val multi = VectorOps.knnLsh(corpus, renamed.filter(col("vid") < 2),
      "vid", "v", 5, carry = Seq("tag"))
    for (qid <- Seq(0L, 1L)) {
      val single = VectorOps.knnLsh(corpus,
        renamed.filter(col("vid") === qid), "vid", "v", 5, carry = Seq("tag"))
      assert(rows(multi.filter(col("query_id") === qid)) ==
        rows(single.filter(col("query_id") === qid)))
    }
  }

  test("knnIvf multi-query probes cells and ranks per query") {
    val corpus = renamed.filter(col("vid") >= 5)
    val multi = VectorOps.knnIvf(corpus, renamed.filter(col("vid") < 2),
      "vid", "v", cell = "tag", k = 5, nprobe = 2)
    for (qid <- Seq(0L, 1L)) {
      val single = VectorOps.knnIvf(corpus,
        renamed.filter(col("vid") === qid), "vid", "v", cell = "tag",
        k = 5, nprobe = 2)
      assert(rows(multi.filter(col("query_id") === qid)) ==
        rows(single.filter(col("query_id") === qid)))
    }
  }

  test("semanticDedup == q60 on renamed columns") {
    val got = VectorOps.semanticDedup(renamed, "vid", "v", 0.35)
      .orderBy("vec_id")
    assert(rows(got) == rows(Similarity.q60SemanticDedup(spark, sfDir)))
  }

  test("semanticDedup labels are total, min-id, and keep one representative per cluster") {
    val got = VectorOps.semanticDedup(renamed, "vid", "v", 0.35).collect()
    assert(got.length == renamed.count(), "one row per corpus vector")
    val byCluster = got.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("vec_id")).min == cid,
        s"cluster $cid label is not the min member id")
      assert(members.count(_.getAs[Long]("is_kept") == 1L) == 1,
        s"cluster $cid keeps != 1 representative")
      members.foreach(m => assert(m.getAs[Long]("n_members") == members.length))
    }
    // threshold monotonicity: a stricter threshold never merges more
    val strict = VectorOps.semanticDedup(renamed, "vid", "v", 0.9).collect()
    assert(strict.map(_.getAs[Long]("cluster_id")).distinct.length >=
      byCluster.size)
  }

  test("semanticDedupCells with one cell == global semanticDedup (exact)") {
    // a single cell makes the cell key vacuous and the within-cell shape
    // identical to the global autoShape — outputs must be bit-equal
    val cells = VectorOps.semanticDedupCells(renamed, "vid", "v", 0.35,
      nCells = 1).orderBy("vec_id")
    val global = VectorOps.semanticDedup(renamed, "vid", "v", 0.35)
      .orderBy("vec_id")
    assert(rows(cells) == rows(global))
  }

  test("semanticDedupCells output contract + refinement of global clusters") {
    val got = VectorOps.semanticDedupCells(renamed, "vid", "v", 0.35,
      nCells = 4, targetCellRows = 16).collect()
    assert(got.length == renamed.count(), "one row per corpus vector")
    val byCluster = got.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("vec_id")).min == cid)
      assert(members.count(_.getAs[Long]("is_kept") == 1L) == 1)
      members.foreach(m => assert(m.getAs[Long]("n_members") == members.length))
    }
    // every in-cell edge is also a global edge, so the cell-sharded
    // partition must REFINE the global one: a cells-cluster never spans
    // two global clusters (it may split one — the boundary-miss price)
    val globalOf = VectorOps.semanticDedup(renamed, "vid", "v", 0.35)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    byCluster.foreach { case (cid, members) =>
      val g = members.map(m => globalOf(m.getAs[Long]("vec_id"))).distinct
      assert(g.length == 1,
        s"cells-cluster $cid spans global clusters ${g.mkString(",")}")
    }
  }

  test("auto-knob semanticDedup routes to cells only at DeepenMinBits scale") {
    // the routing predicate itself: fixture scale (2k rows) stays global
    assert(VectorOps.autoBitsPer(renamed.count()) < VectorOps.DeepenMinBits)
    // and the boundary where it flips is the measured ~131k-row regime
    // (64-row buckets × 2^11 = 131072 is the last 11-bit corpus)
    assert(VectorOps.autoBitsPer(131073L) >= VectorOps.DeepenMinBits)
    assert(VectorOps.autoBitsPer(131072L) < VectorOps.DeepenMinBits)
  }

  test("semanticIncremental == q63 on renamed columns") {
    val got = VectorOps.semanticIncremental(
      renamed.filter(col("vid") % 7 =!= 3),
      renamed.filter(col("vid") % 7 === 3), "vid", "v", 0.35)
      .orderBy("vec_id")
    assert(rows(got) == rows(Similarity.q63SemanticIncremental(spark, sfDir)))
  }

  test("q60/q63/q63b share ONE cached band-rows artifact (r20, plan identity)") {
    spark.catalog.clearCache()
    val q63 = Similarity.q63SemanticIncremental(spark, sfDir)
    val q63b = Similarity.q63bSemanticIncrementalAuto(spark, sfDir)
    // the full-corpus band frame the trio must share: emb-index × (16, 4)
    graft.functions.GraftFunctions.register(spark)
    val embIdx = VectorOps.index(Tables.load(spark, sfDir, "embeddings"),
      "vec_id", "embedding", carry = Seq("label"))
    val pairsPlan = VectorOps.lshCandidatePairs(embIdx, 16, 4, 64)
    // match on the CACHED plan's schema (the consumer-side output
    // attributes get renamed through alias projections, e.g. id_a/k/v)
    def bandIms(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if im.cacheBuilder.cachedPlan.schema.fieldNames.toSeq ==
            Seq("vec_id", "k", "v") =>
        im.cacheBuilder
    }
    val builders = Seq("q63" -> q63, "q63b" -> q63b,
      "q60's candidate join" -> pairsPlan).map { case (n, df) =>
      val ims = bandIms(df)
      assert(ims.nonEmpty, s"$n does not read a cached band-rows relation")
      n -> ims
    }
    val distinctBuilders = builders.flatMap(_._2).distinct
    assert(distinctBuilders.size == 1,
      s"the trio split the band cache: ${builders.map { case (n, b) =>
        s"$n->${b.size} im(s)" }.mkString(", ")}")
    // and the split entries stay row-identical to the generic two-frame
    // call (filter-after-derive commutes with the row-local derivation)
    val e = Tables.load(spark, sfDir, "embeddings")
    val generic = VectorOps.semanticIncremental(
      e.filter(col("vec_id") % 7 =!= 3), e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", 0.35, planes = 16, bands = 4)
      .orderBy("vec_id")
    assert(rows(q63) == rows(generic))
  }

  test("semanticIncremental verdicts are total and partners clear the threshold") {
    val batch = renamed.filter(col("vid") % 7 === 3)
    val got = VectorOps.semanticIncremental(
      renamed.filter(col("vid") % 7 =!= 3), batch, "vid", "v", 0.35).collect()
    assert(got.length == batch.count(), "one verdict per batch vector")
    got.foreach { r =>
      r.getAs[String]("verdict") match {
        case "near_dup" =>
          assert(!r.isNullAt(r.fieldIndex("partner_id")), s"row $r")
          assert(r.getAs[Double]("cos") >= 0.35, s"row $r")
          assert(r.getAs[Long]("partner_id") % 7 != 3,
            s"partner not from the corpus: $r")
        case "new" =>
          assert(r.isNullAt(r.fieldIndex("partner_id")), s"row $r")
        case other => fail(s"unknown verdict $other")
      }
    }
    // both verdicts occur at this τ — the split actually exercises the path
    val vs = got.map(_.getAs[String]("verdict")).toSet
    assert(vs == Set("near_dup", "new"), s"degenerate verdict set $vs")
  }

  test("semanticIncrementalCells with one cell == global semanticIncremental") {
    // a single cell makes the cell key vacuous and the within-cell shape
    // identical to the global autoShape — outputs must be bit-equal
    val corpus = renamed.filter(col("vid") % 7 =!= 3)
    val batch = renamed.filter(col("vid") % 7 === 3)
    val cells = VectorOps.semanticIncrementalCells(corpus, batch,
      "vid", "v", 0.35, nCells = 1).orderBy("vec_id")
    val global = VectorOps.semanticIncremental(corpus, batch,
      "vid", "v", 0.35).orderBy("vec_id")
    assert(rows(cells) == rows(global))
  }

  test("semanticIncrementalCells finds identical corpus twins across many cells") {
    // batch = re-id'd EXACT copies of corpus vectors: the batch is
    // assigned with the corpus's own centroids, so an identical vector
    // always lands in its twin's cell (equal scores => same argmax) and
    // the within-cell probe must find it at cos 1.0 — cell count and
    // training sample cap must not change that
    val corpus = renamed.filter(col("vid") < 1500)
    val batch = corpus.filter(col("vid") % 11 === 0)
      .select((col("vid") + 100000L).as("vid"), col("v"), col("tag"))
    val got = VectorOps.semanticIncrementalCells(corpus, batch,
      "vid", "v", 0.999, nCells = 8, targetCellRows = 16,
      trainSampleCap = 128L).collect()
    assert(got.length == batch.count(), "one verdict per batch vector")
    got.foreach { r =>
      assert(r.getAs[String]("verdict") == "near_dup", s"missed twin: $r")
      assert(r.getAs[Double]("cos") >= 0.999999, s"row $r")
      assert(r.getAs[Long]("partner_id") == r.getAs[Long]("vec_id") - 100000L,
        s"wrong twin (not the identical vector): $r")
    }
  }

  test("semanticIncrementalCells verdict contract on the %7 split") {
    val corpus = renamed.filter(col("vid") % 7 =!= 3)
    val batch = renamed.filter(col("vid") % 7 === 3)
    val got = VectorOps.semanticIncrementalCells(corpus, batch,
      "vid", "v", 0.35, nCells = 4, targetCellRows = 16).collect()
    assert(got.length == batch.count())
    got.foreach { r =>
      r.getAs[String]("verdict") match {
        case "near_dup" =>
          assert(r.getAs[Double]("cos") >= 0.35, s"row $r")
          assert(r.getAs[Long]("partner_id") % 7 != 3,
            s"partner not from the corpus: $r")
        case "new" =>
          assert(r.isNullAt(r.fieldIndex("partner_id")), s"row $r")
        case other => fail(s"unknown verdict $other")
      }
    }
    // the cell partition can only LOSE candidates vs global — every
    // cells near_dup must also be a global near_dup with cos <= global's
    val globalBest = VectorOps.semanticIncremental(corpus, batch,
      "vid", "v", 0.35).collect()
      .filter(_.getAs[String]("verdict") == "near_dup")
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    got.filter(_.getAs[String]("verdict") == "near_dup").foreach { r =>
      val g = globalBest.get(r.getAs[Long]("vec_id"))
      assert(g.isDefined, s"cells found a dup global missed: $r")
      assert(r.getAs[Double]("cos") <= g.get + 1e-9, s"row $r vs global $g")
    }
  }

  test("semanticKeepBest picks the max-quality member per cluster, min-id on ties") {
    val clusters = VectorOps.semanticDedup(renamed, "vid", "v", 0.35).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    // quality = vec_id % 17 — varies within clusters, with possible ties
    val got = VectorOps.semanticKeepBest(renamed, "vid", "v",
      col("vid") % 17, 0.35).collect()
    assert(got.length == clusters.size, "one keeper per cluster")
    got.foreach { r =>
      val members = clusters(r.getAs[Long]("cluster_id"))
        .map(_.getAs[Long]("vec_id"))
      val bestQ = members.map(_ % 17).max
      val want = members.filter(_ % 17 == bestQ).min
      assert(r.getAs[Long]("keeper_id") == want, s"row $r; members $members")
      assert(r.getAs[Long]("best_quality") == bestQ, s"row $r")
      assert(r.getAs[Long]("n_members") == members.length, s"row $r")
    }
  }

  test("kmeansCells is deterministic, total, and assigns each vector to its best centroid") {
    val idx = VectorOps.index(renamed, "vid", "v")
    val a = VectorOps.kmeansCells(idx, 8, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val b = VectorOps.kmeansCells(idx, 8, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(a == b, "two identical builds diverged")
    assert(a.length == renamed.count(), "assignment not total")
    assert(a.map(_._2).toSet.subsetOf((0 until 8).toSet))
    // more than one cell actually used (the quantizer partitions the space)
    assert(a.map(_._2).distinct.length > 1)
  }

  test("kmeansCells sampled training: total, deterministic, exact below the cap") {
    val idx = VectorOps.index(renamed, "vid", "v")
    // cap above the corpus size: the sample is the corpus — bit-equal to
    // the full-training build
    val full = VectorOps.kmeansCells(idx, 8, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val capped = VectorOps.kmeansCells(idx, 8, iters = 3,
      trainSampleCap = 1000000L).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(capped == full, "cap above corpus size must not change training")
    // cap far below: training runs on the hash-mod sample, but the FINAL
    // assignment is still total over the corpus and deterministic
    val a = VectorOps.kmeansCells(idx, 4, iters = 2, trainSampleCap = 128L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val b = VectorOps.kmeansCells(idx, 4, iters = 2, trainSampleCap = 128L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(a == b, "sampled builds diverged")
    assert(a.length == renamed.count(), "sampled assignment not total")
    assert(a.map(_._2).distinct.length > 1)
  }

  test("kmeansCells equals driver-side Lloyd iterations plus argmax, as one cell_top2 projection") {
    val idx = VectorOps.index(renamed, "vid", "v")
    val (k, iters) = (8, 3)
    val data = idx.select("vec_id", "efp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    // the same rules in plain Scala: md5-ordered seeds, argmax of
    // dot/|centroid| with ties to the lowest cell, re-quantized means,
    // empty cells keep their centroid
    def md5(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def assign(cents: IndexedSeq[Array[Long]], v: Array[Long]): Int = {
      val s = cents.map { c =>
        val cn = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
        if (cn == 0.0) Double.MinValue
        else v.zip(c).map { case (a, b) => a * b }.sum.toDouble / cn
      }
      s.indexOf(s.max)
    }
    var cents: IndexedSeq[Array[Long]] = data
      .sortBy { case (id, _) => (md5(id), id) }.take(k).map(_._2).toIndexedSeq
    for (_ <- 0 until iters) {
      val byCell = data.groupBy { case (_, v) => assign(cents, v) }
      cents = cents.indices.map { c =>
        byCell.get(c).fold(cents(c)) { members =>
          members.map(_._2).transpose
            .map(xs => math.round(xs.sum.toDouble / members.length)).toArray
        }
      }
    }
    val want = data.map { case (id, v) => (id, assign(cents, v)) }.toSeq
    assert(VectorOps.kmeansCentroids(idx, k, iters).map(_.toSeq) ==
      cents.map(_.toSeq), "centroids diverged from the driver-side Lloyd")

    val cells = VectorOps.kmeansCells(idx, k, iters)
    // shape check: the assignment is a PURE PROJECTION (the CellTop2
    // reference-object argmax) — no join fan-out and, above all, no
    // SortAggregate (the pre-r15 max-of-struct formulation's
    // disk-filling failure mode at the 1000× decade)
    val plan = cells.queryExecution.executedPlan.toString
    assert(plan.contains("cell_top2"),
      "kmeans assignment did not plan the CellTop2 projection")
    assert(!plan.contains("SortAggregate") && !plan.contains("Join"),
      s"kmeans assignment must not aggregate or join:\n$plan")
    val got = cells.collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(got == want, "kmeansCells diverged from the driver-side argmax")
  }

  test("knnIvfAuto serves IVF over a frame with no cell column, with real recall") {
    val corpus = renamed.filter(col("vid") =!= 0)
    val query = renamed.filter(col("vid") === 0)
    val got = VectorOps.knnIvfAuto(corpus, query, "vid", "v",
      k = 10, nCells = 8, nprobe = 3)
    val ids = got.collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ids.length == 10)
    assert(ids.distinct.length == 10)
    // the probed-cells result must overlap the exact brute-force top-10
    // substantially (nprobe=3 of 8 cells; exactness is q37's oracle story,
    // recall is the quantizer's)
    val exact = VectorOps.knnBrute(corpus, query, "vid", "v", 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(ids.count(exact) >= 5, s"recall too low: ${ids.count(exact)}/10")
  }

  test("referential audit flags bad dims, dup vectors, null embeddings, orphans") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("doc_id", "source")
    val vecs = Seq(
      (1L, Some(Seq(1f, 2f))), // well-formed
      (2L, Some(Seq(1f))),     // truncated copy
      (2L, Some(Seq(1f, 2f))), // doubled ingest (one copy also good)
      (3L, None),              // NULL payload == missing
      (9L, Some(Seq(1f, 2f)))  // orphan (no doc)
    ).toDF("vec_id", "embedding")
    val got = VectorOps.referentialAudit(docs, vecs,
      "doc_id", "source", "vec_id", "embedding", dims = 2)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(got("s1") == Seq(2L, 2L, 0L, 1L, 1L, 0L),
      s"s1 audit wrong: ${got("s1")}")
    assert(got("s2") == Seq(1L, 0L, 1L, 0L, 0L, 0L),
      s"s2 audit wrong: ${got("s2")}")
    assert(got("__unmatched__") == Seq(0L, 0L, 0L, 0L, 0L, 1L),
      s"orphan row wrong: ${got("__unmatched__")}")
  }

  test("diverseSample == q100 on renamed columns") {
    val got = VectorOps.diverseSample(renamed, "vid", "v", "tag", 1, 4)
      .withColumnRenamed("tag", "label")
      .orderBy("label", "vec_id")
    assert(rows(got) == rows(Similarity.q100DiverseSample(spark, sfDir)))
  }

  test("diverseSample keeps exactly the quota per cell, lowest-cos first, >= 1 always") {
    val sel = VectorOps.diverseSample(renamed, "vid", "v", "tag", 1, 4)
    val proto = VectorOps.prototypicality(renamed, "vid", "v", "tag")
    // per cell: kept count == greatest(1, n_cell div 4), and the kept set
    // is the rank-prefix (max kept rnk == count) — the least prototypical
    val perCell = sel.groupBy("tag")
      .agg(count(lit(1)).as("kept"), max(col("rnk")).as("maxr"),
        min(col("quota")).as("q"), min(col("n_cell")).as("nc"))
      .collect()
    assert(perCell.nonEmpty)
    perCell.foreach { r =>
      val want = math.max(1L, r.getAs[Long]("nc") / 4L)
      assert(r.getAs[Long]("kept") == want, s"cell ${r.get(0)}: quota off")
      assert(r.getAs[Long]("maxr") == want, s"cell ${r.get(0)}: not rank-prefix")
      assert(r.getAs[Long]("q") == want)
    }
    // every cell of the corpus stays represented
    assert(sel.select("tag").distinct().count() ==
      proto.select("tag").distinct().count())
    // a singleton cell keeps its only member even though n/4 rounds to 0
    val sp = spark
    import sp.implicits._
    val one = Seq((1L, Array(1.0f, 0.0f), "solo"),
      (2L, Array(0.9f, 0.1f), "duo"), (3L, Array(0.0f, 1.0f), "duo"),
      (4L, Array(0.5f, 0.5f), "duo")).toDF("vid", "v", "tag")
    val kept = VectorOps.diverseSample(one, "vid", "v", "tag", 1, 4)
      .collect().map(r => r.getAs[String]("tag") -> r.getAs[Long]("vec_id"))
    assert(kept.count(_._1 == "solo") == 1)
    assert(kept.count(_._1 == "duo") == 1)
  }

  test("diverseSampleAuto learns cells, covers all of them, and is deterministic") {
    val sel = VectorOps.diverseSampleAuto(renamed, "vid", "v",
      num = 1, den = 4, nCells = 8)
    val again = VectorOps.diverseSampleAuto(renamed, "vid", "v",
      num = 1, den = 4, nCells = 8)
    assert(rows(sel.orderBy("cell", "vec_id")) ==
      rows(again.orderBy("cell", "vec_id")), "auto path not deterministic")
    val perCell = sel.groupBy("cell")
      .agg(count(lit(1)).as("kept"), min(col("n_cell")).as("nc")).collect()
    assert(perCell.nonEmpty && perCell.length <= 8)
    perCell.foreach { r =>
      assert(r.getAs[Long]("kept") == math.max(1L, r.getAs[Long]("nc") / 4L))
    }
    // learned cells partition the corpus: kept counts sum to the quota sum
    val total = sel.count()
    assert(total >= 1L && total <= renamed.count() / 4 + 8)
  }
}
