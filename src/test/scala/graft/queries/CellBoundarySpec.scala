package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Boundary-recall hardening for cell-sharded semantic dedup (r13 verdict
  * item 2): the r13 recall=1.0 measurement used identical-vector dups,
  * which k-means necessarily co-assigns; this spec plants ADVERSARIAL
  * near-dup pairs at cos ∈ [τ, τ+0.02] that STRADDLE the bisector between
  * the two cluster masses — one member leaning each way — so single-probe
  * assignment quantizes them into different cells and the candidate join
  * can never see them. The measured contract:
  *
  *   - probes=1 misses every split pair (the documented SemDeDup price);
  *   - probes=2 ([[VectorOps.assignCellsMulti]] top-2 soft assignment)
  *     recovers them at the within-cell LSH recall (~0.97 at this shape),
  *     because both members' second-nearest cell is the other's first.
  *
  * Geometry (all deterministic driver-side trig, no RNG): clusters of 300
  * vectors at e0 / e1 (+0.1 jitter in dims 34..63, mutually cos≈0.99 —
  * intra-cluster dups, irrelevant here); pair i = (u_i, v_i) in the
  * (e0, e1) plane at 45°∓δ/2 with a shared ε=0.5 spike in dim 4+i:
  * cos(u_i, v_i) = (cos δ + ε²)/(1+ε²) = 0.93 exactly (τ = 0.92), while
  * cross-pair and pair-to-cluster cosines stay ≤ 0.8 — each planted pair
  * is its own 2-member ground-truth cluster. */
class CellBoundarySpec extends SparkSpec {

  private val Dims = 64
  private val Tau = 0.92
  private val NPairs = 20
  private val Eps = 0.5
  // (cos δ + ε²)/(1+ε²) = 0.93  ⇒  cos δ = 0.93·1.25 − 0.25
  private val Delta = math.acos(0.93 * (1 + Eps * Eps) - Eps * Eps)

  private def vecOf(vals: (Int, Double)*): Seq[Float] = {
    val a = new Array[Float](Dims)
    vals.foreach { case (i, x) => a(i) = x.toFloat }
    a.toSeq
  }

  private lazy val fixture = {
    val clusterA = (0 until 300).map(j =>
      (j.toLong, vecOf(0 -> 1.0, 34 + j % 30 -> 0.1)))
    val clusterB = (300 until 600).map(j =>
      (j.toLong, vecOf(1 -> 1.0, 34 + j % 30 -> 0.1)))
    val tu = math.Pi / 4 - Delta / 2
    val tv = math.Pi / 4 + Delta / 2
    val pairs = (0 until NPairs).flatMap { i =>
      Seq(
        (1000L + 2 * i,
          vecOf(0 -> math.cos(tu), 1 -> math.sin(tu), 4 + i -> Eps)),
        (1001L + 2 * i,
          vecOf(0 -> math.cos(tv), 1 -> math.sin(tv), 4 + i -> Eps)))
    }
    val spark0 = spark
    import spark0.implicits._
    (clusterA ++ clusterB ++ pairs).toDF("vec_id", "embedding")
  }

  private def pairIds = (0 until NPairs).map(i => (1000L + 2 * i, 1001L + 2 * i))

  /** Pairs co-clustered in a dedup output (same cluster_id). */
  private def caughtPairs(out: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val cl = out.select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairIds.filter { case (a, b) => cl(a) == cl(b) }.toSet
  }

  test("planted cos∈[τ,τ+0.02] pairs straddle cells; probes=2 recovers what probes=1 must miss") {
    // ground truth: every planted pair clears τ inside the adversarial
    // band, under the operator's own quantized-integer arithmetic
    val byId = fixture.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def qcos(a: Array[Float], b: Array[Float]): Double = {
      def q(x: Float) = math.round(x.toDouble * 1e6)
      val dot = a.indices.map(i => q(a(i)) * q(b(i))).sum.toDouble
      dot / (math.sqrt(a.map(x => q(x) * q(x)).sum.toDouble) *
        math.sqrt(b.map(x => q(x) * q(x)).sum.toDouble))
    }
    pairIds.foreach { case (ua, vb) =>
      val c = qcos(byId(ua), byId(vb))
      assert(c >= Tau && c <= Tau + 0.02,
        f"pair ($ua,$vb) cos=$c%.6f outside the adversarial [τ, τ+0.02] band")
    }

    // how many planted pairs actually straddle the 2-means cell boundary
    // under single-probe assignment (the fixture's whole point)
    val idx = VectorOps.index(fixture, "vec_id", "embedding")
    val cents = VectorOps.kmeansCentroids(idx, k = 2, iters = 2)
    val cellOf = VectorOps.assignCells(idx, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val split = pairIds.filter { case (a, b) => cellOf(a) != cellOf(b) }.toSet
    info(s"split pairs under single-probe assignment: ${split.size}/$NPairs")
    assert(split.size == NPairs,
      s"fixture degenerated: expected every planted pair to straddle the " +
        s"cell boundary, got ${split.size}/$NPairs")

    val out1 = VectorOps.semanticDedupCells(fixture, "vec_id", "embedding",
      minCos = Tau, nCells = 2, kmeansIters = 2, probes = 1)
    val caught1 = caughtPairs(out1)
    info(s"probes=1 caught: ${caught1.size}/$NPairs")
    assert(caught1.intersect(split).isEmpty,
      "a split pair can never be a candidate under single-probe cells")

    val out2 = VectorOps.semanticDedupCells(fixture, "vec_id", "embedding",
      minCos = Tau, nCells = 2, kmeansIters = 2, probes = 2)
    val caught2 = caughtPairs(out2)
    info(s"probes=2 caught: ${caught2.size}/$NPairs")
    assert(caught1.subsetOf(caught2),
      "widening the probe must never lose a previously-caught pair")
    // within-cell LSH recall at this shape (16 planes / 4 bands) is
    // ~0.975 per pair at cos=0.93 — demand ≥ 0.9 measured
    assert(caught2.size * 10 >= NPairs * 9,
      s"probes=2 recovered only ${caught2.size}/$NPairs boundary pairs")
  }

  test("margin-gated probes=2 keeps boundary recall while sparing cluster-core vectors") {
    val idx = VectorOps.index(fixture, "vec_id", "embedding")
    val cents = VectorOps.kmeansCentroids(idx, k = 2, iters = 2)
    // planted pair members sit ~22° off the bisector: their cos gap to
    // the second centroid is ≈ cos(33°) − cos(57°) ≈ 0.28 < 0.3, while
    // cluster-core vectors read ≈ cos(0°) − cos(90°) ≈ 1 — the 0.3 gate
    // separates them cleanly
    val gated = VectorOps.assignCellsMulti(idx, cents, probes = 2,
      maxMargin = 0.3)
    val perVec = gated.groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairMembers = pairIds.flatMap(p => Seq(p._1, p._2)).toSet
    assert(pairMembers.forall(perVec(_) == 2L),
      "a planted boundary member lost its second probe under the margin gate")
    val coreDoubled = perVec.count { case (vid, n) => !pairMembers(vid) && n == 2L }
    info(s"cluster-core vectors double-assigned under margin 0.3: $coreDoubled/600")
    assert(coreDoubled == 0,
      s"$coreDoubled cluster-core vectors paid the second probe despite the gate")

    // end to end: the gated dedup still recovers every planted pair
    val out = VectorOps.semanticDedupCells(fixture, "vec_id", "embedding",
      minCos = Tau, nCells = 2, kmeansIters = 2, probes = 2,
      probeMargin = 0.3)
    assert(caughtPairs(out).size == NPairs,
      "margin-gated probes=2 lost boundary pairs the unconditional path catches")
  }

  test("probes=2 assignment, ungated and margin-gated, equals a driver-side top-2 reference") {
    val idx = VectorOps.index(fixture, "vec_id", "embedding")
    val cents = VectorOps.kmeansCentroids(idx, k = 2, iters = 2)
    def assigned(maxMargin: Double): Seq[(Long, Int)] =
      VectorOps.assignCellsMulti(idx, cents, probes = 2, maxMargin = maxMargin)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val multi = assigned(2.0)
    val byVec = multi.groupBy(_._1)
    assert(byVec.forall(_._2.length == 2), "two rows per vector")
    assert(byVec.forall { case (_, rs) => rs.map(_._2).distinct.length == 2 },
      "the two probed cells must be distinct")
    // the same rule in plain Scala over the collected index: score
    // dot/|cent| (ties to the lowest cell at each rank), the second cell
    // emitted when s1 − s2 ≤ maxMargin·|v|
    val vecs = idx.select("vec_id", "efp", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    def reference(maxMargin: Double): Seq[(Long, Int)] = vecs.flatMap {
      case (id, v, nrm) =>
        val s = cents.map { c =>
          v.zip(c).map { case (a, b) => a * b }.sum.toDouble /
            math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
        }
        val Seq(c1, c2) = s.indices.sortBy(c => (-s(c), c)).take(2)
        if (s(c1) - s(c2) <= maxMargin * math.sqrt(nrm.toDouble))
          Seq(id -> c1, id -> c2)
        else Seq(id -> c1)
    }.sorted.toSeq
    assert(multi == reference(2.0), "ungated top-2 diverged from the reference")
    val gated = assigned(0.3)
    assert(gated == reference(0.3),
      "margin-gated top-2 diverged from the reference")
    assert(gated.length > vecs.length && gated.length < multi.length,
      s"the 0.3 gate should double some vectors, not all: ${gated.length}")
  }
}
