package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Top-2 nearest-centroid assignment of one `array<long>` fixed-point
  * vector against a FIXED centroid matrix, as a single codegen'd
  * projection: returns `struct<c1 int, s1 double, c2 int, s2 double>` —
  * the best and second-best centroid with their scores
  * `s_c = (Σ v(i)·cent_c(i) − bias_c).toDouble / norm_c`.
  *
  * This is the ONE nearest-centroid kernel of the library; both
  * quantizers of [[graft.queries.VectorOps]] call it:
  *   - k-means cells pass `bias = 0` and `norm = ‖cent‖`: the cosine
  *     numerator scoring (`‖v‖` is a common positive factor, so the
  *     argmax is the cosine argmax);
  *   - PQ codes pass `cent = 2·codeword`, `bias = ‖codeword‖²` and
  *     `norm = 1`: the argmax of `2·v·c − c·c` is the argmin of the
  *     squared distance `‖v − c‖²` (the common `v·v` dropped). The long
  *     is exact in a double while |value| < 2^53 (≈1.6e13 at 8 dims).
  *
  * Why a custom Catalyst Expression (SURVEY.md §7.4): the argmax used to
  * run either as k×dims plan literals (plans and janino methods growing
  * with k: 16.3 s against 0.28 s for this kernel at 50k×64, k = 64, on
  * 4 vCPUs) or as a k-way broadcast fan-out whose
  * `max(struct(score, -cell))` planned a SORT aggregate (struct buffers
  * are HashAggregate-ineligible) — at the r15 1000×-decade index build
  * (2M vectors × ~4000 cells) an 8-billion-row sort whose spill filled
  * the disk. This expression
  * evaluates the argmax as a primitive loop inside WholeStageCodegen —
  * zero fan-out, zero shuffle, zero sort; O(rows × k × dims)
  * multiply-adds, the floor.
  *
  * Arithmetic: exact long dot ([[ArrayIntDot]] arithmetic) over the
  * common prefix length, minus the bias, divided by the norm the caller
  * computed ON THE DRIVER; zero-norm centroids score `Double.MinValue`,
  * and ties resolve to the LOWEST centroid id at each rank (ascending
  * scan keeps the first occurrence). With one centroid, `c2 = -1` and
  * `s2 = -∞`.
  *
  * The centroid matrix, norms and biases ride as constructor data
  * (reference objects in generated code, NOT plan literals) — plans stay
  * small at any k and the matrix is shared per-JVM, the executor-side
  * analogue of a broadcast.
  *
  * Input contract: array ELEMENTS must be non-null. The type check
  * accepts `array<bigint>` regardless of its containsNull flag (every
  * producer in this library derives efp via `transform(round(...))`
  * over non-null floats, which Spark often still types containsNull =
  * true), and the eval/codegen loops read each slot with `getLong` —
  * a null element would contribute an UNDEFINED term (typically 0) to
  * the score rather than fail. The hot loop deliberately does not pay
  * a per-element null branch; feed it null-bearing arrays and cell
  * assignment is silently wrong. ([[ArrayIntDot]] shares this
  * contract.)
  */
object CellTop2 {
  /** The registry/extension builder (shared so the temp-function and
    * SparkSessionExtensions registrations can never drift):
    * `(efp, cents, norms, bias)`, where the centroid matrix, norms and
    * biases arrive as FOLDABLE literals and are consumed HERE, at
    * expression-build time — they become constructor data (codegen
    * reference objects), never plan literals. */
  def fromExprs(name: String, exprs: Seq[Expression]): CellTop2 = {
    require(exprs.length == 4 && exprs.tail.forall(_.foldable),
      s"$name(efp, cents, norms, bias) needs literal cents/norms/bias")
    def arr(e: Expression) = e.eval().asInstanceOf[ArrayData]
    val m = arr(exprs(1))
    val cents = (0 until m.numElements()).map(c =>
      m.getArray(c).toLongArray().toSeq)
    CellTop2(exprs.head, cents, arr(exprs(2)).toDoubleArray().toSeq,
      arr(exprs(3)).toLongArray().toSeq)
  }
}

case class CellTop2(child: Expression, cents: Seq[Seq[Long]],
    cns: Seq[Double], bias: Seq[Long]) extends UnaryExpression {

  require(cents.nonEmpty, "cellTop2 needs at least one centroid")
  require(cents.forall(_.length == cents.head.length),
    "cellTop2 centroids must share one dimensionality")
  require(cns.length == cents.length && bias.length == cents.length,
    "cellTop2 needs one precomputed norm and one bias per centroid")

  private val k = cents.length
  private val dims = cents.head.length

  // flattened row-major copy for the eval loops; @transient so the
  // expression serializes the (structurally comparable) Seqs only
  @transient private lazy val flat: Array[Long] = {
    val a = new Array[Long](k * dims)
    var c = 0
    while (c < k) {
      val row = cents(c)
      var i = 0
      while (i < dims) { a(c * dims + i) = row(i); i += 1 }
      c += 1
    }
    a
  }
  @transient private lazy val norms: Array[Double] = cns.toArray
  @transient private lazy val biases: Array[Long] = bias.toArray

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${t.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("c1", IntegerType, nullable = false),
    StructField("s1", DoubleType, nullable = false),
    StructField("c2", IntegerType, nullable = false),
    StructField("s2", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dims)
    var s1 = Double.NegativeInfinity; var c1 = -1
    var s2 = Double.NegativeInfinity; var c2 = -1
    var c = 0
    while (c < k) {
      val cn = norms(c)
      val s =
        if (cn == 0.0) Double.MinValue
        else {
          var acc = 0L
          var i = 0
          val off = c * dims
          while (i < n) { acc += v.getLong(i) * flat(off + i); i += 1 }
          (acc - biases(c)).toDouble / cn
        }
      if (s > s1) { s2 = s1; c2 = c1; s1 = s; c1 = c }
      else if (s > s2) { s2 = s; c2 = c }
      c += 1
    }
    InternalRow(c1, s1, c2, s2)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val f = ctx.addReferenceObj("cellTop2Cents", flat, "long[]")
      val nm = ctx.addReferenceObj("cellTop2Norms", norms, "double[]")
      val b = ctx.addReferenceObj("cellTop2Bias", biases, "long[]")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val off = ctx.freshName("off")
      val acc = ctx.freshName("acc"); val s = ctx.freshName("s")
      val cn = ctx.freshName("cn")
      val s1 = ctx.freshName("s1"); val c1 = ctx.freshName("c1")
      val s2 = ctx.freshName("s2"); val c2 = ctx.freshName("c2")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dims);
         |double $s1 = java.lang.Double.NEGATIVE_INFINITY; int $c1 = -1;
         |double $s2 = java.lang.Double.NEGATIVE_INFINITY; int $c2 = -1;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $cn = $nm[$c];
         |  double $s;
         |  if ($cn == 0.0) {
         |    $s = -java.lang.Double.MAX_VALUE;
         |  } else {
         |    long $acc = 0L;
         |    int $off = $c * $dims;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $v.getLong($i) * $f[$off + $i];
         |    }
         |    $s = (double) ($acc - $b[$c]) / $cn;
         |  }
         |  if ($s > $s1) { $s2 = $s1; $c2 = $c1; $s1 = $s; $c1 = $c; }
         |  else if ($s > $s2) { $s2 = $s; $c2 = $c; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |    .GenericInternalRow(new Object[]{$c1, $s1, $c2, $s2});
       """.stripMargin
    })

  // keep explain/treeString output bounded: the default argString would
  // render the whole k×dims matrix
  override def argString(maxFields: Int): String = s"k=$k, dims=$dims"

  override protected def withNewChildInternal(newChild: Expression): CellTop2 =
    copy(child = newChild)

  override def prettyName: String = "cell_top2"
}
