package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** Registration + Column-level helpers for graft's custom Catalyst
  * expressions. Installed into the session's FunctionRegistry so they are
  * callable from both the DataFrame API (via [[intDot]]) and plain SQL.
  * [[functions]] is the one table: [[GraftExtensions]] injects it at
  * session build time ([[graft.engine.GraftSession]] sessions), and
  * [[register]] installs it into a session built elsewhere. */
object GraftFunctions {

  val IntDotName = "graft_int_dot"
  val BloomAggName = "graft_bloom_agg"
  val BloomContainsName = "graft_bloom_contains"
  val CellTop2Name = "graft_cell_top2"

  /** Every graft function: (name, expression class, builder). The bloom
    * pair is Spark's OWN bloom-filter expressions (the machinery behind
    * runtime row-level filtering), surfaced for explicit use:
    * bits-bounded set sketches that replace broadcast hash SETS with
    * broadcast FILTERS (no false negatives; caller-tuned false-positive
    * rate). */
  private[functions] val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (IntDotName, classOf[ArrayIntDot],
      exprs => ArrayIntDot(exprs.head, exprs(1))),
    (BloomAggName, classOf[BloomFilterAggregate],
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0)),
    (BloomContainsName, classOf[BloomFilterMightContain],
      exprs => BloomFilterMightContain(exprs(0), exprs(1))),
    (CellTop2Name, classOf[CellTop2], CellTop2.fromExprs(CellTop2Name, _)))

  /** Install the functions `spark`'s registry lacks; never replaces one,
    * so it is a lookup per name on a session that already has them. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.synchronized {
      functions.foreach { case (name, cls, build) =>
        val id = FunctionIdentifier(name)
        if (!registry.functionExists(id))
          registry.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
      }
    }
  }

  /** Exact Σ a(i)*b(i) over two array<long> columns (codegen'd). */
  def intDot(a: Column, b: Column): Column = call_function(IntDotName, a, b)

  /** Aggregate a LONG column into a serialized Bloom filter (binary). */
  def bloomAgg(h: Column, estItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.functions.lit
    call_function(BloomAggName, h, lit(estItems), lit(numBits))
  }

  /** Membership probe of a LONG value against a (foldable, usually
    * literal) serialized Bloom filter. */
  def bloomContains(filter: Column, h: Column): Column =
    call_function(BloomContainsName, filter, h)

  /** Top-2 nearest-centroid assignment of an `array<long>` fixed-point
    * vector column against a fixed centroid set, as one codegen'd
    * projection — `struct<c1, s1, c2, s2>` ([[CellTop2]]), scored by
    * `dot / ‖cent‖` (bias 0): the k-means cell rule. The norms are
    * computed here on the driver. Needs the functions installed ([[register]]
    * on a session built outside [[graft.engine.GraftSession]]). */
  def cellTop2(efp: Column, cents: IndexedSeq[Array[Long]]): Column =
    cellTop2(efp, cents,
      cents.map(c => math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)),
      cents.map(_ => 0L))

  /** [[CellTop2]] with caller-chosen per-centroid norms and biases,
    * `s_c = (dot_c − bias_c) / norm_c` — the PQ encoder passes doubled
    * codewords, `bias = ‖codeword‖²` and norm 1. The matrix, norms and
    * biases ride through the registry as foldable literals and are folded
    * into the expression at analysis time. */
  def cellTop2(efp: Column, cents: IndexedSeq[Array[Long]],
      norms: Seq[Double], bias: Seq[Long]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(CellTop2Name, efp, typedLit(cents.map(_.toSeq)),
      typedLit(norms), typedLit(bias))
  }
}
