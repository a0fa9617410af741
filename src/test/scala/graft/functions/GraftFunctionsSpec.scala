package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.functions._

class GraftFunctionsSpec extends SparkSpec {

  test("ArrayIntDot: eval, codegen, SQL call, and null handling agree") {
    GraftFunctions.register(spark)
    val df = spark.createDataFrame(Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(10L, -2L), Seq(3L, 7L)))).toDF("a", "b")
    val viaColumn = df.select(GraftFunctions.intDot(col("a"), col("b")).as("d"))
      .collect().map(_.getLong(0))
    assert(viaColumn.sameElements(Array(32L, 16L)))
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql(s"SELECT ${GraftFunctions.IntDotName}(a, b) FROM vecs")
      .collect().map(_.getLong(0))
    assert(viaSql.sameElements(Array(32L, 16L)))
    // nulls propagate
    val n = spark.sql(s"SELECT ${GraftFunctions.IntDotName}(NULL, array(1L))")
      .collect()(0)
    assert(n.isNullAt(0))
    // mismatched lengths use the common prefix
    val p = spark.sql(s"SELECT ${GraftFunctions.IntDotName}(array(2L,3L,4L), array(5L))")
      .collect()(0).getLong(0)
    assert(p == 10L)
  }

  test("GraftExtensions installs the function at session build time") {
    // a fresh extensions object, not a session: the shared test session
    // may already hold every function, whatever the extension injects
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val registry = new SimpleFunctionRegistry
    // registerFunctions is Spark-internal (private[sql]); it is the call
    // a session build makes to install the injected functions
    classOf[SparkSessionExtensions]
      .getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, registry)
    val injected = registry.listFunction().map(_.funcName).toSet
    assert(injected == Set(GraftFunctions.IntDotName, GraftFunctions.BloomAggName,
      GraftFunctions.BloomContainsName, GraftFunctions.CellTop2Name))
  }

  test("type checking rejects non-long arrays") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql(s"SELECT ${GraftFunctions.IntDotName}(array('x'), array('y'))").collect()
    }
    assert(e.getMessage.contains("array<bigint>"))
  }

  test("CellTop2: argmax, runner-up, ties to lowest cell, zero-norm, nulls") {
    GraftFunctions.register(spark)
    // centroids chosen so every rule fires: c0/c1 are IDENTICAL (tie →
    // lowest id at whichever rank they land), c2 is orthogonal, c3 is
    // zero-norm (scores Double.MinValue, never beats a real score)
    val cents = IndexedSeq(
      Array(10L, 0L), Array(10L, 0L), Array(0L, 10L), Array(0L, 0L))
    val df = spark.createDataFrame(Seq(
      (1L, Seq(7L, 1L)),   // best c0 (tie c0/c1 → c0), second c1
      (2L, Seq(1L, 7L)),   // best c2, second = tie c0/c1 → c0
      (3L, Seq(5L, 5L)))). // all three real cells tie → c0 then c1
      toDF("vec_id", "efp")
    val got = df.select(col("vec_id"),
        GraftFunctions.cellTop2(col("efp"), cents).as("t"))
      .select(col("vec_id"), col("t.c1"), col("t.c2"), col("t.s1"), col("t.s2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0, 1), (2L, 2, 0), (3L, 0, 1)),
      s"got ${got.toSeq}")
    // scores match the driver-side arithmetic (dot / sqrt(sum sq))
    val s = df.filter(col("vec_id") === 1L)
      .select(GraftFunctions.cellTop2(col("efp"), cents).getField("s1"))
      .head().getDouble(0)
    assert(math.abs(s - 70.0 / math.sqrt(100.0)) < 1e-12)
    // nulls propagate (nullIntolerant)
    val withNull = spark.createDataFrame(
        Seq(Tuple1(Option.empty[Seq[Long]]))).toDF("efp")
      .select(GraftFunctions.cellTop2(col("efp"), cents).as("t")).collect()
    assert(withNull(0).isNullAt(0))
    // single-centroid degenerate: c2 = -1
    val one = df.select(GraftFunctions
        .cellTop2(col("efp"), IndexedSeq(Array(3L, 4L))).as("t"))
      .select(col("t.c1"), col("t.c2")).head()
    assert(one.getInt(0) == 0 && one.getInt(1) == -1)
  }

  test("CellTop2: interpreted eval matches codegen") {
    GraftFunctions.register(spark)
    val cents = IndexedSeq(Array(3L, -2L, 8L), Array(-1L, 9L, 4L),
      Array(5L, 5L, 5L))
    val rows = Seq(Seq(13L, 7L, -4L), Seq(-6L, 2L, 11L), Seq(0L, 0L, 0L))
    val df = spark.createDataFrame(rows.zipWithIndex.map {
      case (v, i) => (i.toLong, v)
    }).toDF("vec_id", "efp")
    val c = GraftFunctions.cellTop2(col("efp"), cents)
    val viaCodegen = df.select(col("vec_id"), c.as("t")).collect()
      .map { r =>
        val t = r.getStruct(1)
        (r.getLong(0),
          (t.getInt(0), t.getDouble(1), t.getInt(2), t.getDouble(3)))
      }.sortBy(_._1).toSeq
    // force the interpreted path through the expression's eval (same
    // constructor data the registry builder derives)
    val expr = CellTop2(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      cents.map(_.toSeq),
      cents.map(v => math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)),
      cents.map(_ => 0L))
    val interp = rows.zipWithIndex.map { case (v, i) =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        v.toArray)
      val t = expr.nullSafeEval(arr)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      (i.toLong,
        (t.getInt(0), t.getDouble(1), t.getInt(2), t.getDouble(3)))
    }
    assert(viaCodegen.map(_._2) == interp.map(_._2),
      s"codegen $viaCodegen vs interpreted $interp")
  }

  test("CellTop2: with a non-zero bias, interpreted eval matches codegen and the formula") {
    GraftFunctions.register(spark)
    val cents = IndexedSeq(Array(3L, -2L, 8L), Array(-1L, 9L, 4L),
      Array(5L, 5L, 5L), Array(0L, 0L, 0L))
    val norms = Seq(2.5, 1.0, 4.0, 0.0)
    val bias = Seq(40L, -7L, 100L, 3L)
    val rows = Seq(Seq(13L, 7L, -4L), Seq(-6L, 2L, 11L), Seq(0L, 0L, 0L),
      Seq(9L, 9L, 9L))
    val df = spark.createDataFrame(rows.zipWithIndex.map {
      case (v, i) => (i.toLong, v)
    }).toDF("vec_id", "efp")
    def tuple(t: org.apache.spark.sql.catalyst.InternalRow) =
      (t.getInt(0), t.getDouble(1), t.getInt(2), t.getDouble(3))
    val viaCodegen = df
      .select(col("vec_id"),
        GraftFunctions.cellTop2(col("efp"), cents, norms, bias).as("t"))
      .collect().sortBy(_.getLong(0)).map { r =>
        val t = r.getStruct(1)
        (t.getInt(0), t.getDouble(1), t.getInt(2), t.getDouble(3))
      }.toSeq
    val expr = CellTop2(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      cents.map(_.toSeq), norms, bias)
    val interp = rows.map(v => tuple(expr.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray))
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    assert(viaCodegen == interp, s"codegen $viaCodegen vs interpreted $interp")
    // the same scores computed in plain Scala: (dot − bias) / norm, a
    // zero norm scores Double.MinValue, ties to the lowest id
    val driver = rows.map { v =>
      val s = cents.indices.map { c =>
        if (norms(c) == 0.0) Double.MinValue
        else (v.zip(cents(c)).map { case (a, b) => a * b }.sum - bias(c))
          .toDouble / norms(c)
      }
      val order = s.indices.sortBy(c => (-s(c), c))
      (order(0), s(order(0)), order(1), s(order(1)))
    }
    assert(viaCodegen == driver, s"codegen $viaCodegen vs driver $driver")
  }

  test("CellTop2 PQ codes equal a driver-side argmin of c·c − 2·v·c, ties to the lowest code") {
    GraftFunctions.register(spark)
    // m = 2 subspaces of 2 dims, ksub = 4; subspace 0 plants an exact
    // duplicate codeword (codes 1 and 3), subspace 1 two distinct
    // codewords at equal distance from the origin (codes 0 and 2)
    val books = IndexedSeq(
      IndexedSeq(Array(10L, 0L), Array(0L, 10L), Array(-10L, 0L),
        Array(0L, 10L)),
      IndexedSeq(Array(4L, 0L), Array(7L, 7L), Array(0L, 4L),
        Array(-9L, 1L)))
    val vecs = Seq(
      1L -> Array(0L, 9L, 0L, 0L),    // code 1 (tie with 3); tie 0/2 -> 0
      2L -> Array(8L, 1L, 6L, 5L),
      3L -> Array(-3L, -4L, -8L, 2L),
      4L -> Array(1L, 12L, 3L, 3L))
    val idx = spark.createDataFrame(vecs.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "efp")
    val got = graft.queries.VectorOps.pqEncodeIndexed(idx, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      val want = books.indices.map { j =>
        val vj = v.slice(j * 2, j * 2 + 2)
        val d = books(j).map(c =>
          c.map(x => x * x).sum - 2L * vj.zip(c).map { case (a, b) => a * b }.sum)
        d.indexOf(d.min)
      }
      assert(got(id) == want, s"vec $id: kernel ${got(id)} vs driver $want")
    }
    assert(got(1L) == Seq(1, 0), s"planted ties must resolve low: ${got(1L)}")
  }
}
