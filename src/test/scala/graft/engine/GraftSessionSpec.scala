package graft.engine

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session recipe: what every [[GraftSession.local]] session
  * carries without a caller adding it. */
class GraftSessionSpec extends SparkSpec {

  private val names = Seq(GraftFunctions.IntDotName, GraftFunctions.BloomAggName,
    GraftFunctions.BloomContainsName, GraftFunctions.CellTop2Name)

  private def registry(s: org.apache.spark.sql.SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  test("a GraftSession.local session sizes the codegen cache to 2000 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
  }

  test("a GraftSession.local session resolves every graft function before any register call") {
    // newSession builds its function registry from the builtins plus the
    // session extensions only: nothing registered on `spark` carries over
    val fresh = spark.newSession()
    names.foreach { n =>
      assert(registry(fresh).functionExists(FunctionIdentifier(n)), n)
    }
    val v = fresh.sql(s"SELECT ${GraftFunctions.IntDotName}(array(2L, 2L), array(3L, 4L))")
      .collect()(0).getLong(0)
    assert(v == 14L)
  }

  test("a second register call leaves every registry entry unchanged") {
    GraftFunctions.register(spark)
    // the entry's ExpressionInfo is new on every replacement; a
    // non-capturing builder lambda is one instance either way
    def entries = names.map { n =>
      val id = FunctionIdentifier(n)
      (registry(spark).lookupFunction(id).get,
        registry(spark).lookupFunctionBuilder(id).get)
    }
    val before = entries
    GraftFunctions.register(spark)
    before.zip(entries).zip(names).foreach { case (((i0, b0), (i1, b1)), n) =>
      assert((i0 eq i1) && (b0 eq b1), s"register replaced $n")
    }
  }
}
