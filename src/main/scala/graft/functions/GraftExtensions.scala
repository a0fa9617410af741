package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer for graft's custom expressions:
  * `spark.sql.extensions=graft.functions.GraftExtensions`, which
  * [[graft.engine.GraftSession]] sets on every session it builds (and
  * `clusterDefaults` hands to spark-defaults). Injects the same table
  * [[GraftFunctions.register]] installs on sessions built elsewhere. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}
