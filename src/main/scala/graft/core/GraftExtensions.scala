package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.compat

/** SparkSessionExtensions entry point: registers the engine's SQL surface
  * at session build time, so deployments that construct their own session
  * get it with `.config("spark.sql.extensions", "graft.core.GraftExtensions")`
  * — no imperative init call required. `Graft.init` is the programmatic
  * route; both register the names of `compat.sqlFunctions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    compat.sqlFunctions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(compat.getClass.getName, name), build))
    }
}
