package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftFunctions

/** SparkSessionExtensions entry point: enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` to get the
  * engine's native expressions in SQL. (Sessions we don't build — the
  * driver-owned ones — use [[org.apache.spark.sql.graft.GraftFunctions]]
  * to register post-hoc instead.) Both install the same
  * [[org.apache.spark.sql.graft.GraftFunctions.functions]] table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(build.getClass.getCanonicalName, name), build))
    }
}
