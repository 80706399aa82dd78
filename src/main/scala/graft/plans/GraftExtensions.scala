package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session-extension entry point: lets a deployment enable the graft
  * SQL surface with configuration alone —
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` — so every
  * session (thrift server, notebooks, jobs) gets the native functions
  * without code changes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, f) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), f))
    }
}
