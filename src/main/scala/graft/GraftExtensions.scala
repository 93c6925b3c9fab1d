package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library-level SparkSessionExtensions entry point: injects every graft
  * SQL function at session build time, so a cluster deployment enables the
  * whole expression library with
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * and no per-session registration code (a local session sets the same
  * `spark.sql.extensions` key on its builder). The function list is
  * `GeomFunctions.injections`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.expr.GeomFunctions.injections.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
}
