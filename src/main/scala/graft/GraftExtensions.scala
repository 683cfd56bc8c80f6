package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions: the canonical injection point for the engine's
  * custom Catalyst surface. Installable two ways:
  *
  *   - programmatically: `GraftSession.builder(...)` applies it;
  *   - by config (works with plain spark-submit / spark-shell):
  *     `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * The function list lives in ONE place —
  * [[graft.functions.VectorFunctions.registry]] — shared with the
  * temp-function bootstrap path, so both always expose the same surface.
  * Future custom rules/strategies (e.g. an as-of join planner rule) land
  * here too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.VectorFunctions.registry.foreach {
      case (name, cls, usage, builder) =>
        e.injectFunction(
          (
            FunctionIdentifier(name),
            new ExpressionInfo(cls.getCanonicalName, null, name, usage, "", "", "", "", "", "", ""),
            builder
          )
        )
    }
}
