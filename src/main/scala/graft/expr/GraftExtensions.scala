package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` entry point: makes the engine's native
  * expressions first-class SQL functions in any session built with
  * `--conf spark.sql.extensions=graft.expr.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), with no per-session
  * `register()` call. It injects the same [[GraftFunctions.sqlFunctions]]
  * table that the imperative `GraftFunctions.register` fills a session
  * the engine doesn't construct from.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}
