package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * installs the SQL surface of [[graft.functions.GraftFunctions.registerAll]]
  * (the same function list and the as-of join strategy) in every new session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, impl, build) <- graft.functions.GraftFunctions.sqlFunctions)
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(impl.getName, name), build))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
