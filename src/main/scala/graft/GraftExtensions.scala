package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.CosineSimilarity

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to pure-SQL users on any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (no Scala API needed):
  *
  * {{{
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * and injects [[graft.plans.KernelRewrite]] into the optimizer, so even
  * the textbook HOF formulation (`aggregate(zip_with(...))`) silently runs
  * on the fused codegen kernels, and
  * injects the [[graft.core.CollapseSmallStages]] planner strategy, so a
  * small shuffle stage reaches its downstream windows and sorts as one
  * partition without another exchange.
  *
  * The Scala API path (GraftFunctions.register via SparkEntry.tune) covers
  * programmatic sessions; this covers spark-sql / JDBC / notebook sessions
  * configured at launch.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction(
      (
        new FunctionIdentifier(graft.functions.GraftFunctions.COSINE),
        new ExpressionInfo(
          classOf[CosineSimilarity].getCanonicalName,
          graft.functions.GraftFunctions.COSINE),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          CosineSimilarity(exprs(0), exprs(1))))
    extensions.injectOptimizerRule(_ => graft.plans.KernelRewrite)
    extensions.injectPlannerStrategy(_ => graft.core.CollapseSmallStages)
  }
}
