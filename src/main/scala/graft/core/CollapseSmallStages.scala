package graft.core

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
import org.apache.spark.sql.internal.SQLConf

/** Runtime collapse of small shuffle stages, decided from measured map
  * output rather than plan estimates. When AQE re-plans above a
  * materialized shuffle stage whose whole output is no larger than what
  * AQE already reads as one partition
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`), the stage
  * is planned as `CoalesceExec(1, stage)`: its single partition satisfies
  * every downstream distribution, so the windows, re-aggregations and
  * sorts above it (the engine's "windows ride bounded aggregates" shape)
  * run without another exchange. The collapse takes no parallelism AQE
  * would have given the stage. Only exchanges the planner inserted
  * (`ENSURE_REQUIREMENTS`) qualify: a user repartition such as
  * [[Spread.respreadKeyed]] keeps its partitioning.
  *
  * A join whose inputs are not all collapsible collapses none of them:
  * one single-partition side would need a shuffle to meet the other, and
  * AQE drops a re-plan with more shuffles whole, skew-join splits and
  * broadcast demotions included. So the large side of a join is never
  * narrowed. Each collapse is announced once per stage via
  * [[RouteLog.costRoute]]; AQE calls the strategy on every re-plan.
  */
object CollapseSmallStages extends SparkStrategy {
  val Route = "collapseSmallStages"
  private val Announced = TreeNodeTag[Unit]("graft.collapseSmallStages.announced")
  private val JoinedWithLarge = TreeNodeTag[Unit]("graft.collapseSmallStages.joinedWithLarge")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) =>
      // every AQE re-plan starts here: drop the last re-plan's join marks,
      // a join input may have materialized since
      root.foreach {
        case q: LogicalQueryStage => q.unsetTagValue(JoinedWithLarge)
        case _                    => ()
      }
      Nil
    case j: Join =>
      // a join is planned before its inputs: mark them while it is visible
      val inputs = j.collect { case q: LogicalQueryStage => q }
      if (inputs.exists(q => shuffleStages(q.physicalPlan).nonEmpty && collapsible(q).isEmpty))
        inputs.foreach(_.setTagValue(JoinedWithLarge, ()))
      Nil
    case q: LogicalQueryStage if q.getTagValue(JoinedWithLarge).isEmpty =>
      collapsible(q).toSeq.map { case (stage, bytes) =>
        if (stage.getTagValue(Announced).isEmpty) {
          stage.setTagValue(Announced, ())
          RouteLog.costRoute(
            Route,
            s"shuffle stage ${stage.id} measured $bytes B — one partition; " +
              "downstream windows/aggregates/sorts run exchange-free")
        }
        CoalesceExec(1, q.physicalPlan)
      }
    case _ => Nil
  }

  private def shuffleStages(p: SparkPlan): Seq[ShuffleQueryStageExec] =
    p.collect { case s: ShuffleQueryStageExec => s }

  /** The stage's one shuffle and its measured bytes, when it may collapse. */
  private def collapsible(q: LogicalQueryStage): Option[(ShuffleQueryStageExec, Long)] =
    shuffleStages(q.physicalPlan) match {
      case Seq(s) if !q.physicalPlan.exists(_.isInstanceOf[BroadcastQueryStageExec]) &&
          s.isMaterialized && s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS =>
        val limit = SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        s.mapStats.map(_.bytesByPartitionId.sum).filter(_ <= limit).map(s -> _)
      case _ => None
    }
}
