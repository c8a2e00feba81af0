package graft.plan

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** A query's final ordering sorted in ONE task when adaptive execution
  * has measured its input small: `ReturnAnswer(Sort(global))` planned
  * as `SortExec(CoalesceExec(1, child))` instead of a range exchange.
  *
  * The MapReduce paper's sorted output costs nothing beyond the reduce;
  * a sampled range partition (the TeraSort skeleton) pays off only when
  * the output spans several reducers. Spark plans every global sort as
  * a range exchange, whose bounds-sampling job evaluates the sort input
  * (the final aggregation, a `mapGroups`) a second time, plus one more
  * stage — even when that input is a few KB.
  *
  * The rewrite fires only when both hold:
  *   - every leaf of the sort input is a materialized adaptive query
  *     stage, so it is reached only by adaptive RE-planning, after a
  *     stage has run (initial plans, sorts over raw scans, streaming
  *     micro-batches and V1 file writes, whose sort sits under
  *     `WriteFiles`, keep their range exchange), and no leaf is the
  *     sort's own range exchange already run;
  *   - the measured size is within the adaptive broadcast threshold
  *     (`spark.sql.adaptive.autoBroadcastJoinThreshold`, falling back
  *     to `spark.sql.autoBroadcastJoinThreshold`): data small enough to
  *     broadcast is small enough to sort in one task. `-1` turns the
  *     rewrite off.
  */
object OutputSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) if measuredSmall(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def measuredSmall(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    val threshold = conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
      .getOrElse(conf.autoBroadcastJoinThreshold)
    threshold >= 0 && child.collectLeaves().forall {
      case s: LogicalQueryStage =>
        s.isMaterialized && !s.physicalPlan.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    } && child.stats.sizeInBytes <= threshold
  }

  /** Add the strategy to `spark`'s planner once (idempotent). */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(this)) spark.experimental.extraStrategies = this +: strategies
  }
}
