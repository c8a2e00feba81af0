package graft.plan

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plans of the pins an operator makes: every
  * `localCheckpoint` runs its frame as one action, and the plan of that
  * action is the dataflow the pin hides from every later plan (a pinned
  * frame reads back as a bare `ExistingRDD` scan). Plan audits and
  * `ExplainOne` read them here, so they inspect the operator that is
  * graded instead of an unpinned twin of it.
  */
object PinPlans {

  /** Run `body` and return its result with the executed plan of every
    * `localCheckpoint` action made on `spark` while it ran, in the
    * order the actions finished — pins made on threads `body` starts
    * and joins included. Each plan is the adaptive plan after
    * execution: its string shows the `Final Plan` and `Initial Plan`
    * sections.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // listeners hear an action after it returns, on the bus thread
      ListenerBus.drain(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
