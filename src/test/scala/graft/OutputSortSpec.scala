package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plan.OutputSort

/** [[OutputSort]]: a registered query's final ordering, measured small
  * by adaptive execution, is sorted in one task — no range-bounds
  * sampling job, no range exchange — with the same rows in the same
  * order as the range-partitioned plan. The adaptive broadcast
  * threshold `-1` turns the rewrite off and gives that control plan.
  */
class OutputSortSpec extends AnyFunSuite with SparkSessionTestWrapper {
  private val Threshold = "spark.sql.adaptive.autoBroadcastJoinThreshold"

  /** A fresh session (its own planner strategies), with the rewrite on
    * or switched off through the threshold. */
  private def session(rewrite: Boolean): SparkSession = {
    val s = spark.newSession()
    if (!rewrite) s.conf.set(Threshold, "-1")
    s
  }

  /** Collect a registered query over the gate fixture (sf0.001's q5
    * answer is one row, whose sort the optimizer drops); its rows and
    * final adaptive plan. */
  private def run(s: SparkSession, q: String): (Seq[Row], String) = {
    val df = SparkEntry.queries(q)(s, gateDir)
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (rows, plan.toString)
  }

  for (q <- Seq("q_wordcount", "q_tpch_q5"))
    test(s"$q: the executed final plan sorts without a range exchange, same rows") {
      val (rows, plan) = run(session(rewrite = true), q)
      assert(!plan.contains("rangepartitioning") && plan.contains("Coalesce 1"), plan)
      val (offRows, offPlan) = run(session(rewrite = false), q)
      assert(offPlan.contains("rangepartitioning"), offPlan)
      assert(rows.size > 1 && rows === offRows)
    }

  test("warm q_wordcount runs 2 fewer jobs: no bounds sample, no range stage") {
    def warmJobs(s: SparkSession): Int = {
      def exec(): Unit = SparkEntry.queries("q_wordcount")(s, gateDir)
        .write.format("noop").mode("overwrite").save()
      exec()
      jobsIn(s)(exec())
    }
    assert(warmJobs(session(rewrite = false)) === 4)
    assert(warmJobs(session(rewrite = true)) === 2)
  }

  test("install is idempotent: one strategy entry") {
    val s = spark.newSession()
    OutputSort.install(s)
    OutputSort.install(s)
    SparkEntry.queries("q_topk")(s, sfDir)
    assert(s.experimental.extraStrategies.count(_ eq OutputSort) === 1)
  }

  test("q_stream_tumbling: streamed rows unchanged") {
    def rows(rewrite: Boolean): Seq[Row] = run(session(rewrite), "q_stream_tumbling")._1
    val on = rows(rewrite = true)
    assert(on.nonEmpty && on === rows(rewrite = false))
  }
}
