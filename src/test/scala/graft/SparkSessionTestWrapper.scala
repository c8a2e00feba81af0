package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (Spark sessions
  * are expensive; ScalaTest suites run sequentially in one JVM here).
  */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.session
  /** Smallest fixture scale — correctness, not perf, is under test. */
  val sfDir = "/root/testdata/sf0.001"
  /** The oracle gate's scale (500 vectors), for specs that need more
    * than the micro fixture holds. */
  val gateDir: String = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString

  /** The executed plans of the pins (`localCheckpoint`s) `body` makes,
    * in order ([[graft.plan.PinPlans]]): the graded dataflow, which a
    * pinned frame shows only as an RDD scan. */
  def pinsOf(body: => Any): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val pins = graft.plan.PinPlans.during(spark)(body)._2
    assert(pins.nonEmpty, "the operator made no pin")
    pins
  }

  /** Spark jobs `f` runs on `s`, counted through a fresh job group; a
    * marker job in a second group is awaited before counting, so every
    * job of the first group has been reported to the status tracker. */
  def jobsIn(s: SparkSession)(f: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-end", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-end").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

object SparkSessionTestWrapper {
  lazy val session: SparkSession = LocalSession.build(cpus = 4,
    warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
