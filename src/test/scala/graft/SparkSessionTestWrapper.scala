package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (Spark sessions
  * are expensive; ScalaTest suites run sequentially in one JVM here).
  */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.session
  /** Smallest fixture scale — correctness, not perf, is under test. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSessionTestWrapper {
  lazy val session: SparkSession = LocalSession.build(cpus = 4,
    warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
