package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, SparkSession}

/** Test access to a session's artifact isolation, which is private to
  * the sql package. */
object ArtifactProbe {
  /** Whether `spark`'s jobs run under an artifact state of its own
    * session id, as an isolated session's do. */
  def isolatedAsItself(spark: SparkSession): Boolean = {
    val s = spark.asInstanceOf[classic.SparkSession]
    Option(s.artifactManager.state).exists(_.uuid == s.sessionUUID)
  }
}
