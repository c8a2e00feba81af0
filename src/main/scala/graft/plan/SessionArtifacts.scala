package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.artifact.ArtifactManager

/** Access to a session's artifact manager, which is private to the sql package. */
object SessionArtifacts {
  /** Fix `spark`'s own artifact isolation from its conf as it stands
    * now (it is read once, lazily), and refuse a session that holds
    * artifacts of its own: a query run without isolation would not see
    * them. */
  def requireNone(spark: SparkSession): Unit = {
    val artifacts = spark.asInstanceOf[classic.SparkSession].artifactManager
    artifacts.state
    require(artifacts.getAddedJars.isEmpty && !classAdded(artifacts),
      "the session holds artifacts of its own; a replay runs without artifact isolation")
  }

  // `sessionArtifactAdded` is Scala-protected; its accessor is public bytecode
  private def classAdded(artifacts: ArtifactManager): Boolean =
    classOf[ArtifactManager].getMethod("sessionArtifactAdded").invoke(artifacts)
      .asInstanceOf[AtomicBoolean].get
}
