/* Lives under org.apache.spark.sql for private[sql] access
 * (SparkSession.artifactManager) — see JvmHashCode.scala. */
package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.artifact.ArtifactManager

/** What a session has of Spark's per-session artifacts (jars, class files,
  * archives added with `addArtifact` or `ADD JAR`). */
object SessionArtifacts {

  /** True when `spark` has added a session artifact.
    * `ArtifactManager.sessionArtifactAdded` is Scala-`protected` and compiles
    * to a public method, so it is read by reflection. */
  def added(spark: SparkSession): Boolean = {
    val am = spark.asInstanceOf[classic.SparkSession].artifactManager
    classOf[ArtifactManager].getMethod("sessionArtifactAdded").invoke(am)
      .asInstanceOf[AtomicBoolean].get
  }
}
