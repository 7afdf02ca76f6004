/* Lives under org.apache.spark.sql to read a started query's cloned session
 * (StreamExecution.sparkSessionForStream) and its artifact manager. */
package org.apache.spark.sql.graft

import graft.{GraftSpec, SparkEntry}
import graft.streaming.StreamingOps
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** Generated classes compile once per JVM, not once per streaming query:
  * [[StreamingOps.startQuery]] starts each query in a clone of the session
  * that shares the default classloader, the classloader Spark's codegen
  * cache is keyed on. A session that has added artifacts keeps its own. */
class StreamCodegenSpec extends GraftSpec {

  test("a second run of q_stream_tumble compiles no generated class") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val q = SparkEntry.queries("q_stream_tumble")
    val first = q(spark, sfDir).collect().toSeq
    val before = compiles
    val second = q(spark, sfDir).collect().toSeq
    assert(compiles - before == 0,
      s"the second run compiled ${compiles - before} classes")
    assert(second == first)
  }

  test("a session that has added artifacts keeps an isolated artifact state for its streams") {
    // a class file, not a jar: Spark ships every jar any session added to
    // jobs that run outside an artifact session, and those jobs fail to
    // fetch it once the session that added it is gone
    val bytes = getClass.getResourceAsStream("/graft/GraftSpec.class").readAllBytes()
    val s2 = spark.newSession()
    s2.addArtifact(bytes, "graft/GraftSpec.class")
    val q = StreamingOps.startQuery(s2, s2.readStream.format("rate").load().writeStream
      .format("noop"), owned(StreamingOps.freshCheckpoint("artifact-session")))
    try {
      val clone = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream
      assert(clone.artifactManager.state != null,
        "a stream of a session with artifacts lost its artifact isolation")
    } finally q.stop()
  }
}
