package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import java.nio.file.{Files, Paths}

/** Plan/timing capture for the optimization rounds (not part of the driver
  * contract). For each named query: run it, write its plan to
  * <outDir>/<name>_<tag>.txt, and print wall time.
  *
  * Usage: PlanDump <tag> <outDir> q_a,q_b,...   (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS — same contract as Bench so plans match bench plans).
  *
  * A batch query's file holds `.explain("formatted")` of the returned
  * DataFrame. A streaming query returns only its memory-sink read-back, so
  * for it the file holds each stream the query started instead: the last
  * micro-batch's optimized logical plan and its formatted physical plan.
  * A listener on the session's `streams` collects the queries as they
  * start; the per-micro-batch timing split comes from the traced benchmark
  * run (`perfbench/run.py --trace 1`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(tag, outDir, namesCsv) = args.take(3)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // onQueryStarted runs on the stream's thread while the query is
    // registered as active, so `get` finds it there
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { name =>
      started.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val streams = Iterator.continually(started.poll()).takeWhile(_ != null).toList
      val plan =
        if (streams.isEmpty) df.queryExecution.explainString(FormattedMode)
        else streams.map { q =>
          val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
          val body =
            if (exec == null) "no micro-batch ran\n"
            else s"== Optimized Logical Plan ==\n${exec.optimizedPlan.treeString}\n" +
              exec.explainString(FormattedMode)
          val batch = Option(q.lastProgress).fold("none")(_.batchId.toString)
          s"== Stream ${q.name}, last batch $batch ==\n$body"
        }.mkString("\n")
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(f"[plandump] $name%-36s $dt%7.3f s  rows=$n streams=${streams.size}")
    }
    spark.stop()
  }
}
