package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan/timing capture for the optimization rounds (not part of the driver
  * contract). For each named query: run it, write `.explain("formatted")`
  * to <outDir>/<name>_<tag>.txt, and print wall time.
  *
  * Usage: PlanDump <tag> <outDir> q_a,q_b,...   (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS — same contract as Bench so plans match bench plans).
  *
  * Streaming queries: the returned DataFrame is the post-run materialized
  * result (memory-sink scan), so the captured plan covers the batch tail;
  * the per-micro-batch split comes from the traced benchmark run
  * (`perfbench/run.py --trace 1`).
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
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(f"[plandump] $name%-36s $dt%7.3f s  rows=$n")
    }
    spark.stop()
  }
}
