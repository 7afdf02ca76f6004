package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String,
    startMs: Long, endMs: Long)

/** What the client saw of one op: epoch-ms boundaries and the result. */
final case class OpTiming(id: Int, name: String, startMs: Long, buildEndMs: Long,
    endMs: Long, df: Option[DataFrame], rows: Long)

/** Records spans and per-layer counters around each op, from outside the
  * engine: a SparkListener (jobs, stages, tasks), a StreamingQueryListener
  * (micro-batches and state operators), the op's QueryPlanningTracker,
  * Janino's CodegenMetrics and the JVM's MXBeans. The listener bus is drained
  * at every op boundary, so the events buffered when an op ends are exactly
  * that op's. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, cpus: Int) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]

  private final class JobRec(val id: Int, val group: String, val startMs: Long) {
    var endMs = -1L
  }
  private final class StageRec(val id: Int, val jobId: Int) {
    var submittedMs = -1L
    var completedMs = -1L
    var firstLaunchMs = Long.MaxValue
    var tasks, runMs, cpuNs, gcMs, bytesRead, rowsRead = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  }

  // Filled on the listener thread; read on the client thread after a drain.
  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += new JobRec(e.jobId, group.getOrElse(""), e.time)
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(s, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized {
      stages.get(e.stageId).foreach { s =>
        s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.bytesRead += m.inputMetrics.bytesRead
        s.rowsRead += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var gc0, cpu0, compiles0 = 0L

  def beginOp(id: Int, name: String): Unit = {
    sc.setJobGroup(s"graftbench-op-$id", name)
    gc0 = gcMs
    cpu0 = os.getProcessCpuTime
    compiles0 = compiles
  }

  /** Drains the listener bus, turns the op's buffered events into spans and
    * returns its per-layer counters. */
  def endOp(op: OpTiming): Seq[(String, Double)] = {
    val driverGc = gcMs - gc0
    val driverCpu = (os.getProcessCpuTime - cpu0) / 1e6
    val compileCount = compiles - compiles0
    val compileMsApprox =
      compileCount * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val drainStart = System.nanoTime()
    ListenerDrain(sc)
    val drainMs = (System.nanoTime() - drainStart) / 1e6
    sc.clearJobGroup()
    val phases = op.df.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
    def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)

    lock.synchronized {
      def span(parent: Int, kind: String, name: String, s: Long, e: Long): Int = {
        spans += Span(spans.size, parent, op.id, kind, name, s, e)
        spans.size - 1
      }
      val opSpan = span(-1, "op", op.name, op.startMs, op.endMs)
      val build = span(opSpan, "build", op.name, op.startMs, op.buildEndMs)
      val collect = span(opSpan, "collect", op.name, op.buildEndMs, op.endMs)
      phases.get("analysis").foreach(p => span(build, "plan", "analysis", p.startTimeMs, p.endTimeMs))
      Seq("optimization", "planning").foreach { n =>
        phases.get(n).foreach(p => span(collect, "plan", n, p.startTimeMs, p.endTimeMs))
      }
      val jobSpan = jobs.map { j =>
        val parent = if (j.startMs >= op.buildEndMs) collect else build
        j.id -> span(parent, "job", j.group, j.startMs, j.endMs)
      }.toMap
      val ran = stages.values.filter(_.submittedMs >= 0).toSeq
      ran.foreach { s =>
        span(jobSpan.getOrElse(s.jobId, opSpan), "stage", s"stage-${s.id}",
          s.submittedMs, s.completedMs)
      }
      val batches = progress.toSeq
      batches.foreach { b =>
        val start = java.time.Instant.parse(b.timestamp).toEpochMilli
        span(build, "micro-batch", s"${b.name}#${b.batchId}", start,
          start + b.durationMs.getOrDefault("triggerExecution", 0L))
      }

      def dur(key: String): Double =
        batches.map(b => b.durationMs.getOrDefault(key, 0L).toDouble).sum
      val wallMs = (op.endMs - op.startMs).toDouble
      val runMs = ran.map(_.runMs).sum.toDouble
      // state size is a level, not a flow: the last batch of each query
      val lastBatches = batches.groupBy(_.runId).values.map(_.maxBy(_.batchId))
      val counters = Seq(
        "operators.build_ms" -> (op.buildEndMs - op.startMs).toDouble,
        "catalyst.analysis_ms" -> phase("analysis"),
        "catalyst.optimization_ms" -> phase("optimization"),
        "catalyst.planning_ms" -> phase("planning"),
        "codegen.compiles" -> compileCount.toDouble,
        "codegen.compile_ms_approx" -> compileMsApprox,
        "scheduler.jobs" -> jobs.size.toDouble,
        "scheduler.stages" -> ran.size.toDouble,
        "scheduler.tasks" -> ran.map(_.tasks).sum.toDouble,
        "scheduler.wait_ms" -> ran.filter(_.firstLaunchMs != Long.MaxValue)
          .map(s => (s.firstLaunchMs - s.submittedMs).toDouble).sum,
        "executor.run_ms" -> runMs,
        "executor.cpu_ms" -> ran.map(_.cpuNs).sum / 1e6,
        "executor.gc_ms" -> ran.map(_.gcMs).sum.toDouble,
        "executor.core_util" -> (if (wallMs > 0) runMs / (cpus * wallMs) else 0.0),
        "scan.bytes_read" -> ran.map(_.bytesRead).sum.toDouble,
        "scan.rows_read" -> ran.map(_.rowsRead).sum.toDouble,
        "shuffle.write_bytes" -> ran.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> ran.map(_.shuffleRead).sum.toDouble,
        "shuffle.fetch_wait_ms" -> ran.map(_.fetchWaitMs).sum.toDouble,
        "shuffle.spill_bytes" -> ran.map(_.spill).sum.toDouble,
        "result.collect_ms" -> (op.endMs - op.buildEndMs).toDouble,
        "result.rows" -> op.rows.toDouble,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.machinery_ms" ->
          (if (batches.isEmpty) 0.0 else wallMs - dur("triggerExecution")),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.input_rows" -> batches.map(_.numInputRows.toDouble).sum,
        "state.commit_ms" -> batches.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum,
        "state.rows_total" ->
          lastBatches.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
        "state.memory_bytes" ->
          lastBatches.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum,
        "state.rows_dropped_late" ->
          batches.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum,
        "driver.gc_ms" -> driverGc.toDouble,
        "driver.cpu_ms" -> driverCpu,
        "trace.drain_ms" -> drainMs)
      jobs.clear()
      stages.clear()
      progress.clear()
      counters
    }
  }
}
