package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** Savepoints (reference flink-runtime/.../checkpoint/savepoint/ — an
  * externalized, portable snapshot of a job's keyed state that a NEW job can
  * be started from): composed here from two Spark-native halves.
  *
  *  - EXPORT: the statestore data source reads any checkpoint's keyed state
  *    as a DataFrame ([[QueryableState.stateOf]]); staging that to parquet is
  *    the portable savepoint file.
  *  - RESTORE: `transformWithState` with a [[StatefulProcessorWithInitialState]]
  *    seeds a BRAND-NEW query's state from any keyed Dataset — including an
  *    exported savepoint — before the first input batch, exactly the
  *    savepoint-restore contract (state is re-sharded to the new query's
  *    partitioning by the shuffle, which is the reference's state
  *    reassignment on rescale).
  *
  * Scale posture: export is a partition-parallel scan, restore is one
  * shuffle of the snapshot — both linear, no driver materialization.
  */
object Savepoint {

  /** Export a checkpoint's keyed state to parquet (the portable savepoint).
    * `stateVar` names the transformWithState variable to snapshot; `select`
    * projects the statestore layout (key struct + state struct) into the
    * flat schema the restoring job expects. */
  def export(spark: SparkSession, checkpoint: String, outDir: String,
      stateVar: Option[String] = None)(select: DataFrame => DataFrame): Unit =
    select(QueryableState.stateOf(spark, checkpoint, stateVar = stateVar))
      .write.parquet(outDir)

  /** Per-key running total that can be seeded from a savepoint: the
    * processor keeps one ValueState counter; `handleInitialState` installs
    * the snapshot value before any input arrives. */
  class RunningCount
      extends StatefulProcessorWithInitialState[String, (String, Long), (String, Long), Long] {
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(key: String, snapshot: Long,
        timerValues: TimerValues): Unit =
      total.update(snapshot)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      val prior = if (total.exists()) total.get() else 0L
      val updated = prior + rows.map(_._2).sum
      total.update(updated)
      Iterator.single((key, updated))
    }
  }

  /** V2 state for [[RunningCountV2]]: the v1 bare total plus an ADDED
    * field (`cnt`, rows seen since v2 started). */
  case class CountStateV2(total: Long, cnt: Long)

  /** STATE SCHEMA EVOLUTION (the reference's state-migration story: a
    * savepoint taken by operator v1 is restored into v2 whose state type
    * gained a field — POJO evolution fills new fields with defaults,
    * flink-core/.../typeutils/ schema-compatibility): the state struct
    * gains `cnt`; `handleInitialState` maps v1's bare-Long savepoint into
    * the evolved struct with the added field defaulted to 0. */
  class RunningCountV2
      extends StatefulProcessorWithInitialState[String, (String, Long), (String, Long, Long), Long] {
    @transient private var st: ValueState[CountStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CountStateV2]("totalv2",
        Encoders.product[CountStateV2], TTLConfig.NONE)

    override def handleInitialState(key: String, snapshot: Long,
        timerValues: TimerValues): Unit =
      st.update(CountStateV2(snapshot, 0L))

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      val prior = if (st.exists()) st.get() else CountStateV2(0L, 0L)
      val rs = rows.toSeq
      val updated = CountStateV2(prior.total + rs.map(_._2).sum, prior.cnt + rs.size)
      st.update(updated)
      Iterator.single((key, updated.total, updated.cnt))
    }
  }

  /** The shared harness behind [[runCounts]]/[[runCountsV2]]: RocksDB
    * provider pinned for the query (transformWithState requires it, conf
    * restored after), savepoint-seeded initial state, memory-sink drain. */
  private def runWith[S: org.apache.spark.sql.Encoder](spark: SparkSession,
      input: DataFrame, initial: Dataset[(String, Long)], ckpt: String,
      sink: String, processor: StatefulProcessorWithInitialState[String, (String, Long), S, Long],
      outCols: Seq[String]): DataFrame = {
    import spark.implicits._
    TwsOps.withRocksDb(spark) {
      val out = input.as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(
          processor, TimeMode.None(), OutputMode.Update(),
          initial.groupByKey(_._1).mapValues(_._2))
      val q = StreamingOps.startQuery(spark, out.toDF(outCols: _*).writeStream
        .format("memory").queryName(sink).outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
      q.awaitTermination()
      spark.table(sink)
    }
  }

  /** Run the counting query over `input`, seeded from `initial` (empty
    * Dataset = fresh start), checkpointing at `ckpt`; returns the sink
    * output. RocksDB provider is required by transformWithState. */
  def runCounts(spark: SparkSession, input: DataFrame, initial: Dataset[(String, Long)],
      ckpt: String, sink: String): DataFrame = {
    import spark.implicits._
    runWith(spark, input, initial, ckpt, sink, new RunningCount, Seq("k", "total"))
  }

  /** [[runCounts]] for the evolved v2 operator: same contract, state seeded
    * from a V1 savepoint (bare totals). */
  def runCountsV2(spark: SparkSession, input: DataFrame,
      initial: Dataset[(String, Long)], ckpt: String, sink: String): DataFrame = {
    import spark.implicits._
    runWith(spark, input, initial, ckpt, sink, new RunningCountV2,
      Seq("k", "total", "cnt"))
  }
}
