package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Queryable state (reference KeyedStream#queryableState
  * flink-streaming-java/.../datastream/KeyedStream.java:934 +
  * flink-queryable-state/ — external reads of a running job's keyed state).
  *
  * Spark's equivalent is the state data source: every stateful operator's
  * keyed state is durable in the checkpoint, and `spark.read.format
  * ("statestore")` reads it back as a DataFrame — keys under `key.*`, the
  * state object under `value.groupState.*`, one row per live key. That turns
  * "queryable state" from a bespoke RPC stack (the reference's
  * QueryableStateClient / proxy / server triple) into plain SQL over the
  * store: snapshot scans, point lookups, joins against other tables.
  *
  * Scale posture: the read is partition-parallel over the store's shuffle
  * partitions (no driver materialization), and a point query prunes to the
  * matching key via an ordinary filter — at 100 TB of state this is a
  * distributed scan of one checkpoint version, the same contract as the
  * reference's state backend snapshot reads.
  */
object QueryableState {

  /** Snapshot of an operator's keyed state at the last committed batch.
    * `stateVar` selects a named transformWithState variable (fMGWS state
    * lives in the single default store and needs no name). */
  def stateOf(spark: SparkSession, checkpoint: String, operatorId: Int = 0,
      stateVar: Option[String] = None): DataFrame = {
    val r = spark.read.format("statestore")
      .option("operatorId", operatorId.toString)
    stateVar.foreach(v => r.option("stateVarName", v))
    r.load(checkpoint)
  }

  /** Point query: live state rows for one key — the QueryableStateClient
    * `getKvState(jobId, name, key)` analogue as a filtered distributed read. */
  def get(spark: SparkSession, checkpoint: String, keyField: String, keyValue: Any): DataFrame =
    stateOf(spark, checkpoint).filter(col(s"key.$keyField") === lit(keyValue))

  /** Store registry: which stateful operators exist in the checkpoint —
    * the analogue of the reference's queryable-state name registration. */
  def metadata(spark: SparkSession, checkpoint: String): DataFrame =
    spark.read.format("state-metadata").load(checkpoint)

  // ---- the oracle-checked query: run a keyed stateful op with a durable
  // checkpoint, then answer FROM THE STATE STORE, not from the sink.

  case class Ev(event_type: String, value: Double)
  case class AggState(cnt: Long, vmax: Double)

  /** q_queryable_state: per-event-type (count, max) maintained as keyed
    * state by flatMapGroupsWithState; the RESULT is read back out of the
    * checkpoint via the statestore source after the query stops. The oracle
    * certifies the full loop: state write → checkpoint commit → external
    * state read.
    */
  val qQueryableState: Q = Q(
    "q_queryable_state",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val base = Tables.scratch(s"qstate/${java.util.UUID.randomUUID()}")
      val ckpt = s"$base/ckpt"
      val snapDir = s"$base/snapshot"
      val in = StreamingOps.streamTable(s, dir, "events")
        .select($"event_type", $"value").as[Ev]
      val sunk = in.groupByKey(_.event_type)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (key: String, it: Iterator[Ev], state: GroupState[AggState]) =>
            val cur = state.getOption.getOrElse(AggState(0L, Double.MinValue))
            val upd = it.foldLeft(cur)((a, e) => AggState(a.cnt + 1, math.max(a.vmax, e.value)))
            state.update(upd)
            Iterator.single(key) // sink output is irrelevant; state is the answer
        }
      // noop sink still evaluates every partition (a sink that drops the
      // batch without consuming it would leave the state stores uncommitted)
      val q = StreamingOps.startQuery(s, sunk.writeStream
        .format("noop")
        .outputMode("update")
        .trigger(Trigger.AvailableNow()), ckpt)
      q.awaitTermination()
      // stage the snapshot out of the checkpoint (distributed write, no
      // collect) so the checkpoint files can be reclaimed eagerly
      stateOf(s, ckpt)
        .select(
          col("key.value").as("event_type"),
          col("value.groupState.cnt").as("cnt"),
          col("value.groupState.vmax").as("vmax"))
        .write.parquet(snapDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      s.read.parquet(snapDir)
    },
    Some("""SELECT event_type, count(*) AS cnt, max(value) AS vmax
            FROM events GROUP BY event_type"""))

  /** The same keyed (count, max) on transformWithState, with the aggregate
    * in a NAMED state variable — the registration name is exactly what the
    * reference's `asQueryableState("name")` hands the QueryableStateClient
    * (KeyedStream.java:934), and the state source's `stateVarName` option
    * plays the client's name-addressed lookup. */
  private[graft] class TypeStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Ev, String] {
    @transient private var agg: org.apache.spark.sql.streaming.ValueState[AggState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      agg = getHandle.getValueState[AggState]("agg",
        org.apache.spark.sql.Encoders.product[AggState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[String] = {
      val cur = if (agg.exists()) agg.get() else AggState(0L, Double.MinValue)
      val upd = rows.foldLeft(cur)((a, e) =>
        AggState(a.cnt + 1, math.max(a.vmax, e.value)))
      agg.update(upd)
      Iterator.single(key)
    }
  }

  /** q_queryable_state_tws: q_queryable_state's loop on the current API —
    * named RocksDB-backed state variable in, `stateVarName`-addressed
    * state-source read out. */
  val qQueryableStateTws: Q = Q(
    "q_queryable_state_tws",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      TwsOps.withRocksDb(s) {
        val base = Tables.scratch(s"qstate-tws/${java.util.UUID.randomUUID()}")
        val ckpt = s"$base/ckpt"
        val snapDir = s"$base/snapshot"
        val in = StreamingOps.streamTable(s, dir, "events")
          .select($"event_type", $"value").as[Ev]
        val sunk = in.groupByKey(_.event_type)
          .transformWithState(new TypeStatsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
        val q = StreamingOps.startQuery(s, sunk.writeStream
          .format("noop")
          .outputMode("append")
          .trigger(Trigger.AvailableNow()), ckpt)
        q.awaitTermination()
        stateOf(s, ckpt, stateVar = Some("agg"))
          .select(
            col("key.value").as("event_type"),
            col("value.cnt").as("cnt"),
            col("value.vmax").as("vmax"))
          .write.parquet(snapDir)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        s.read.parquet(snapDir)
      }
    },
    Some("""SELECT event_type, count(*) AS cnt, max(value) AS vmax
            FROM events GROUP BY event_type"""))

  val all: Seq[Q] = Seq(qQueryableState, qQueryableStateTws)
}
