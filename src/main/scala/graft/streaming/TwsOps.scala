package graft.streaming

import graft.Q
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** transformWithState — Spark's CURRENT arbitrary-stateful-processing API
  * (the successor to flatMapGroupsWithState): named state variables
  * (Value/List/Map), per-state TTL, native timers, initial state. This is
  * the closest Spark surface to the reference's KeyedProcessFunction +
  * state-descriptor model (flink-streaming-java/.../KeyedProcessFunction.java
  * + api/common/state/ValueStateDescriptor.java): state is declared by name
  * in init() exactly like Flink's descriptor registration in open(), and it
  * REQUIRES the RocksDB state store provider — the same pairing as the
  * reference's RocksDBStateBackend for unbounded keyed state.
  *
  * One runtime per family. The families kept here use what only this
  * model has: a ListState buffer written incrementally with native
  * event-time timers (temporal sort) and one scalar ValueState per key
  * (the unbounded running OVER, q_tws_stream_over, which beat its fMGWS
  * twin at sf0.1, 1.421 vs 1.630 s). CEP, session windows and the
  * changelog join/aggregate live on it in CepTws, SessionTws,
  * ChangelogJoin and ChangelogAgg. The small single-value-state families
  * (dedup keep-first and keep-last, TopN, changelog TopN), the bounded
  * OVER range and rows frames and the as-of TTL join run on
  * flatMapGroupsWithState / dropDuplicates only (StatefulOps,
  * StreamingOps), which was faster at sf0.1 and at the 100× rung; their
  * q_tws_* names are built by the same functions as their fMGWS twins.
  */
object TwsOps {

  /** Streaming-caller provider discipline for operators that RETURN a lazy
    * Dataset (so a [[withRocksDb]]-scoped restore would expire before the
    * query starts): swap to RocksDB only when the session sits on the
    * registered HDFS-backed DEFAULT; an explicitly configured custom
    * non-RocksDB provider fails fast instead of being silently replaced
    * session-wide (ADVICE r11). Batch TwS execution hardwires a RocksDB
    * store and never reads this conf — callers gate on `isStreaming`. */
  private[graft] def requireRocksDb(s: SparkSession, op: String): Unit = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val cur = s.conf.get(provKey, "")
    if (!cur.contains("RocksDB")) {
      val hdfsDefault =
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      if (cur.nonEmpty && cur != hdfsDefault)
        throw new IllegalStateException(
          s"$op runs on transformWithState, which requires a RocksDB-based " +
          s"state-store provider, but $provKey is explicitly set to '$cur'. " +
          "Set it to RocksDBStateStoreProvider (or a RocksDB-derived provider) " +
          s"before calling $op.")
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    }
  }

  /** transformWithState requires the RocksDB state store provider (like the
    * reference pairing KeyedProcessFunction state with RocksDBStateBackend);
    * swap it in for the body, restore after. */
  private[graft] def withRocksDb[A](s: SparkSession)(body: => A): A =
    StreamingOps.withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Batch-mode transformWithState loads a real state store, which needs
    * the driver's StateStoreCoordinator RPC endpoint — registered only
    * once a streaming query has run in this SparkContext (probed: a batch
    * TwS in a fresh session dies with RpcEndpointNotFoundException).
    * Run a one-row stateful memory stream once per session to register it. */
  private val coordinatorWarmed =
    new graft.SessionScoped(new java.util.concurrent.atomic.AtomicBoolean())
  private[graft] def ensureStateCoordinator(s: SparkSession): Unit = {
    val warmed = coordinatorWarmed(s)
    if (!warmed.get) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val name = s"graft_state_coord_warm_${java.util.UUID.randomUUID().toString.take(8)}"
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = StreamingOps.startQuery(s, mem.toDS().groupBy().count().writeStream
        .format("memory").queryName(name).outputMode("complete"))
      try { mem.addData(1L); q.processAllAvailable() }
      finally { q.stop(); s.catalog.dropTempView(name); () }
      warmed.set(true)
    }
  }

  /** The per-key MIN-TIMER protocol shared by the TwS migrations: one
    * armed event-time timer per key at the minimum relevant timestamp.
    * `armEarlier` on arrival (min over the NEW rows only — O(batch), never
    * O(buffer)); `rearmAt` after a drain, at the next minimum or disarmed.
    * The protocol is subtle enough (delete-before-register, disarm on
    * empty) that it lives ONCE — every TwS processor calls these.
    *
    * `minFireMs` (pass `timerValues.getCurrentWatermarkInMs() + 1`): a
    * timer registered at or below the watermark current at REGISTRATION
    * time never fires (probed: an expiry-0 timer under the initial 0
    * watermark is dead; expiry == wm at FIRING time is fine), so a
    * fully-late arrival's timer — or an already-passed deadline — clamps
    * forward to the next watermark tick. */
  private[graft] def armEarlier(
      handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      armed: ValueState[Long], newMin: Long, minFireMs: Long): Unit = {
    val t = math.max(newMin, minFireMs)
    if (!armed.exists()) { handle.registerTimer(t); armed.update(t) }
    else if (t < armed.get()) {
      handle.deleteTimer(armed.get())
      handle.registerTimer(t); armed.update(t)
    }
  }

  private[graft] def rearmAt(
      handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      armed: ValueState[Long], nextMin: Option[Long], minFireMs: Long): Unit =
    nextMin match {
      case Some(m) =>
        val t = math.max(m, minFireMs)
        handle.registerTimer(t); armed.update(t)
      case None => armed.clear()
    }

  /** Arrival-side dispatch shared by the TwS processors: when the batch's
    * earliest release tick is ALREADY at or below the current watermark, a
    * wm+1-clamped timer would never fire if the watermark never advances
    * again (a final-millisecond row split across batches — r12 review), so
    * the processor must drain INLINE instead of arming. Clears the armed
    * timer first so the drain's rearmAt keeps the one-armed-timer
    * invariant. Returns true when the caller should drain now. */
  private[graft] def dueOnArrival(
      handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      armed: ValueState[Long], newMinMs: Long, wmMs: Long): Boolean =
    if (newMinMs > wmMs) false
    else {
      if (armed.exists()) { handle.deleteTimer(armed.get()); armed.clear() }
      true
    }

  /** Temporal (event-time) sort migrated from fMGWS to transformWithState —
    * the r9 verdict's ordered migration of a stateful hot path onto the
    * current API (reference operator: RowTimeSortOperator.java:88, buffer
    * per key + registerEventTimeTimer per row, release on watermark).
    *
    * What the migration buys over [[StatefulOps.temporalSort]]'s
    * fMGWS+[[TimerOps]] build:
    *  - the buffer is NATIVE ListState: arrivals are incremental RocksDB
    *    appends, where fMGWS re-serializes the whole per-key buffer (one
    *    GroupState value) on every batch that touches the key — the
    *    per-key-per-batch rewrite bound COVERAGE §2.7 documents;
    *  - timers are NATIVE event-time timers: handleExpiredTimer is driven
    *    by the watermark without a hand-built timer heap in state. ONE
    *    timer per key is kept armed at the minimum buffered timestamp
    *    (re-armed cheaper on arrival, re-armed at the next minimum after
    *    each drain), so a watermark advance past k distinct timestamps
    *    costs one buffer read + one rewrite, not k. */
  class TemporalSortProcessor
      extends StatefulProcessor[Long, StatefulOps.EvT, StatefulOps.EvT] {
    @transient private var buf: ListState[StatefulOps.EvT] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[StatefulOps.EvT]("buf",
        Encoders.product[StatefulOps.EvT], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[StatefulOps.EvT],
        timerValues: TimerValues): Iterator[StatefulOps.EvT] = {
      // ONE appendList per key per batch: appendValue costs ~5 ms PER CALL
      // on this runtime (probed: a 5k-row hot-key batch spent 25 s in
      // per-row appends and 50 ms in everything else), so per-row appends
      // turn a hot key's ingest linear-in-rows STATE CALLS instead of one
      val batch = rows.toArray
      var newMin = Long.MaxValue
      batch.foreach { e => if (e.ts.getTime < newMin) newMin = e.ts.getTime }
      if (batch.nonEmpty) buf.appendList(batch)
      if (newMin == Long.MaxValue) Iterator.empty
      else if (dueOnArrival(getHandle, armed, newMin,
          timerValues.getCurrentWatermarkInMs()))
        drain(key, timerValues.getCurrentWatermarkInMs(), timerValues)
      else {
        armEarlier(getHandle, armed, newMin,
          timerValues.getCurrentWatermarkInMs() + 1)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StatefulOps.EvT] =
      drain(key, math.max(expiredTimerInfo.getExpiryTimeInMs,
        timerValues.getCurrentWatermarkInMs()), timerValues)

    /** Drain the WHOLE due slice up to `releaseUpTo` in one step (the wm
      * may be far past the armed min), then re-arm at the earliest
      * surviving row. Called from timer firings AND due-on-arrival. */
    private def drain(key: Long, releaseUpTo: Long, timerValues: TimerValues)
        : Iterator[StatefulOps.EvT] = {
      val (ready, rest) = buf.get().toSeq.partition(_.ts.getTime <= releaseUpTo)
      if (rest.isEmpty) buf.clear() else buf.put(rest.toArray)
      rearmAt(getHandle, armed, rest.iterator.map(_.ts.getTime).minOption,
        timerValues.getCurrentWatermarkInMs() + 1)
      // µs order within the due slice (see StatefulOps.usOf); successive
      // firings release ascending slices — the one exception is a
      // late-admitted sub-millisecond row (above the µs watermark but in an
      // already-released millisecond), which releases at the NEXT firing,
      // after rows beyond it: the same tail behavior as the fMGWS operator,
      // whose per-ms timer for such a row likewise fires on a later batch
      ready.sortBy(e => (StatefulOps.usOf(e.ts), e.event_id)).iterator
    }
  }

  /** The fMGWS temporal sort's exact API shape on the new runtime. */
  def temporalSortTws(ds: org.apache.spark.sql.Dataset[StatefulOps.EvT])
      : org.apache.spark.sql.Dataset[StatefulOps.EvT] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val enc: Encoder[StatefulOps.EvT] = Encoders.product[StatefulOps.EvT]
    ds.groupByKey(_.user_id)
      .transformWithState(new TemporalSortProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** q_tws_temporal_sort: the q_stream_temporal_sort oracle on the migrated
    * operator — watermark delay 0, so the final no-data micro-batch's
    * watermark releases every buffered row through the native timers. */
  val qTwsTemporalSort: Q = Q(
    "q_tws_temporal_sort",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        val out = temporalSortTws(StatefulOps.eventsT(s, dir)).toDF()
          .select($"event_id", $"user_id", $"value", unix_micros($"ts").as("ts_us"))
        StreamingOps.runToMemory(s, out, "append", "graft_tws_temporal_sort")
          .orderBy($"event_id")
      }
    },
    Some("""SELECT event_id, user_id, value,
           |       CAST(epoch_us(ts) AS BIGINT) AS ts_us
           |FROM events ORDER BY event_id""".stripMargin))

  /** Unbounded-preceding running sum on transformWithState (reference
    * operators/over/RowTimeRowsUnboundedPrecedingFunction.java): one
    * ValueState scalar per key, each row emitted once with the running
    * total (append mode) — the whole-state payload is ONE double, the
    * cheapest possible migration win over a re-serialized fMGWS object. */
  class RunningSumProcessor
      extends StatefulProcessor[Long, StatefulOps.Ev, StatefulOps.OverOut] {
    @transient private var total: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Double]("total",
        Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[StatefulOps.Ev],
        timerValues: TimerValues): Iterator[StatefulOps.OverOut] = {
      var t = if (total.exists()) total.get() else 0.0
      val out = rows.toArray.sortInPlaceBy(_.event_id).map { e =>
        t += e.value
        // HALF_UP to match both the oracle's round() and Spark's
        // (math.rint is half-even and flips .xx5 boundaries)
        StatefulOps.OverOut(e.event_id, key,
          BigDecimal(t).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      total.update(t)
      out.iterator
    }
  }

  /** q_tws_stream_over: the q_stream_over oracle on the migrated
    * operator — per-row running sum per user in arrival (event_id)
    * order, append mode. */
  val qTwsStreamOver: Q = Q(
    "q_tws_stream_over",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        implicit val enc: Encoder[StatefulOps.OverOut] =
          Encoders.product[StatefulOps.OverOut]
        val out = twsEvents(s, dir)
          .groupByKey(_.user_id)
          .transformWithState(new RunningSumProcessor,
            TimeMode.None(), OutputMode.Append())
        StreamingOps.runToMemory(s, out.toDF(), "append", "graft_tws_stream_over")
          .orderBy($"user_id", $"event_id")
      }
    },
    Some("""SELECT event_id, user_id,
           |       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  private def twsEvents(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[StatefulOps.Ev] = {
    import s.implicits._
    StreamingOps.streamTable(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        unix_micros($"ts").as("ts_us"))
      .as[StatefulOps.Ev]
  }

  val all: Seq[Q] = Seq(qTwsTemporalSort, qTwsStreamOver)
}
