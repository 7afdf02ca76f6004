package graft.streaming

import graft.Q
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

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
  * The engine's stateful specials (StatefulOps, TimerOps) are built on
  * flatMapGroupsWithState, which remains fully supported; this module keeps
  * one oracle-checked operator on the new API so the engine tracks it.
  */
object TwsOps {

  case class TwsOut(user_id: Long, event_type: String)

  /** Keep-first dedup as a StatefulProcessor: a named ValueState counter per
    * (user_id, event_type); a key emits exactly once, on its 0→1 transition.
    * The counter (rather than a boolean) mirrors the reference's
    * DeduplicateKeepFirstRowFunction, whose state also serves re-scaled
    * restores where seen-counts matter. */
  private[graft] class DedupFirstProcessor
      extends StatefulProcessor[(Long, String), (Long, String), TwsOut] {
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: (Long, String),
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TwsOut] = {
      val first = !seen.exists()
      val prior = if (first) 0L else seen.get()
      seen.update(prior + rows.size)
      if (first) Iterator.single(TwsOut(key._1, key._2)) else Iterator.empty
    }
  }

  /** Native event-time timers on the new API (reference
    * KeyedProcessFunction#onTimer + InternalTimerService): each key
    * registers a timer 1 ms past its first event; when the watermark passes
    * it, handleExpiredTimer emits a timeout row — the session-timeout /
    * TTL-eviction shape without any hand-built timer heap. Used by
    * StateBackendSpec; exercised across ≥2 micro-batches so registration
    * and expiry happen in different batches. */
  class FirstEventTimeout
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      if (!armed.exists()) {
        val firstTsMs = rows.map(_._2).min
        getHandle.registerTimer(firstTsMs + 1)
        armed.update(firstTsMs)
      } else rows.foreach(_ => ()) // drain
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long)] =
      Iterator.single((key, expiredTimerInfo.getExpiryTimeInMs))
  }

  /** Full state-variable surface of the new API (reference state descriptor
    * family: ValueStateDescriptor / ListStateDescriptor / MapStateDescriptor):
    * per key, a ListState of recent values (bounded to the last 3) and a
    * MapState of per-bucket counts, exercised together. Used by
    * StateBackendSpec. */
  class ListMapStats
      extends StatefulProcessor[Long, (Long, Double), (Long, Double, Long)] {
    @transient private var recent: org.apache.spark.sql.streaming.ListState[Double] = _
    @transient private var buckets: org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[Double]("recent", Encoders.scalaDouble, TTLConfig.NONE)
      buckets = getHandle.getMapState[Long, Long]("buckets",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Double, Long)] = {
      rows.foreach { case (_, v) =>
        recent.appendValue(v)
        val b = math.floor(v / 100.0).toLong
        val cur = if (buckets.containsKey(b)) buckets.getValue(b) else 0L
        buckets.updateValue(b, cur + 1)
      }
      val vals = recent.get().toSeq
      if (vals.size > 3) { // keep the trailing 3 — bounded list state
        recent.put(vals.takeRight(3).toArray)
      }
      val kept = recent.get().toSeq
      val nBuckets = { var n = 0L; val it = buckets.keys(); while (it.hasNext) { it.next(); n += 1 }; n }
      Iterator.single((key, kept.sum, nBuckets))
    }
  }

  /** transformWithState requires the RocksDB state store provider (like the
    * reference pairing KeyedProcessFunction state with RocksDBStateBackend);
    * swap it in for the body, restore after. */
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

  /** q_tws_dedup: same answer as q_stream_dedup (DISTINCT user_id ×
    * event_type) but computed by the transformWithState runtime — named
    * RocksDB-backed state, emit-on-first-touch. */
  val qTwsDedup: Q = Q(
    "q_tws_dedup",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        implicit val outEnc: Encoder[TwsOut] = Encoders.product[TwsOut]
        val out = StreamingOps.streamTable(s, dir, "events")
          .select($"user_id", $"event_type").as[(Long, String)]
          .groupByKey(identity)
          .transformWithState(new DedupFirstProcessor, TimeMode.None(), OutputMode.Append())
        StreamingOps.runToMemory(s, out.toDF(), "append", "graft_tws_dedup")
          .orderBy($"user_id", $"event_type")
      }
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
           |ORDER BY user_id, event_type""".stripMargin))

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

  /** One ms-bucket of buffered rows (the MapState value — arrivals append
    * to their own bucket instead of rewriting the whole buffer). */
  case class TsBucket(evs: List[StatefulOps.EvT])

  /** The per-ms-bucket disciplines shared by the OVER processors — like
    * the armed-timer protocol, each lives ONCE. */
  private def appendToPending(pending: MapState[Long, TsBucket],
      e: StatefulOps.EvT): Long = {
    val ms = e.ts.getTime
    val cur = if (pending.containsKey(ms)) pending.getValue(ms).evs else Nil
    pending.updateValue(ms, TsBucket(e :: cur))
    ms
  }

  /** Write `finalByMs` back as a DIFF against the loaded history: only
    * buckets whose contents changed touch the store (the
    * ChangelogJoinProcessor write discipline). */
  private def writeBackDiff(state: MapState[Long, TsBucket],
      histByMs: Map[Long, TsBucket],
      finalByMs: Map[Long, List[StatefulOps.EvT]]): Unit =
    (histByMs.keySet ++ finalByMs.keySet).foreach { ms =>
      (histByMs.get(ms).map(_.evs), finalByMs.get(ms)) match {
        case (a, b) if a == b => ()
        case (_, Some(evs)) => state.updateValue(ms, TsBucket(evs))
        case (_, None) => state.removeKey(ms)
      }
    }

  /** Streaming time-RANGE bounded OVER on transformWithState — the THIRD
    * fMGWS hot-path migration (after temporal sort and changelog join),
    * closing the per-key whole-buffer-rewrite bound for the OVER family
    * (reference RowTimeRangeBoundedPrecedingFunction.java, whose state is
    * likewise MapState<ts, rows>):
    *  - rows live in TWO per-millisecond-bucket MapStates, `pending`
    *    (unemitted) and `emitted` (released but still referenceable by a
    *    future frame) — an arrival touches exactly one pending bucket, and
    *    emission is MEMBERSHIP, not a timestamp marker, so a late-admitted
    *    sub-millisecond row in an already-released millisecond still
    *    emits (it lands in pending and drains at the next firing — a
    *    through-timestamp marker silently dropped exactly that row);
    *  - ONE armed event-time timer per key at the minimum pending
    *    timestamp; a firing drains every pending row the watermark has
    *    passed, computes each frame over the emitted history + due slice,
    *    and re-arms at the next pending minimum;
    *  - eviction applies the fMGWS operator's exact per-row rule, written
    *    back as a DIFF: only buckets whose contents changed touch the
    *    store (the ChangelogJoinProcessor write discipline — no
    *    clear()+rewrite of untouched buckets). */
  class OverRangeProcessor(rangeUs: Long)
      extends StatefulProcessor[Long, StatefulOps.EvT, StatefulOps.RangeOut] {
    @transient private var pending: MapState[Long, TsBucket] = _
    @transient private var emitted: MapState[Long, TsBucket] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState[Long, TsBucket]("pending",
        Encoders.scalaLong, Encoders.product[TsBucket], TTLConfig.NONE)
      emitted = getHandle.getMapState[Long, TsBucket]("emitted",
        Encoders.scalaLong, Encoders.product[TsBucket], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[StatefulOps.EvT],
        timerValues: TimerValues): Iterator[StatefulOps.RangeOut] = {
      var newMin = Long.MaxValue
      rows.foreach { e =>
        val ms = appendToPending(pending, e)
        if (ms < newMin) newMin = ms
      }
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
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StatefulOps.RangeOut] =
      drain(key, math.max(expiredTimerInfo.getExpiryTimeInMs,
        timerValues.getCurrentWatermarkInMs()), timerValues)

    /** The watermark step (due slice → frames → eviction → re-arm); called
      * from timer firings AND due-on-arrival (see [[dueOnArrival]]). */
    private def drain(key: Long, releaseUpTo: Long, timerValues: TimerValues)
        : Iterator[StatefulOps.RangeOut] = {
      import StatefulOps.usOf
      import OverFrames.canon
      val pendingAll = pending.iterator().toVector
      val (dueBuckets, stillPending) = pendingAll.partition(_._1 <= releaseUpTo)
      val due = canon(dueBuckets.flatMap(_._2.evs))
      // one read of the emitted history serves every frame this firing;
      // still-pending rows all lie AFTER releaseUpTo, so no due frame
      // (which trails its row) can reference them
      val histByMs = emitted.iterator().toVector.toMap
      // one ordered sweep with prefix sums — O(referable + due), where the
      // per-due-row filter/re-sum this replaces went quadratic on a
      // catch-up firing that drains a key's whole history (r10 verdict)
      val referable = canon(histByMs.valuesIterator.flatMap(_.evs).toVector ++ due)
      val out = OverFrames.rangeSums(key, due, referable, rangeUs)
      // eviction (the fMGWS operator's exact per-row rule): an emitted row
      // survives only while a pending row's frame, or a possible future
      // arrival above the watermark, can still reference it
      val minPendingUs = stillPending.iterator.flatMap(_._2.evs).map(e => usOf(e.ts))
        .minOption.getOrElse(Long.MaxValue)
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
      val finalByMs = referable.filter(e =>
        usOf(e.ts) + rangeUs >= minPendingUs || usOf(e.ts) + rangeUs >= wmUs)
        .groupBy(_.ts.getTime).view.mapValues(canon).toMap
      // canonical bucket order keeps the diff comparison meaningful;
      // drained pending buckets removed
      writeBackDiff(emitted, histByMs, finalByMs)
      dueBuckets.foreach { case (ms, _) => pending.removeKey(ms) }
      rearmAt(getHandle, armed, stillPending.iterator.map(_._1).minOption,
        timerValues.getCurrentWatermarkInMs() + 1)
      out.iterator
    }
  }

  /** [[StatefulOps.overRangePreceding]]'s API shape on the new runtime. */
  def overRangeTws(ds: org.apache.spark.sql.Dataset[StatefulOps.EvT], rangeUs: Long)
      : org.apache.spark.sql.Dataset[StatefulOps.RangeOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val enc: Encoder[StatefulOps.RangeOut] = Encoders.product[StatefulOps.RangeOut]
    ds.groupByKey(_.user_id)
      .transformWithState(new OverRangeProcessor(rangeUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming ROWS bounded-preceding OVER on transformWithState — the
    * RANGE variant's sibling (reference
    * RowTimeRowsBoundedPrecedingFunction.java), completing the OVER
    * family's migration. Same pending/emitted bucket design as
    * [[OverRangeProcessor]]; the emitted history is CAPPED at nRows−1 rows
    * after every firing (exactly the rows any future frame can reference —
    * the reference operator's retract-when-full state), so the retained
    * state is count-bounded, not time-bounded. */
  class OverRowsProcessor(nRows: Int)
      extends StatefulProcessor[Long, StatefulOps.EvT, StatefulOps.RangeOut] {
    @transient private var pending: MapState[Long, TsBucket] = _
    @transient private var emitted: MapState[Long, TsBucket] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState[Long, TsBucket]("pending",
        Encoders.scalaLong, Encoders.product[TsBucket], TTLConfig.NONE)
      emitted = getHandle.getMapState[Long, TsBucket]("emitted",
        Encoders.scalaLong, Encoders.product[TsBucket], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[StatefulOps.EvT],
        timerValues: TimerValues): Iterator[StatefulOps.RangeOut] = {
      var newMin = Long.MaxValue
      rows.foreach { e =>
        val ms = appendToPending(pending, e)
        if (ms < newMin) newMin = ms
      }
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
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StatefulOps.RangeOut] =
      drain(key, math.max(expiredTimerInfo.getExpiryTimeInMs,
        timerValues.getCurrentWatermarkInMs()), timerValues)

    /** The watermark step (due slice → frames → eviction → re-arm); called
      * from timer firings AND due-on-arrival (see [[dueOnArrival]]). */
    private def drain(key: Long, releaseUpTo: Long, timerValues: TimerValues)
        : Iterator[StatefulOps.RangeOut] = {
      import StatefulOps.usOf
      import OverFrames.canon
      val pendingAll = pending.iterator().toVector
      val (dueBuckets, stillPending) = pendingAll.partition(_._1 <= releaseUpTo)
      val due = canon(dueBuckets.flatMap(_._2.evs))
      val histByMs = emitted.iterator().toVector.toMap
      // the full referable relation in total (µs, id) order — the fMGWS
      // operator's sorted buffer, with history already capped at nRows−1;
      // frames come from one positional sweep with prefix sums instead of
      // a per-due-row takeWhile scan (quadratic on catch-up, r10 verdict)
      val ordered = canon(histByMs.valuesIterator.flatMap(_.evs).toVector ++ due)
      val out = OverFrames.rowsSums(key, due, ordered, nRows)
      // retention: a FUTURE row (late-admissible = usOf above the µs
      // watermark) may slot anywhere past wmUs, so its ROWS frame can
      // reference (a) any emitted row above wmUs and (b) the nRows−1 rows
      // immediately before that region. A bare takeRight(nRows−1) loses
      // (a)-preceding rows and corrupts the late row's frame sum (r10
      // review); the retained set stays count-bounded — at most the
      // boundary millisecond's rows plus nRows−1.
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
      val (aboveWm, belowWm) = ordered.partition(e => usOf(e.ts) > wmUs)
      val finalByMs = (belowWm.takeRight(nRows - 1) ++ aboveWm)
        .groupBy(_.ts.getTime).view.mapValues(canon).toMap
      writeBackDiff(emitted, histByMs, finalByMs)
      dueBuckets.foreach { case (ms, _) => pending.removeKey(ms) }
      rearmAt(getHandle, armed, stillPending.iterator.map(_._1).minOption,
        timerValues.getCurrentWatermarkInMs() + 1)
      out.iterator
    }
  }

  /** [[StatefulOps.overRowsPreceding]]'s API shape on the new runtime. */
  def overRowsTws(ds: org.apache.spark.sql.Dataset[StatefulOps.EvT], nRows: Int)
      : org.apache.spark.sql.Dataset[StatefulOps.RangeOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val enc: Encoder[StatefulOps.RangeOut] = Encoders.product[StatefulOps.RangeOut]
    ds.groupByKey(_.user_id)
      .transformWithState(new OverRowsProcessor(nRows),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** q_tws_over_rows: the q_stream_over_rows oracle on the migrated
    * operator — sum of the last 3 values per user in (ts, event_id)
    * order, watermark delay 0. */
  val qTwsOverRows: Q = Q(
    "q_tws_over_rows",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        val in = StreamingOps.streamTable(s, dir, "events")
          .withWatermark("ts", "0 seconds")
          .select($"event_id", $"user_id", $"value", $"ts").as[StatefulOps.EvT]
        val out = overRowsTws(in, nRows = 3).toDF()
        StreamingOps.runToMemory(s, out, "append", "graft_tws_over_rows")
          .orderBy($"user_id", $"event_id")
      }
    },
    Some("""SELECT event_id, user_id,
           |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS range_sum
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  /** q_tws_over_range: the q_stream_over_range oracle on the migrated
    * operator — trailing 1-hour sum per user, watermark delay 0. */
  val qTwsOverRange: Q = Q(
    "q_tws_over_range",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        val in = StreamingOps.streamTable(s, dir, "events")
          .withWatermark("ts", "0 seconds")
          .select($"event_id", $"user_id", $"value", $"ts").as[StatefulOps.EvT]
        val out = overRangeTws(in, rangeUs = 3600L * 1000000).toDF()
        StreamingOps.runToMemory(s, out, "append", "graft_tws_over_range")
          .orderBy($"user_id", $"event_id")
      }
    },
    Some("""SELECT event_id, user_id,
           |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
           |         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
           |         AS range_sum
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  /** Temporal AS-OF join with version-state TTL on transformWithState —
    * the migration of [[StatefulOps.asofWithTtl]] (reference
    * TemporalRowTimeJoinOperator.java:72 + StateTtlConfig.java:51: latest
    * version per key in keyed state, purchases join against it, the
    * version expires `ttlMs` after its own event time).
    *
    * What the migration buys over the fMGWS+[[TimerOps]] build: the
    * version is ONE native ValueState row (no TimerState wrapper
    * re-serialized per touched batch), and TTL cleanup is a native
    * event-time timer.
    *
    * Semantics parity note: fMGWS fired due timers BEFORE the batch's
    * elements (the reference's timers fire at watermark advances, which in
    * the micro-batch model all precede the batch), so a version whose TTL
    * the watermark passed is expired AT BATCH ENTRY — and a version set
    * DURING the batch is readable for the rest of the batch even if
    * already past its deadline, exactly as a Flink record following it in
    * stream order would see it. The native timer remains as state cleanup
    * (the reference's TTL compaction role). State discipline: ONE write +
    * at most one timer re-arm per key per batch, however many signups the
    * batch carries — per-row timer calls would make a hot key's ingest
    * linear in STATE CALLS (the probed appendValue cliff). */
  class AsofTtlProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, StatefulOps.Tagged, StatefulOps.AsofOut] {
    @transient private var ver: ValueState[StatefulOps.SigVer] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ver = getHandle.getValueState[StatefulOps.SigVer]("ver",
        Encoders.product[StatefulOps.SigVer], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[StatefulOps.Tagged],
        timerValues: TimerValues): Iterator[StatefulOps.AsofOut] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val stored = if (ver.exists()) Some(ver.get()) else None
      // batch-entry expiry = the fMGWS drain-before-elements
      var cur = stored.filter(v => v.tsMs + ttlMs > wm)
      // (ts, signup-first, id) order — FOR SYSTEM_TIME AS OF <= semantics
      // within the batch, same as the fMGWS operator
      val batch = rows.toArray.sortInPlaceBy(t => (t.ts_us, 1 - t.is_sig, t.event_id))
      val out = Vector.newBuilder[StatefulOps.AsofOut]
      batch.foreach { t =>
        if (t.is_sig == 1) cur = Some(StatefulOps.SigVer(t.value, t.ts_us / 1000))
        else out += StatefulOps.AsofOut(t.event_id, cur.map(_.value))
      }
      if (cur != stored) cur match {
        case Some(v) =>
          if (armed.exists()) getHandle.deleteTimer(armed.get()) // re-arm on update
          // wm+1 clamp: a timer registered at or below the current
          // watermark never fires (armEarlier's probed runtime edge)
          val exp = math.max(v.tsMs + ttlMs, wm + 1)
          getHandle.registerTimer(exp)
          armed.update(exp)
          ver.update(v)
        case None => // expired at entry with no successor this batch
          if (armed.exists()) { getHandle.deleteTimer(armed.get()); armed.clear() }
          ver.clear()
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[StatefulOps.AsofOut] = {
      // clear only when the CURRENT version is the one this timer guards
      // (a re-armed key deletes its stale timer, but the guard keeps the
      // protocol safe under any runtime double-fire)
      if (ver.exists() &&
          ver.get().tsMs + ttlMs <= expiredTimerInfo.getExpiryTimeInMs) {
        ver.clear(); armed.clear()
      }
      Iterator.empty
    }
  }

  /** [[StatefulOps.asofWithTtl]]'s API shape on the new runtime. */
  def asofTtlTws(ds: org.apache.spark.sql.Dataset[StatefulOps.Tagged], ttlMs: Long)
      : org.apache.spark.sql.Dataset[StatefulOps.AsofOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val enc: Encoder[StatefulOps.AsofOut] =
      Encoders.product[StatefulOps.AsofOut]
    ds.groupByKey(_.user_id)
      .transformWithState(new AsofTtlProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** q_tws_asof: the q_stream_asof oracle on the migrated operator — the
    * TTL knob wired at 10 years (the fixture spans days, so no version
    * expires and the batch oracle holds; expiry itself is pinned in
    * AsofTtlSpec's TwS twin). */
  val qTwsAsof: Q = Q(
    "q_tws_asof",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, when}
      withRocksDb(s) {
        val tagged = StreamingOps.streamTable(s, dir, "events")
          .where(col("event_type").isin("signup", "purchase"))
          .select($"event_id", $"user_id", $"value", unix_micros($"ts").as("ts_us"),
            when($"event_type" === "signup", 1).otherwise(0).as("is_sig"), $"ts")
          .withWatermark("ts", "0 seconds")
          .as[StatefulOps.Tagged]
        val out = asofTtlTws(tagged, ttlMs = 10L * 365 * 86400 * 1000).toDF()
        StreamingOps.runToMemory(s, out, "append", "graft_tws_asof")
          .orderBy($"event_id")
      }
    },
    Some("""SELECT a.event_id,
           |  (SELECT arg_max(b.value, printf('%020d-%012d', epoch_us(b.ts), b.event_id))
           |   FROM events b
           |   WHERE b.user_id = a.user_id AND b.event_type = 'signup'
           |     AND b.ts <= a.ts) AS last_signup_value
           |FROM events a WHERE a.event_type = 'purchase'
           |ORDER BY a.event_id""".stripMargin))

  /** q_tws_temporal_sort: the q_stream_temporal_sort oracle on the migrated
    * operator — watermark delay 0, so the final no-data micro-batch's
    * watermark releases every buffered row through the native timers. */
  val qTwsTemporalSort: Q = Q(
    "q_tws_temporal_sort",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        val in = StreamingOps.streamTable(s, dir, "events")
          .withWatermark("ts", "0 seconds")
          .select($"event_id", $"user_id", $"value", $"ts").as[StatefulOps.EvT]
        val out = temporalSortTws(in).toDF()
          .select($"event_id", $"user_id", $"value", unix_micros($"ts").as("ts_us"))
        StreamingOps.runToMemory(s, out, "append", "graft_tws_temporal_sort")
          .orderBy($"event_id")
      }
    },
    Some("""SELECT event_id, user_id, value,
           |       CAST(epoch_us(ts) AS BIGINT) AS ts_us
           |FROM events ORDER BY event_id""".stripMargin))

  /** Streaming TopN on transformWithState (reference
    * operators/rank/AppendOnlyTopNFunction.java:48): per-key top-3 by
    * (value desc, id) in one ValueState row, refreshed list emitted every
    * touched batch (update mode). The write is DIFFED — an unchanged top
    * list doesn't touch the store (the hot-key case: most arrivals lose
    * to the incumbents). */
  class TopNProcessor
      extends StatefulProcessor[String, StatefulOps.Ev, StatefulOps.TopOut] {
    @transient private var top: ValueState[StatefulOps.TopState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getValueState[StatefulOps.TopState]("top",
        Encoders.product[StatefulOps.TopState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[StatefulOps.Ev],
        timerValues: TimerValues): Iterator[StatefulOps.TopOut] = {
      val cur = if (top.exists()) top.get().items else Nil
      val merged = (cur ++ rows.map(e => StatefulOps.TopItem(e.value, e.event_id)))
        .sortBy(i => (-i.value, i.event_id)).take(3)
      if (merged != cur) top.update(StatefulOps.TopState(merged))
      merged.zipWithIndex.iterator.map { case (i, idx) =>
        StatefulOps.TopOut(key, idx + 1, i.event_id, i.value)
      }
    }
  }

  /** Dedup keep-LAST on transformWithState (reference
    * DeduplicateKeepLastRowFunction — the variant Spark's streaming
    * dropDuplicates cannot express): one ValueState row holding the
    * highest-id row seen, current value emitted per touched batch. */
  class DedupLastProcessor
      extends StatefulProcessor[(Long, String), StatefulOps.Ev, StatefulOps.LastOut] {
    @transient private var last: ValueState[StatefulOps.LastState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[StatefulOps.LastState]("last",
        Encoders.product[StatefulOps.LastState], TTLConfig.NONE)

    override def handleInputRows(key: (Long, String),
        rows: Iterator[StatefulOps.Ev], timerValues: TimerValues)
        : Iterator[StatefulOps.LastOut] = {
      val incoming = rows.maxBy(_.event_id)
      val keep =
        if (last.exists() && last.get().event_id > incoming.event_id)
          last.get()
        else {
          val s = StatefulOps.LastState(incoming.event_id, incoming.value)
          last.update(s); s
        }
      Iterator.single(StatefulOps.LastOut(key._1, key._2, keep.event_id, keep.value))
    }
  }

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

  /** q_tws_topn: the q_stream_topn oracle on the migrated operator. */
  val qTwsTopN: Q = Q(
    "q_tws_topn",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        implicit val enc: Encoder[StatefulOps.TopOut] =
          Encoders.product[StatefulOps.TopOut]
        val out = twsEvents(s, dir)
          .groupByKey(_.event_type)
          .transformWithState(new TopNProcessor,
            TimeMode.None(), OutputMode.Update())
        StreamingOps.runToMemory(s, out.toDF(), "update", "graft_tws_topn")
          .orderBy($"event_type", $"rn")
      }
    },
    Some("""SELECT event_type, rn, event_id, value FROM (
           |  SELECT event_type, CAST(row_number() OVER (PARTITION BY event_type
           |           ORDER BY value DESC, event_id) AS INTEGER) AS rn,
           |         event_id, value
           |  FROM events) WHERE rn <= 3
           |ORDER BY event_type, rn""".stripMargin))

  /** q_tws_dedup_last: the q_stream_dedup_last oracle on the migrated
    * operator. */
  val qTwsDedupLast: Q = Q(
    "q_tws_dedup_last",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        implicit val enc: Encoder[StatefulOps.LastOut] =
          Encoders.product[StatefulOps.LastOut]
        val out = twsEvents(s, dir)
          .groupByKey(e => (e.user_id, e.event_type))
          .transformWithState(new DedupLastProcessor,
            TimeMode.None(), OutputMode.Update())
        StreamingOps.runToMemory(s, out.toDF(), "update", "graft_tws_dedup_last")
          .orderBy($"user_id", $"event_type")
      }
    },
    Some("""SELECT user_id, event_type, event_id, value FROM (
           |  SELECT user_id, event_type, event_id, value,
           |         row_number() OVER (PARTITION BY user_id, event_type
           |                            ORDER BY event_id DESC) AS rn
           |  FROM events) WHERE rn = 1
           |ORDER BY user_id, event_type""".stripMargin))

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

  /** Changelog TopN on transformWithState (reference
    * operators/rank/RetractableTopNFunction.java — the retraction stream
    * made visible as a row_kind column, RowKind.java:27): per-key top-3 in
    * one ValueState row, each batch emitting the +I/-U/+U/-D diff of old
    * vs new BY RANK POSITION — the same pure diff algebra as the fMGWS
    * [[StatefulOps.topNChangelog]], with the TwS write diffed too (a batch
    * whose arrivals all lose to the incumbents touches neither the store
    * nor the output). */
  class ChangelogTopNProcessor
      extends StatefulProcessor[String, StatefulOps.Ev, StatefulOps.TopChange] {
    @transient private var top: ValueState[StatefulOps.TopState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getValueState[StatefulOps.TopState]("top",
        Encoders.product[StatefulOps.TopState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[StatefulOps.Ev],
        timerValues: TimerValues): Iterator[StatefulOps.TopChange] = {
      val old = if (top.exists()) top.get().items else Nil
      val merged = (old ++ rows.map(e => StatefulOps.TopItem(e.value, e.event_id)))
        .sortBy(i => (-i.value, i.event_id)).take(3)
      if (merged != old) top.update(StatefulOps.TopState(merged))
      (0 until math.max(old.size, merged.size)).iterator.flatMap { r =>
        (old.lift(r), merged.lift(r)) match {
          case (None, Some(n)) =>
            Seq(StatefulOps.TopChange(key, "+I", r + 1, n.event_id, n.value))
          case (Some(o), Some(n)) if o != n =>
            Seq(StatefulOps.TopChange(key, "-U", r + 1, o.event_id, o.value),
              StatefulOps.TopChange(key, "+U", r + 1, n.event_id, n.value))
          case (Some(o), None) =>
            Seq(StatefulOps.TopChange(key, "-D", r + 1, o.event_id, o.value))
          case _ => Nil
        }
      }
    }
  }

  /** q_tws_changelog_topn: the q_changelog_topn oracle on the migrated
    * operator — over the fixture's single data batch the changelog is
    * exactly the +I rows of the final per-type top-3 (the cross-batch
    * retraction sequence is pinned against the fMGWS twin in
    * TwsChangelogTopNSpec). */
  val qTwsChangelogTopN: Q = Q(
    "q_tws_changelog_topn",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      withRocksDb(s) {
        implicit val enc: Encoder[StatefulOps.TopChange] =
          Encoders.product[StatefulOps.TopChange]
        val out = twsEvents(s, dir)
          .groupByKey(_.event_type)
          .transformWithState(new ChangelogTopNProcessor,
            TimeMode.None(), OutputMode.Append())
        StreamingOps.runToMemory(s, out.toDF(), "append", "graft_tws_changelog_topn")
          .orderBy($"event_type", $"rn")
      }
    },
    Some("""SELECT event_type, '+I' AS row_kind,
           |       CAST(row_number() OVER (PARTITION BY event_type
           |         ORDER BY value DESC, event_id) AS INTEGER) AS rn,
           |       event_id, value
           |FROM events QUALIFY rn <= 3
           |ORDER BY event_type, rn""".stripMargin))

  private def twsEvents(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[StatefulOps.Ev] = {
    import s.implicits._
    StreamingOps.streamTable(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        unix_micros($"ts").as("ts_us"))
      .as[StatefulOps.Ev]
  }

  val all: Seq[Q] = Seq(qTwsDedup, qTwsTemporalSort, qTwsOverRange, qTwsOverRows,
    qTwsAsof, qTwsTopN, qTwsDedupLast, qTwsStreamOver, qTwsChangelogTopN)
}
