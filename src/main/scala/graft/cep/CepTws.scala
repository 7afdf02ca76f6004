package graft.cep

import graft.Q
import graft.streaming.StatefulOps.Ev
import graft.streaming.{StreamingOps, TwsOps}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming CEP on transformWithState — the migration of the NFA's
  * in-flight-runs state off flatMapGroupsWithState (reference
  * flink-cep/.../nfa/NFAState.java: partial matches ARE keyed state, and
  * flink-cep/.../operator/CepOperator.java: elements buffer in MapState
  * per timestamp, the NFA consumes them in event-time order when the
  * WATERMARK passes, then `advanceTime` expires `within` windows).
  *
  * What the migration buys over [[CepOps.streamingMatches]]'s fMGWS build:
  *  - arrivals are incremental ListState appends (the element buffer),
  *    not a whole-state rewrite per touched batch;
  *  - the NFA consumes events in GLOBAL event-time order across batches
  *    (the fMGWS path sorted only within a batch, so cross-batch disorder
  *    was consumed out of order);
  *  - `within` windows expire on WATERMARK passage through a native timer
  *    — a key whose pattern times out emits its timeout side without
  *    waiting for another event on that key (the fMGWS path could only
  *    prune when the key itself was touched again);
  *  - the run set is rewritten once per timer FIRING (and only if it
  *    changed), not per touched batch.
  *
  * One armed event-time timer per key (the [[TwsOps]] min-timer protocol)
  * at the earlier of: the minimum buffered event's millisecond, and the
  * earliest `within` deadline of a live run. Timers are ms-granular like
  * the watermark; sub-millisecond tails behave like the temporal sort
  * (a late-admitted sub-ms row processes at the next firing).
  */
object CepTws {
  import CepOps.{CepMatch, CepStreamOut, CepTimeoutRow}

  /** The flat, encoder-friendly form of [[Pattern.Run]] (same shape the
    * fMGWS path persisted as CepRuns, one state element per run). */
  case class RunRow(step: Int, cnt: Int, startOrd: Long, startTs: Long,
      gap: Boolean, acc: List[(Int, Ev)])

  /** [[Ev]] plus the watermark column transformWithState's event-time mode
    * requires. */
  case class EvW(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts_us: Long, ts: java.sql.Timestamp)

  private def toRun(r: RunRow): Pattern.Run[Ev] =
    Pattern.Run(r.step, r.cnt, r.startOrd, r.startTs, r.gap, r.acc.toVector)
  private def toRow(r: Pattern.Run[Ev]): RunRow =
    RunRow(r.step, r.cnt, r.startOrd, r.startTs, r.gap, r.acc.toList)

  /** ms timer tick that guarantees wmUs >= deadlineUs when it fires. */
  private def deadlineMs(startTsUs: Long, withinUs: Long): Long =
    math.ceil((startTsUs + withinUs) / 1000.0).toLong

  class CepProcessor(pat: Pattern[Ev])
      extends StatefulProcessor[Long, EvW, CepStreamOut] {
    @transient private var buf: ListState[Ev] = _
    @transient private var runs: ListState[RunRow] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Ev]("buf", Encoders.product[Ev], TTLConfig.NONE)
      runs = getHandle.getListState[RunRow]("runs",
        Encoders.product[RunRow], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[EvW],
        timerValues: TimerValues): Iterator[CepStreamOut] = {
      // one appendList per key per batch — appendValue costs ~5 ms per
      // call on this runtime (see TemporalSortProcessor), so per-row
      // appends would dominate a hot key's ingest
      val batch = rows.map(e =>
        Ev(e.event_id, e.user_id, e.event_type, e.value, e.ts_us)).toArray
      if (batch.nonEmpty) buf.appendList(batch)
      var newMinMs = Long.MaxValue
      batch.foreach { e =>
        // floor-ms like the temporal sort: the watermark is the µs max
        // truncated down to ms, so a rounded-up timer might never fire
        val ms = math.floorDiv(e.ts_us, 1000L)
        if (ms < newMinMs) newMinMs = ms
      }
      if (newMinMs == Long.MaxValue) Iterator.empty
      else if (newMinMs <= timerValues.getCurrentWatermarkInMs()) {
        // already due on arrival: a wm+1-clamped timer never fires if the
        // watermark never advances again (a final-millisecond row split
        // across batches — r12 review), so drain INLINE. Clearing the
        // armed timer first keeps the one-armed-timer invariant: drain's
        // rearmAt registers fresh.
        if (armed.exists()) { getHandle.deleteTimer(armed.get()); armed.clear() }
        drain(key, timerValues.getCurrentWatermarkInMs(), timerValues)
      } else {
        TwsOps.armEarlier(getHandle, armed, newMinMs,
          timerValues.getCurrentWatermarkInMs() + 1)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[CepStreamOut] =
      drain(key,
        math.max(expiredTimerInfo.getExpiryTimeInMs,
          timerValues.getCurrentWatermarkInMs()),
        timerValues)

    /** One watermark step: consume the due slice in event-time order, then
      * advanceTime(wm) expires `within` windows; write-backs as diffs.
      * Called from a timer firing AND from handleInputRows when an arrival
      * is already due (see there). */
    private def drain(key: Long, releaseUpTo: Long, timerValues: TimerValues)
        : Iterator[CepStreamOut] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
      val all = buf.get().toVector
      val (due, rest) = all.partition(e => math.floorDiv(e.ts_us, 1000L) <= releaseUpTo)
      val carriedRows = runs.get().toVector
      val carried = carriedRows.map(toRun)
      val (matches, survivors0, eventTimeouts) = Pattern.advanceFull(
        pat, due.sortBy(e => (e.ts_us, e.event_id)).iterator,
        (_: Ev).ts_us, (_: Ev).event_id, carried, endOfInput = false)
      val (survivors, wmTimeouts) = Pattern.advanceTime(pat, survivors0, wmUs)
      // write-backs as diffs: untouched state costs nothing
      if (due.nonEmpty) { if (rest.isEmpty) buf.clear() else buf.put(rest.toArray) }
      val survivorRows = survivors.map(toRow)
      if (survivorRows != carriedRows) {
        if (survivorRows.isEmpty) runs.clear() else runs.put(survivorRows.toArray)
      }
      val nextEventMs = rest.iterator.map(e => math.floorDiv(e.ts_us, 1000L)).minOption
      val nextDeadlineMs = pat.withinUs.flatMap(w =>
        survivors.iterator.map(r => deadlineMs(r.startTs, w)).minOption)
      TwsOps.rearmAt(getHandle, armed,
        (nextEventMs.toSeq ++ nextDeadlineMs.toSeq).minOption,
        timerValues.getCurrentWatermarkInMs() + 1)
      (matches.iterator.map(m =>
         CepStreamOut(key, m.head.event_id, m.last.event_id, is_timeout = false)) ++
       (eventTimeouts.iterator ++ wmTimeouts.iterator).map(t =>
         CepStreamOut(key, t.head.event_id, t.head.event_id, is_timeout = true)))
    }
  }

  /** [[CepOps.streamingMatchesWithTimeouts]]'s shape on the new runtime.
    * Input rows carry ts_us; the watermark column is derived inside. */
  def streamingMatchesWithTimeoutsTws(ds: Dataset[Ev], pat: Pattern[Ev],
      delay: String = "0 seconds"): Dataset[CepStreamOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val outEnc: Encoder[CepStreamOut] = Encoders.product[CepStreamOut]
    TwsOps.ensureStateCoordinator(spark)
    if (ds.isStreaming) TwsOps.requireRocksDb(spark, "streamingMatchesTws")
    ds.withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", delay)
      .as[EvW]
      .groupByKey(_.user_id)
      .transformWithState(new CepProcessor(pat),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[CepOps.streamingMatches]]'s shape on the new runtime. */
  def streamingMatchesTws(ds: Dataset[Ev], pat: Pattern[Ev],
      delay: String = "0 seconds"): Dataset[CepMatch] = {
    implicit val enc: Encoder[CepMatch] = Encoders.product[CepMatch]
    streamingMatchesWithTimeoutsTws(ds, pat, delay)
      .filter(!_.is_timeout)
      .map(m => CepMatch(m.user_id, m.a_id, m.b_id))
  }

  private def evStream(s: SparkSession, dir: String): Dataset[Ev] = {
    import s.implicits._
    StreamingOps.streamTable(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
  }

  /** q_tws_cep: the q_cep_followed_by pattern (signup followedBy purchase
    * within 2 h, SKIP_PAST_LAST_EVENT) computed by the transformWithState
    * NFA runtime — same recursive-CTE oracle. */
  val qTwsCep: Q = Q(
    "q_tws_cep",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      TwsOps.withRocksDb(s) {
        val pat = Pattern.begin[Ev]("a")(_.event_type == "signup")
          .followedBy("b")(_.event_type == "purchase")
          .within(2L * 3600 * 1000000)
        val out = streamingMatchesTws(evStream(s, dir), pat).toDF()
        StreamingOps.runToMemory(s, out, "append", "graft_tws_cep")
          .orderBy($"user_id", $"a_id")
      }
    },
    CepOps.qCepFollowedBy.oracle)

  /** q_tws_cep_timeout: the q_cep_timeout pattern's TIMEOUT side on the
    * transformWithState runtime — expiry is watermark-driven (native
    * timers), so a key with no further events still emits once the
    * WATERMARK passes its deadline (the fMGWS path could only prune when
    * the key itself was touched again).
    *
    * The oracle mirrors the streaming semantics exactly: a signup with no
    * in-window purchase times out iff (a) some same-key event reached its
    * deadline (the NFA's per-event prune, exact µs), or (b) the final
    * watermark did. The watermark is the µs max event time FLOORED to ms
    * and a deadline expires at the first ms tick ≥ it, so (b) compares
    * ceil(deadline/1000) against floor(max/1000) — at µs-precision
    * fixtures the un-floored comparison would disagree at sub-ms
    * boundaries. Unlike the batch query there is no endOfInput=+∞ flush:
    * a signup whose window is still open at the final watermark is NOT a
    * timeout (it is still in-flight state), which is the reference
    * CepOperator's own unbounded-stream behavior. */
  val qTwsCepTimeout: Q = Q(
    "q_tws_cep_timeout",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      TwsOps.withRocksDb(s) {
        implicit val enc: Encoder[CepTimeoutRow] = Encoders.product[CepTimeoutRow]
        val pat = Pattern.begin[Ev]("a")(_.event_type == "signup")
          .followedBy("b")(_.event_type == "purchase")
          .within(2L * 3600 * 1000000)
          .afterMatchSkip(AfterMatch.NoSkip)
        val out = streamingMatchesWithTimeoutsTws(evStream(s, dir), pat)
          .filter(_.is_timeout)
          .map(t => CepTimeoutRow(t.user_id, t.a_id))
          .toDF()
        StreamingOps.runToMemory(s, out, "append", "graft_tws_cep_timeout")
          .orderBy($"user_id", $"a_id")
      }
    },
    Some("""WITH wm AS (SELECT max(epoch_us(ts))//1000 AS wm_ms FROM events)
           |SELECT s.user_id, s.event_id AS a_id
           |FROM events s, wm
           |WHERE s.event_type = 'signup'
           |  AND NOT EXISTS (
           |    SELECT 1 FROM events p
           |    WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
           |      AND p.event_id > s.event_id
           |      AND epoch_us(p.ts) - epoch_us(s.ts) < 7200000000)
           |  AND (
           |    EXISTS (SELECT 1 FROM events e
           |            WHERE e.user_id = s.user_id
           |              AND epoch_us(e.ts) - epoch_us(s.ts) >= 7200000000)
           |    OR wm.wm_ms >= (epoch_us(s.ts) + 7200000000 + 999)//1000)
           |ORDER BY s.user_id, a_id""".stripMargin))

  val all: Seq[Q] = Seq(qTwsCep, qTwsCepTimeout)
}
