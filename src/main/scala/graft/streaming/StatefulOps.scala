package graft.streaming

import graft.Q
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming specials (reference §2 "real engineering" bucket):
  * operators Spark lacks natively, built on flatMapGroupsWithState — the
  * Spark analogue of the reference's KeyedProcessFunction
  * (flink-streaming-java/.../functions/KeyedProcessFunction.java) with keyed
  * state in Spark's StateStore instead of Flink state backends.
  *
  *  - streaming TopN            (reference operators/rank/AppendOnlyTopNFunction.java:48)
  *  - dedup keep-last           (reference operators/deduplicate/DeduplicateKeepLastRowFunction.java)
  *  - streaming OVER aggregate  (reference operators/over/RowTimeRowsUnboundedPrecedingFunction.java)
  *  - temporal / as-of join     (reference operators/join/temporal/TemporalRowTimeJoinOperator.java:72)
  *  - interval join             (built-in stream-stream join; reference
  *                               operators/join/interval/RowTimeIntervalJoin.java)
  *
  * Scale design: state is strictly per-key and O(1)/O(N)-bounded (top-N list,
  * last row, running sum, last version). Within each micro-batch, per-group
  * input is sorted by the event-order key before folding — the micro-batch
  * analogue of the reference's watermark-ordered timer firing.
  */
object StatefulOps {

  // ---- typed rows kept in state / emitted (Long micros, encoder-friendly)
  case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double, ts_us: Long)
  case class TopItem(value: Double, event_id: Long)
  case class TopState(items: List[TopItem])
  case class TopOut(event_type: String, rn: Int, event_id: Long, value: Double)
  case class LastState(event_id: Long, value: Double)
  case class LastOut(user_id: Long, event_type: String, event_id: Long, value: Double)
  case class SumState(total: Double)
  case class OverOut(event_id: Long, user_id: Long, running_sum: Double)
  case class SigState(value: Double)
  case class Tagged(event_id: Long, user_id: Long, value: Double, ts_us: Long, is_sig: Int)
  case class AsofOut(event_id: Long, last_signup_value: Option[Double])

  private def events(s: SparkSession, dir: String) = {
    import s.implicits._
    StreamingOps.streamTable(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value",
        unix_micros($"ts").as("ts_us"))
      .as[Ev]
  }

  /** Streaming TopN: keep the per-key top-3 by (value desc, event_id) in
    * state; emit the refreshed top list every batch (update mode). The
    * state write is diffed: a batch whose rows all lose to the incumbents
    * leaves the store untouched (the hot-key case). */
  def topN(ds: org.apache.spark.sql.Dataset[Ev]): org.apache.spark.sql.Dataset[TopOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Ev], state: GroupState[TopState]) =>
          val cur = state.getOption.map(_.items).getOrElse(Nil)
          val merged = (cur ++ it.map(e => TopItem(e.value, e.event_id)))
            .sortBy(i => (-i.value, i.event_id)).take(3)
          if (merged != cur) state.update(TopState(merged))
          merged.zipWithIndex.map { case (i, idx) =>
            TopOut(key, idx + 1, i.event_id, i.value)
          }.iterator
      }
  }

  /** q_stream_topn and q_tws_topn: [[topN]] per event type, each name into
    * its own memory-sink table. */
  private def topNQuery(name: String): Q = Q(
    name,
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      StreamingOps.runToMemory(s, topN(events(s, dir)).toDF(), "update",
        StreamingOps.sinkName(name))
        .orderBy($"event_type", $"rn")
    },
    Some("""SELECT event_type, rn, event_id, value FROM (
           |  SELECT event_type, CAST(row_number() OVER (PARTITION BY event_type
           |           ORDER BY value DESC, event_id) AS INTEGER) AS rn,
           |         event_id, value
           |  FROM events) WHERE rn <= 3
           |ORDER BY event_type, rn""".stripMargin))

  val qStreamTopN: Q = topNQuery("q_stream_topn")
  val qTwsTopN: Q = topNQuery("q_tws_topn")

  /** Dedup keep-last per (user_id, event_type) — the variant Spark's
    * streaming dropDuplicates cannot express (it keeps first). The state
    * is written only when the kept row changes. */
  def dedupLast(ds: org.apache.spark.sql.Dataset[Ev]): org.apache.spark.sql.Dataset[LastOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[Ev], state: GroupState[LastState]) =>
          val prior = state.getOption
          val last = (prior.map(s0 => Ev(s0.event_id, key._1, key._2, s0.value, 0L)) ++ it)
            .maxBy(_.event_id)
          val keep = LastState(last.event_id, last.value)
          if (!prior.contains(keep)) state.update(keep)
          Iterator.single(LastOut(key._1, key._2, last.event_id, last.value))
      }
  }

  /** q_stream_dedup_last and q_tws_dedup_last: [[dedupLast]] of the events
    * fixture. */
  private def dedupLastQuery(name: String): Q = Q(
    name,
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      StreamingOps.runToMemory(s, dedupLast(events(s, dir)).toDF(), "update",
        StreamingOps.sinkName(name))
        .orderBy($"user_id", $"event_type")
    },
    Some("""SELECT user_id, event_type, event_id, value FROM (
           |  SELECT user_id, event_type, event_id, value,
           |         row_number() OVER (PARTITION BY user_id, event_type
           |                            ORDER BY event_id DESC) AS rn
           |  FROM events) WHERE rn = 1
           |ORDER BY user_id, event_type""".stripMargin))

  val qStreamDedupLast: Q = dedupLastQuery("q_stream_dedup_last")
  val qTwsDedupLast: Q = dedupLastQuery("q_tws_dedup_last")

  /** Streaming OVER aggregate: per-row running sum per user, rows ordered by
    * event_id (arrival order). Each input row is emitted exactly once with
    * the running total — append mode. */
  val qStreamOver: Q = Q(
    "q_stream_over",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val out = events(s, dir)
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key: Long, it: Iterator[Ev], state: GroupState[SumState]) =>
            var total = state.getOption.map(_.total).getOrElse(0.0)
            val outRows = it.toSeq.sortBy(_.event_id).map { e =>
              total += e.value
              // HALF_UP to match both the oracle's round() and Spark's
              // (math.rint is half-even and flips .xx5 boundaries)
              OverOut(e.event_id, key,
                BigDecimal(total).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }
            state.update(SumState(total))
            outRows.iterator
        }.toDF()
      StreamingOps.runToMemory(s, out, "append", "graft_stream_over")
        .orderBy($"user_id", $"event_id")
    },
    Some("""SELECT event_id, user_id,
           |       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  case class SigVer(value: Double, tsMs: Long)

  /** Temporal as-of join with VERSION-STATE TTL (reference
    * TemporalRowTimeJoinOperator.java:72 + StateTtlConfig.java:51): per user,
    * state holds the latest signup version; purchases are joined against it.
    * Within a batch, rows are processed in (ts, signup-first, event_id)
    * order — matching FOR SYSTEM_TIME AS OF <= semantics. The version state
    * expires `ttlMs` after its OWN event time (event-time timer driven by
    * the watermark, so abandoned keys are cleared without traffic); a fresh
    * signup re-arms the timer — the reference's OnReadAndWrite TTL update. */
  def asofWithTtl(ds: org.apache.spark.sql.Dataset[Tagged], ttlMs: Long)
      : org.apache.spark.sql.Dataset[AsofOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    TimerOps.processWithTimersBy[Long, Tagged, SigVer, AsofOut, (Long, Int, Long)](ds)(
      _.user_id, t => (t.ts_us, 1 - t.is_sig, t.event_id))(
      onElement = (_, t, st, ctx) => {
        if (t.is_sig == 1) {
          st.foreach(v => ctx.deleteTimer(v.tsMs + ttlMs)) // re-arm on update
          val tsMs = t.ts_us / 1000
          ctx.registerTimer(tsMs + ttlMs)
          (Some(SigVer(t.value, tsMs)), Nil)
        } else (st, Seq(AsofOut(t.event_id, st.map(_.value))))
      },
      onTimer = (_, fired, st, _) =>
        // clear only when the CURRENT version is the one this timer guards
        // (a re-armed key's stale timer must not kill the fresh version)
        if (st.exists(v => v.tsMs + ttlMs <= fired)) (None, Nil) else (st, Nil))
  }

  /** q_stream_asof and q_tws_asof: streaming temporal (as-of) join through
    * [[asofWithTtl]] — the retention knob is wired (10 years here: the
    * fixture spans days, so no version expires and the batch oracle is
    * unchanged; deployments size it to their key-idle horizon). TTL expiry
    * itself is asserted in AsofTtlSpec. */
  private def asofQuery(name: String): Q = Q(
    name,
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      // the event-time watermark must SURVIVE down to the stateful op
      // (Spark rejects event-time timeouts otherwise): stay UNTYPED until
      // the final .as[Tagged] — a typed map in between would re-serialize
      // and drop the watermark tag
      val tagged = StreamingOps.streamTable(s, dir, "events")
        .where(col("event_type").isin("signup", "purchase"))
        .select($"event_id", $"user_id", $"value", unix_micros($"ts").as("ts_us"),
          when($"event_type" === "signup", 1).otherwise(0).as("is_sig"), $"ts")
        .withWatermark("ts", "0 seconds")
        .as[Tagged]
      val out = asofWithTtl(tagged, ttlMs = 10L * 365 * 86400 * 1000).toDF()
      StreamingOps.runToMemory(s, out, "append", StreamingOps.sinkName(name))
        .orderBy($"event_id")
    },
    Some("""SELECT a.event_id,
           |  (SELECT arg_max(b.value, printf('%020d-%012d', epoch_us(b.ts), b.event_id))
           |   FROM events b
           |   WHERE b.user_id = a.user_id AND b.event_type = 'signup'
           |     AND b.ts <= a.ts) AS last_signup_value
           |FROM events a WHERE a.event_type = 'purchase'
           |ORDER BY a.event_id""".stripMargin))

  val qStreamAsof: Q = asofQuery("q_stream_asof")
  val qTwsAsof: Q = asofQuery("q_tws_asof")

  /** Stream-stream interval join (built-in; reference RowTimeIntervalJoin):
    * purchase ⋈ same-user clicks in the preceding 10 minutes. Watermarks
    * bound both sides' state. */
  val qStreamIntervalJoin: Q = Q(
    "q_stream_interval_join",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val ev = StreamingOps.streamTable(s, dir, "events")
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = ev.filter($"event_type" === "click")
        .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"))
        .select($"p_id", $"c_id")
      StreamingOps.runToMemory(s, joined, "append", "graft_stream_ij")
        .orderBy($"p_id", $"c_id")
    },
    Some("""SELECT a.event_id AS p_id, b.event_id AS c_id
           |FROM events a JOIN events b
           |  ON a.user_id = b.user_id
           | AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts
           |WHERE a.event_type = 'purchase' AND b.event_type = 'click'
           |ORDER BY p_id, c_id""".stripMargin))

  // ---- changelog TopN (explicit row_kind output)

  case class TopChange(event_type: String, row_kind: String, rn: Int,
      event_id: Long, value: Double)

  /** Streaming TopN emitting an explicit changelog — the reference's
    * retraction stream made visible (RowKind.java:27 +I/-U/+U/-D;
    * RetractableTopNFunction.java). Spark's update mode only carries the
    * condensed +U view, so operators feeding downstream consumers that need
    * retractions materialize a row_kind column, exactly as SURVEY §1.2 plans.
    * Per batch and key: diff of old vs new top-3 by rank position; a batch
    * whose rows all lose to the incumbents emits nothing and leaves the
    * store untouched. */
  def topNChangelog(ds: org.apache.spark.sql.Dataset[Ev])
      : org.apache.spark.sql.Dataset[TopChange] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Ev], state: GroupState[TopState]) =>
          val old = state.getOption.map(_.items).getOrElse(Nil)
          val merged = (old ++ it.map(e => TopItem(e.value, e.event_id)))
            .sortBy(i => (-i.value, i.event_id)).take(3)
          if (merged != old) state.update(TopState(merged))
          (0 until math.max(old.size, merged.size)).iterator.flatMap { r =>
            (old.lift(r), merged.lift(r)) match {
              case (None, Some(n)) =>
                Seq(TopChange(key, "+I", r + 1, n.event_id, n.value))
              case (Some(o), Some(n)) if o != n =>
                Seq(TopChange(key, "-U", r + 1, o.event_id, o.value),
                  TopChange(key, "+U", r + 1, n.event_id, n.value))
              case (Some(o), None) =>
                Seq(TopChange(key, "-D", r + 1, o.event_id, o.value))
              case _ => Nil
            }
          }
      }
  }

  // ---- temporal sort + TTL (library ops, harness-tested with MemoryStream)

  case class EvT(event_id: Long, user_id: Long, value: Double, ts: java.sql.Timestamp)

  /** µs-precision epoch of a Timestamp (getTime is ms-truncated; getNanos
    * carries the sub-second). ONE copy — every operator that orders or
    * frames by event time must agree on the precision. */
  private[streaming] def usOf(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  case class SortBuf(evs: List[EvT])

  /** Temporal (event-time) sort — reference StreamExecTemporalSort.scala /
    * RowTimeSortOperator.java: buffer per key, release rows in ts order once
    * the watermark has passed them. Input must carry a watermark on `ts`
    * (withWatermark upstream); append mode.
    *
    * Built on [[TimerOps.processWithTimers]]: each buffered row registers an
    * event-time timer at its own timestamp (exactly the reference operator's
    * registerEventTimeTimer in RowTimeSortOperator.java:88), so buffered
    * rows are released when the WATERMARK passes them — even if this key
    * never receives another row (the NoTimeout version only released on new
    * per-key data). Timers fire in timestamp order, so so does the output. */
  def temporalSort(ds: org.apache.spark.sql.Dataset[EvT]): org.apache.spark.sql.Dataset[EvT] = {
    val spark = ds.sparkSession
    import spark.implicits._
    TimerOps.processWithTimers[Long, EvT, SortBuf, EvT](ds)(_.user_id, _.event_id)(
      onElement = (_, e, st, ctx) => {
        ctx.registerTimer(e.ts.getTime)
        (Some(SortBuf(e :: st.map(_.evs).getOrElse(Nil))), Nil)
      },
      onTimer = (_, t, st, _) => {
        val buf = st.map(_.evs).getOrElse(Nil)
        val (ready, rest) = buf.partition(_.ts.getTime <= t)
        (if (rest.isEmpty) None else Some(SortBuf(rest)),
          // µs order: ms-truncated getTime would release same-millisecond
          // rows out of event-time order (see the OVER operators' note)
          ready.sortBy(e => (usOf(e.ts), e.event_id)))
      })
  }

  /** Per-key state of the bounded-preceding OVER operators: `pending` rows
    * wait for the watermark; `emitted` rows were released but a future
    * frame can still reference them, kept in (µs, event_id) order. A row
    * counts as emitted because it is in `emitted`, not because of its
    * millisecond: a late-admitted sub-millisecond row in an already
    * released millisecond lands in `pending` and is emitted once, alone. */
  case class OverBuf(pending: List[EvT], emitted: List[EvT])
  case class RangeOut(event_id: Long, user_id: Long, range_sum: Double)

  /** The emit rule both bounded OVER operators share, on
    * [[TimerOps.processWithTimers]]. Each arrival joins `pending` and
    * registers an EMIT timer at its floor-ms timestamp (Spark's watermark
    * is the µs max event time truncated down to ms, so a rounded-UP timer
    * would never fire for the stream's last row), plus the operator's own
    * `evictAt` timer. A firing at `t` releases every pending row with
    * ts <= max(t, watermark) in ONE drain and deletes those rows' emit
    * timers, so a watermark advance past k distinct milliseconds costs one
    * sort of the key's rows, not k. `frames` computes the released rows'
    * outputs over the emitted history plus the released slice (still
    * pending rows all lie after it, so no released frame can reference
    * them); `retain` keeps the emitted rows a future frame can still
    * reference, given the rows still pending and the µs watermark. */
  private def overPreceding(ds: org.apache.spark.sql.Dataset[EvT])(
      evictAt: EvT => Option[Long],
      frames: (Long, List[EvT], List[EvT]) => List[RangeOut],
      retain: (List[EvT], List[EvT], Long) => List[EvT])
      : org.apache.spark.sql.Dataset[RangeOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    TimerOps.processWithTimers[Long, EvT, OverBuf, RangeOut](ds)(_.user_id, _.event_id)(
      onElement = (_, e, st, ctx) => {
        ctx.registerTimer(e.ts.getTime)
        evictAt(e).foreach(ctx.registerTimer)
        val buf = st.getOrElse(OverBuf(Nil, Nil))
        (Some(buf.copy(pending = e :: buf.pending)), Nil)
      },
      onTimer = (key, t, st, ctx) => {
        val buf = st.getOrElse(OverBuf(Nil, Nil))
        val releaseUpTo = math.max(t, ctx.watermarkMs)
        val (released, pending) = buf.pending.partition(_.ts.getTime <= releaseUpTo)
        // timers fire only at or below the watermark, so an evict timer
        // sharing a deleted value guards rows this drain evicts anyway
        released.iterator.map(_.ts.getTime).distinct.foreach(ctx.deleteTimer)
        val due = OverFrames.canon(released)
        val ordered = if (due.isEmpty) buf.emitted else OverFrames.canon(buf.emitted ++ due)
        val out = if (due.isEmpty) Nil else frames(key, due, ordered)
        val emitted = retain(ordered, pending, ctx.watermarkMs * 1000)
        (if (pending.isEmpty && emitted.isEmpty) None else Some(OverBuf(pending, emitted)), out)
      })
  }

  /** Streaming OVER with a time-RANGE bounded-preceding frame — reference
    * operators/over/RowTimeRangeBoundedPrecedingFunction.java:1: for each
    * row, once the watermark passes its timestamp, emit the aggregate over
    * the key's rows in [ts − range, ts] (inclusive both ends = SQL
    * `RANGE BETWEEN <range> PRECEDING AND CURRENT ROW`, peers included).
    *
    * Built on [[overPreceding]]; besides the emit timer each row registers
    * an EVICT timer at floor-ms + 1 of its frame-exit point ts + range, so
    * it fires strictly after the row left every possible future frame and
    * the state shrinks as the watermark advances even if the key never
    * sees another row (the reference's cleanup timer). Frame math is in
    * MICROSECONDS (event timestamps carry µs precision; ms-truncated frames
    * would disagree with a µs-precision oracle at the boundaries).
    *
    * State per key = rows inside the trailing `range` window + 2 timers per
    * row — the same bound as the reference operator's MapState<ts, rows>. */
  def overRangePreceding(ds: org.apache.spark.sql.Dataset[EvT], rangeUs: Long)
      : org.apache.spark.sql.Dataset[RangeOut] =
    overPreceding(ds)(
      evictAt = e => Some(math.floorDiv(usOf(e.ts) + rangeUs, 1000L) + 1),
      frames = (key, due, ordered) => OverFrames.rangeSums(key, due, ordered, rangeUs),
      retain = (ordered, pending, wmUs) => {
        // an emitted row survives only while a pending row's frame, or a
        // possible future arrival above the watermark, can still reference
        // it; frame exits grow with the row, so the evicted rows are a
        // prefix of the ordered history
        val minPendingUs = pending.iterator.map(e => usOf(e.ts)).minOption
          .getOrElse(Long.MaxValue)
        val bound = math.min(minPendingUs, wmUs)
        ordered.dropWhile(e => usOf(e.ts) + rangeUs < bound)
      })

  /** Streaming OVER with a ROWS bounded-preceding frame — reference
    * operators/over/RowTimeRowsBoundedPrecedingFunction.java: per row, once
    * the watermark passes its timestamp, emit the aggregate over the last
    * `nRows` rows up to and including it in total (ts, event_id) order
    * (SQL `ROWS BETWEEN nRows-1 PRECEDING AND CURRENT ROW`).
    *
    * State per key is count-bounded (the reference operator's
    * retract-when-full List<RowData> state), so no evict timers are needed:
    * after each drain the emitted history keeps the rows above the µs
    * watermark plus the nRows−1 rows before them. A bare takeRight(nRows−1)
    * is not enough: a FUTURE row (late-admissible = usOf above the µs
    * watermark) may slot between already-emitted rows above the watermark,
    * and its frame then needs the nRows−1 rows BEFORE that region too
    * (r10 review). */
  def overRowsPreceding(ds: org.apache.spark.sql.Dataset[EvT], nRows: Int)
      : org.apache.spark.sql.Dataset[RangeOut] =
    overPreceding(ds)(
      evictAt = _ => None,
      frames = (key, due, ordered) => OverFrames.rowsSums(key, due, ordered, nRows),
      retain = (ordered, _, wmUs) => {
        val (aboveWm, belowWm) = ordered.partition(e => usOf(e.ts) > wmUs)
        belowWm.takeRight(nRows - 1) ++ aboveWm
      })

  /** The events as [[EvT]] with a 0-delay watermark on `ts`, so the final
    * no-data micro-batch's watermark releases every buffered row. */
  private[streaming] def eventsT(s: SparkSession, dir: String) = {
    import s.implicits._
    StreamingOps.streamTable(s, dir, "events")
      .withWatermark("ts", "0 seconds")
      .select($"event_id", $"user_id", $"value", $"ts").as[EvT]
  }

  /** q_stream_over_rows and q_tws_over_rows: ROWS bounded-preceding OVER as
    * an oracle-checked query — sum of the last 3 values per user in
    * (ts, event_id) order; the tie-broken total order makes the SQL ROWS
    * frame deterministic cross-engine. */
  private def overRowsQuery(name: String): Q = Q(
    name,
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val out = overRowsPreceding(eventsT(s, dir), nRows = 3).toDF()
      StreamingOps.runToMemory(s, out, "append", StreamingOps.sinkName(name))
        .orderBy($"user_id", $"event_id")
    },
    Some("""SELECT event_id, user_id,
           |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS range_sum
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  val qStreamOverRows: Q = overRowsQuery("q_stream_over_rows")
  val qTwsOverRows: Q = overRowsQuery("q_tws_over_rows")

  case class SeenAt(firstTsMs: Long)

  /** Keyed dedup with event-time TTL — reference StateTtlConfig.java:51 +
    * DeduplicateKeepFirstRowFunction: a key's dedup state expires `ttlMs`
    * after its first event (event time, driven by the watermark), after
    * which the key may be emitted again.
    *
    * Built on [[TimerOps.processWithTimers]]: the TTL is an event-time timer
    * that clears the seen-marker when it fires. Because due timers fire
    * BEFORE the batch's elements, a key that reappears in the same batch the
    * watermark passed its expiry is correctly re-admitted — the inline
    * expiry check the NoTimeout version needed is gone. */
  def dedupFirstWithTtl(ds: org.apache.spark.sql.Dataset[EvT], ttlMs: Long)
      : org.apache.spark.sql.Dataset[EvT] = {
    val spark = ds.sparkSession
    import spark.implicits._
    // composite within-batch ordering (µs ts, then id): a packed
    // `ms*1e6 + id` Long collides across milliseconds once id >= 1e6 and
    // can emit the WRONG row as the key's first
    TimerOps.processWithTimersBy[Long, EvT, SeenAt, EvT, (Long, Long)](ds)(
      _.user_id, e => (usOf(e.ts), e.event_id))(
      onElement = (_, e, st, ctx) => st match {
        case Some(_) => (st, Nil) // within TTL: suppress
        case None =>
          ctx.registerTimer(e.ts.getTime + ttlMs)
          (Some(SeenAt(e.ts.getTime)), Seq(e))
      },
      onTimer = (_, _, _, _) => (None, Nil)) // TTL expired: forget the key
  }

  /** Streaming temporal sort as an oracle-checked query: watermark delay 0
    * so the final no-data micro-batch's watermark (= max event time) releases
    * every buffered row through the timer service — output is the full event
    * set, each row emitted exactly once in per-key timestamp order. */
  val qStreamTemporalSort: Q = Q(
    "q_stream_temporal_sort",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val out = temporalSort(eventsT(s, dir)).toDF()
        .select($"event_id", $"user_id", $"value", unix_micros($"ts").as("ts_us"))
      StreamingOps.runToMemory(s, out, "append", "graft_stream_temporal_sort")
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, value,
           |       CAST(epoch_us(ts) AS BIGINT) AS ts_us
           |FROM events ORDER BY event_id""".stripMargin))

  /** q_stream_over_range and q_tws_over_range: time-RANGE bounded OVER as
    * an oracle-checked query — trailing 1-hour sum of `value` per user,
    * "sum over the preceding hour per row", the most common streaming-OVER
    * shape. The oracle is the literal SQL RANGE frame. */
  private def overRangeQuery(name: String): Q = Q(
    name,
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val out = overRangePreceding(eventsT(s, dir), rangeUs = 3600L * 1000000).toDF()
      StreamingOps.runToMemory(s, out, "append", StreamingOps.sinkName(name))
        .orderBy($"user_id", $"event_id")
    },
    Some("""SELECT event_id, user_id,
           |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
           |         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
           |         AS range_sum
           |FROM events ORDER BY user_id, event_id""".stripMargin))

  val qStreamOverRange: Q = overRangeQuery("q_stream_over_range")
  val qTwsOverRange: Q = overRangeQuery("q_tws_over_range")

  /** Changelog TopN as an oracle-checked query: over a single data batch the
    * emitted changelog is exactly the +I rows of the final per-type top-3
    * (the multi-batch retraction sequence is pinned in
    * TwsChangelogTopNSpec). q_changelog_topn and q_tws_changelog_topn both
    * run it, each into its own memory-sink table. */
  private def changelogTopNQuery(name: String): Q = Q(
    name,
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val out = topNChangelog(events(s, dir)).toDF()
      StreamingOps.runToMemory(s, out, "append", StreamingOps.sinkName(name))
        .orderBy($"event_type", $"rn")
    },
    Some("""SELECT event_type, '+I' AS row_kind,
           |       CAST(row_number() OVER (PARTITION BY event_type
           |         ORDER BY value DESC, event_id) AS INTEGER) AS rn,
           |       event_id, value
           |FROM events QUALIFY rn <= 3
           |ORDER BY event_type, rn""".stripMargin))

  val qChangelogTopN: Q = changelogTopNQuery("q_changelog_topn")
  val qTwsChangelogTopN: Q = changelogTopNQuery("q_tws_changelog_topn")

  val all: Seq[Q] = Seq(
    qStreamTopN, qStreamDedupLast, qStreamOver, qStreamAsof, qStreamIntervalJoin,
    qStreamTemporalSort, qChangelogTopN, qStreamOverRange, qStreamOverRows,
    qTwsTopN, qTwsDedupLast, qTwsChangelogTopN, qTwsOverRange, qTwsOverRows,
    qTwsAsof)
}
