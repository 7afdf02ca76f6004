package graft

import graft.streaming.ChangelogJoin
import graft.streaming.ChangelogJoin.{Change, JoinedChange}
import graft.streaming.{StatefulOps, TwsOps}
import graft.streaming.StatefulOps.{Ev, EvT}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Hot-key soak for the stateful operators — the evidence behind the
  * "survives 100×" claim: ONE key receiving tens of thousands of rows
  * across many micro-batches must keep state BOUNDED (by the operator's
  * own retention rule, not the stream length) and drain in time linear in
  * the input. The transformWithState families run on RocksDB; the
  * small-state families (dedup keep-first and keep-last, TopN, changelog
  * TopN) run on flatMapGroupsWithState / dropDuplicates with the default
  * store. Wall-clock bounds are generous (load-tolerant) but far below
  * what quadratic per-firing behavior or unbounded state rewrite would
  * cost; exact run numbers are recorded in BENCH_NOTES.md. */
class TwsScaleSpec extends GraftSpec {

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum

  /** State rows written by the batches after the seed batch 0. */
  private def rowsUpdatedAfterSeed(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.filter(_.batchId >= 1)
      .map(_.stateOperators.map(_.numRowsUpdated).sum).sum

  /** Batch 0: three rows on one key that no later row beats; then 10 batches
    * of 5k losing rows on that key. */
  private def feedLosers(mem: MemoryStream[Ev], q: org.apache.spark.sql.streaming.StreamingQuery)
      : Double = {
    mem.addData(Ev(1, 1L, "click", 1e9, 0L), Ev(2, 1L, "click", 1e9 - 1, 0L),
      Ev(3, 1L, "click", 1e9 - 2, 0L))
    q.processAllAvailable()
    val t0 = System.nanoTime()
    for (b <- 1 to 10) {
      mem.addData((1 to 5000).map(i => Ev(b * 100000L + i, 1L, "click", i.toDouble, 0L)): _*)
      q.processAllAvailable()
    }
    (System.nanoTime() - t0) / 1e9
  }

  test("soak: dedup — 100k same-key rows across 10 batches keep ONE state row and ONE output") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = mem.toDF().toDF("user_id", "event_type").dropDuplicates("user_id", "event_type")
    val q = out.writeStream.format("memory")
      .queryName("soak_dedup").outputMode("append").start()
    try {
      val t0 = System.nanoTime()
      for (_ <- 1 to 10) {
        mem.addData(Seq.fill(10000)((1L, "click")): _*)
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(spark.table("soak_dedup").count() == 1)
      assert(stateRows(q) == 1, s"dedup state must be one row per distinct key, got ${stateRows(q)}")
      assert(secs < 120, s"100k-row dedup soak took $secs s")
      info(f"dedup soak: 100k rows / 10 batches in $secs%.1f s, state rows = ${stateRows(q)}")
    } finally q.stop()
  }

  test("soak: dedup-last — 50k older rows on one key keep ONE state row and never touch the store") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StatefulOps.dedupLast(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("soak_dedup_last").outputMode("update").start()
    try {
      // batch 0 holds the highest id; every later row is older, so the
      // kept row never changes and the diffed write skips the store
      mem.addData(Ev(10000000L, 1L, "click", 7.0, 0L))
      q.processAllAvailable()
      val t0 = System.nanoTime()
      for (b <- 1 to 10) {
        mem.addData((1 to 5000).map(i => Ev(b * 100000L + i, 1L, "click", i.toDouble, 0L)): _*)
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      // update mode emits the kept row once per touched batch
      val kept = spark.table("soak_dedup_last").select($"event_id", $"value")
        .as[(Long, Double)].collect()
      assert(kept.length == 11 && kept.forall(_ == ((10000000L, 7.0))), kept.toSeq)
      assert(stateRows(q) == 1, s"dedup-last state must be one row per key, got ${stateRows(q)}")
      assert(rowsUpdatedAfterSeed(q) == 0,
        s"older rows must not rewrite the kept row, got ${rowsUpdatedAfterSeed(q)} writes")
      assert(secs < 120, s"50k-row dedup-last soak took $secs s")
      info(f"dedup-last soak: 50k rows / 10 batches in $secs%.1f s, state rows = ${stateRows(q)}")
    } finally q.stop()
  }

  test("soak: TopN — 50k losing rows on one key keep ONE state row and never touch the store") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StatefulOps.topN(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("soak_topn").outputMode("update").start()
    try {
      val secs = feedLosers(mem, q)
      // update mode emits the unchanged top-3 once per touched batch
      val ids = spark.table("soak_topn").select($"event_id").as[Long].collect()
      assert(ids.length == 33 && ids.toSet == Set(1L, 2L, 3L), ids.toSeq)
      assert(stateRows(q) == 1, s"TopN state must be one top-list row, got ${stateRows(q)}")
      assert(rowsUpdatedAfterSeed(q) == 0,
        s"losing rows must not rewrite the top list, got ${rowsUpdatedAfterSeed(q)} writes")
      assert(secs < 120, s"50k-loser TopN soak took $secs s")
      info(f"TopN soak: 50k losers / 10 batches in $secs%.1f s, state rows = ${stateRows(q)}")
    } finally q.stop()
  }

  test("soak: temporal sort — 50k one-key rows drain in order with state emptied behind the watermark") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[EvT]
      val sorted = TwsOps.temporalSortTws(
        mem.toDS().withWatermark("ts", "0 seconds").as[EvT])
      val q = sorted.toDF().writeStream.format("memory")
        .queryName("tws_soak_sort").outputMode("append").start()
      try {
        val n = 50000; val batches = 10
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val start = b * (n / batches)
          mem.addData((start until start + n / batches).map(i =>
            EvT(i.toLong, 1L, 1.0, new Timestamp(base + i * 1000L))): _*)
          q.processAllAvailable()
        }
        mem.addData(EvT(n + 9L, 2L, 1.0, new Timestamp(base + 10L * n * 1000)))
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val got = spark.table("tws_soak_sort").where($"user_id" === 1L)
          .select($"event_id").collect().map(_.getLong(0))
        assert(got.length == n && got.sameElements(got.sorted),
          s"expected $n rows in order, got ${got.length}")
        // buffer drained behind the watermark: only per-key scalars remain
        assert(stateRows(q) <= 6, s"sort state must drain, got ${stateRows(q)}")
        assert(secs < 120, s"50k-row sort soak took $secs s")
        info(f"temporal-sort soak: $n rows / $batches batches in $secs%.1f s, state rows = ${stateRows(q)}")
      } finally q.stop()
    }
  }

  test("soak: OVER range — 50k one-key rows keep only the trailing window in state") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[EvT]
      val out = TwsOps.overRangeTws(
        mem.toDS().withWatermark("ts", "0 seconds").as[EvT],
        rangeUs = 60L * 1000000)
      val q = out.toDF().writeStream.format("memory")
        .queryName("tws_soak_over").outputMode("append").start()
      try {
        val n = 50000; val batches = 10
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val start = b * (n / batches)
          mem.addData((start until start + n / batches).map(i =>
            EvT(i.toLong + 1, 1L, (i % 10).toDouble, new Timestamp(base + i * 1000L))): _*)
          q.processAllAvailable()
        }
        mem.addData(EvT(0L, 2L, 1.0, new Timestamp(base + 10L * n * 1000)))
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        assert(spark.table("tws_soak_over").where($"user_id" === 1L).count() == n)
        // retention = the trailing 60 s window (61 rows at 1 s spacing) in
        // per-ms buckets + pending boundary + scalars — NOT the stream
        assert(stateRows(q) <= 80,
          s"OVER state must be window-bounded, got ${stateRows(q)}")
        assert(secs < 180, s"50k-row OVER soak took $secs s")
        info(f"over-range soak: $n rows / $batches batches in $secs%.1f s, state rows = ${stateRows(q)}")
      } finally q.stop()
    }
  }

  test("soak: changelog aggregate — 50k churning changes on one key keep state at the live multiset") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ChangelogAgg
    import graft.streaming.ChangelogAgg.{AggChange, AggOut}
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[AggChange[Long]]
      val out = ChangelogAgg.aggTws(mem.toDS())
      val emitted = new java.util.concurrent.atomic.AtomicLong
      val q = out.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[AggOut[Long]], _: Long) =>
          emitted.addAndGet(batch.count()); ()
      }.start()
      try {
        // 50 permanent live values, then 10 batches of 5k fully-churning
        // +I/-D pairs — the multiset MapState must stay at the 50 live
        // values (diff write-back: churned values net to zero and never
        // touch RocksDB), and each batch folds to ZERO emissions because
        // the aggregate's result is unchanged
        var seq = 0L
        def nxt(): Long = { seq += 1; seq }
        mem.addData((0 until 50).map(i => AggChange(1L, nxt(), "+I", 1000.0 + i)): _*)
        q.processAllAvailable()
        val t0 = System.nanoTime()
        for (_ <- 1 to 10) {
          mem.addData((0 until 2500).flatMap { i =>
            val v = 2000.0 + (i % 50)
            Seq(AggChange(1L, nxt(), "+I", v), AggChange(1L, nxt(), "-D", v))
          }: _*)
          q.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        // 50 multiset rows + scalars (+ timer bookkeeping margin)
        assert(stateRows(q) <= 60,
          s"aggregate state must be the live multiset, got ${stateRows(q)}")
        // one +I from the seed batch; churn batches net to no change
        assert(emitted.get() == 1, s"expected 1 emission, got ${emitted.get()}")
        assert(secs < 120, s"50k-change aggregate soak took $secs s")
        info(f"changelog-agg soak: 50k churn changes / 10 batches in $secs%.1f s, " +
          s"state rows = ${stateRows(q)}")
      } finally q.stop()
    }
  }

  test("soak: CEP — 50k one-key events with partial matches alive keep the run set window-bounded") {
    // the known CEP blow-up mode: NoSkip + a followedBy that never
    // completes means EVERY event spawns an in-flight run; only `within`
    // pruning (reference NFAState advanceTime) bounds the run set. 50k
    // "S" events at 1 s spacing with within=60 s must hold live runs at
    // ~61 (the trailing window), emit one timeout per expired run, and
    // drain linearly — unbounded runs would be O(n²) NFA steps and an
    // O(n) state rewrite per firing.
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.cep.{AfterMatch, CepTws, Pattern}
    TwsOps.withRocksDb(spark) {
      val B = 3600000000L
      val mem = MemoryStream[Ev]
      val pat = Pattern.begin[Ev]("s")(_.event_type == "S")
        .followedBy("p")(_.event_type == "P")
        .within(60L * 1000000)
        .afterMatchSkip(AfterMatch.NoSkip)
      val out = CepTws.streamingMatchesWithTimeoutsTws(mem.toDS(), pat)
      val timeouts = new java.util.concurrent.atomic.AtomicLong
      val q = out.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.cep.CepOps.CepStreamOut], _: Long) =>
          timeouts.addAndGet(batch.filter(_.is_timeout).count()); ()
      }.start()
      try {
        val n = 50000; val batches = 10
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val start = b * (n / batches)
          mem.addData((start until start + n / batches).map(i =>
            Ev(i.toLong + 1, 1L, "S", 0.0, B + i * 1000000L)): _*)
          q.processAllAvailable()
          // mid-stream pin: live runs stay at the trailing 60 s window
          // (~61) + released-buffer remainder — never the events so far
          assert(stateRows(q) <= 150,
            s"run set must stay window-bounded mid-stream, got ${stateRows(q)} after batch $b")
        }
        // far-future other-key event drives the watermark past every window
        mem.addData(Ev(0L, 2L, "X", 0.0, B + 10L * n * 1000000))
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        assert(timeouts.get() == n, s"every run must time out, got ${timeouts.get()}")
        // key 1 fully drained: only key 2's buffered event + scalars remain
        assert(stateRows(q) <= 10,
          s"CEP run/buffer state must drain, got ${stateRows(q)}")
        assert(secs < 240, s"50k-event CEP soak took $secs s")
        info(f"CEP soak: $n events / $batches batches in $secs%.1f s, " +
          s"state rows = ${stateRows(q)}, timeouts = ${timeouts.get()}")
      } finally q.stop()
    }
  }

  test("soak: ordered changelog aggregate — 20k live instances absorb a 10k-retraction churn batch") {
    // discriminates the r12 per-value seq index: a find()-scan retraction
    // was O(batch x live) — 10k retractions against 20k live instances is
    // ~200M tuple comparisons per batch; the index does it in O(batch log n)
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ChangelogAgg
    import graft.streaming.ChangelogAgg.AggChange
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[AggChange[Long]]
      val out = ChangelogAgg.aggOrderedTws(mem.toDS())
      val q = out.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[ChangelogAgg.OrdOut[Long]], _: Long) =>
          batch.count(); ()
      }.start()
      try {
        val live = 20000
        mem.addData((0 until live).map(i =>
          AggChange(1L, i.toLong, "+I", (i % 500).toDouble)): _*)
        q.processAllAvailable()
        val t0 = System.nanoTime()
        // churn: retract 10k oldest instances and re-insert fresh ones
        mem.addData((0 until 5000).flatMap { i =>
          val v = (i % 500).toDouble
          Seq(AggChange(1L, (live + 2 * i).toLong, "-U", v),
            AggChange(1L, (live + 2 * i + 1).toLong, "+U", v))
        }: _*)
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        assert(stateRows(q) <= live + 5, s"state must stay at live instances, got ${stateRows(q)}")
        assert(secs < 60, s"10k-churn ordered-agg batch took $secs s (index regression?)")
        info(f"ordered-agg churn soak: $live live + 10k churn in $secs%.1f s, " +
          s"state rows = ${stateRows(q)}")
      } finally q.stop()
    }
  }

  test("soak: count-trigger window — 50k one-key events keep the buffer at the evictor bound") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TriggerWindows
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      val out = TriggerWindows.countWindowTws[Long, Ev, (Long, Long, Double)](
        mem.toDS())(_.user_id, _.event_id)(10, 5)(
        (k, w, t) => (k, t, w.map(_.value).sum))
      val fires = new java.util.concurrent.atomic.AtomicLong
      val q = out.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[(Long, Long, Double)], _: Long) =>
          fires.addAndGet(batch.count()); ()
      }.start()
      try {
        val n = 50000; val batches = 10
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val start = b * (n / batches)
          mem.addData((start until start + n / batches).map(i =>
            Ev(i.toLong + 1, 1L, "t", 1.0, (i + 1) * 1000000L)): _*)
          q.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        assert(fires.get() == n / 5, s"expected ${n / 5} fires, got ${fires.get()}")
        // buffer bounded by the CountEvictor(10) + scalars — never the stream
        assert(stateRows(q) <= 15,
          s"window buffer must stay evictor-bounded, got ${stateRows(q)}")
        assert(secs < 120, s"50k-event count-window soak took $secs s")
        info(f"count-window soak: $n events / $batches batches in $secs%.1f s, " +
          s"state rows = ${stateRows(q)}, fires = ${fires.get()}")
      } finally q.stop()
    }
  }

  test("soak: changelog join — 20k churning changes on one key leave only live rows in state") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[Change[Long, String, String]]
      val joined = ChangelogJoin.joinTws(mem.toDS())
      val counter = new java.util.concurrent.atomic.AtomicLong
      val q = joined.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[JoinedChange[Long, String, String]], _: Long) =>
          counter.addAndGet(batch.count()); ()
      }.start()
      try {
        // two permanent right rows; the left side churns +I v / -D v so the
        // live multiset never exceeds one row despite 20k total changes
        mem.addData(
          Change(1L, 0, 1, "+I", None, Some("r1")),
          Change(1L, 1, 1, "+I", None, Some("r2")))
        q.processAllAvailable()
        val nPairs = 10000; val batches = 4
        val t0 = System.nanoTime()
        var seq = 2L
        for (_ <- 1 to batches) {
          val changes = (1 to nPairs / batches).flatMap { i =>
            val v = s"v$i"
            val add = Change[Long, String, String](1L, seq, 0, "+I", Some(v), None)
            val del = Change[Long, String, String](1L, seq + 1, 0, "-D", Some(v), None)
            seq += 2
            Seq(add, del)
          }
          mem.addData(changes: _*)
          q.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        // every +I joins both right rows, every -D retracts both
        assert(counter.get() == 4L * nPairs,
          s"expected ${4L * nPairs} emissions, got ${counter.get()}")
        // state: 2 live right rows (+ per-key bookkeeping), NOT 20k
        assert(stateRows(q) <= 8,
          s"churned rows must leave state, got ${stateRows(q)}")
        assert(secs < 120, s"20k-change churn soak took $secs s")
        info(f"changelog-join soak: ${2 * nPairs} changes / $batches batches in $secs%.1f s, state rows = ${stateRows(q)}")
      } finally q.stop()
    }
  }

  test("soak: changelog TopN — 50k losing rows emit nothing and never touch the store") {
    // the hot-key case for a retractable rank is arrivals that LOSE to the
    // incumbents: the reference's RetractableTopNFunction pays a sorted-map
    // probe per row; here a losing batch must cost zero state writes and
    // zero output (the diffed state write), with state bounded at the
    // top-3 regardless of stream length
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StatefulOps.topNChangelog(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("soak_cltopn").outputMode("append").start()
    try {
      val secs = feedLosers(mem, q)
      // only the three seed +I rows ever emitted; state = the one top list
      assert(spark.table("soak_cltopn").count() == 3)
      assert(stateRows(q) == 1,
        s"changelog TopN state must be one top-list row, got ${stateRows(q)}")
      assert(rowsUpdatedAfterSeed(q) == 0,
        s"losing rows must not rewrite the top list, got ${rowsUpdatedAfterSeed(q)} writes")
      assert(secs < 120, s"50k-loser changelog TopN soak took $secs s")
      info(f"changelog TopN soak: 50k losers / 10 batches in $secs%.1f s, " +
        s"state rows = ${stateRows(q)}, emitted = 3")
    } finally q.stop()
  }

  test("soak: as-of TTL join — 50k one-key rows keep ONE version row and O(1) state calls per batch") {
    // alternating signup/purchase on one hot key: state must stay at the
    // single latest version (+ timer bookkeeping), and ingest must be
    // bounded by ONE ver write + one timer re-arm per batch — per-row
    // timer/state calls would cost the probed ~5 ms each (the appendValue
    // cliff) and push this soak into minutes
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulOps.{AsofOut, Tagged}
    TwsOps.withRocksDb(spark) {
      val baseUs = 1000000000L * 1000000L
      val mem = MemoryStream[Tagged]
      val withWm = mem.toDS()
        .withColumn("__ts", org.apache.spark.sql.functions.timestamp_micros($"ts_us"))
        .withWatermark("__ts", "0 seconds")
        .as[Tagged]
      val out = TwsOps.asofTtlTws(withWm, ttlMs = 10L * 365 * 86400 * 1000)
      val joined = new java.util.concurrent.atomic.AtomicLong
      val q = out.writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[AsofOut], _: Long) =>
          joined.addAndGet(batch.filter(_.last_signup_value.isDefined).count()); ()
      }.start()
      try {
        val n = 50000; val batches = 10
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val start = b * (n / batches)
          mem.addData((start until start + n / batches).map { i =>
            val isSig = if (i % 2 == 0) 1 else 0
            Tagged(i.toLong, 1L, i.toDouble, baseUs + i * 1000000L, isSig)
          }: _*)
          q.processAllAvailable()
          assert(stateRows(q) <= 6,
            s"as-of state must stay at one version, got ${stateRows(q)} after batch $b")
        }
        val secs = (System.nanoTime() - t0) / 1e9
        // every odd row is a purchase joining the even signup before it
        assert(joined.get() == n / 2, s"expected ${n / 2} joins, got ${joined.get()}")
        assert(secs < 120, s"50k-row as-of soak took $secs s")
        info(f"as-of soak: $n rows / $batches batches in $secs%.1f s, state rows = ${stateRows(q)}")
      } finally q.stop()
    }
  }
}
