package graft

import graft.streaming.StatefulOps.EvT
import graft.streaming.TwsOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Harness tests for the transformWithState temporal sort — the r9-ordered
  * migration of the fMGWS hot path onto ListState + native timers
  * (reference RowTimeSortOperator.java). Batch-by-batch assertions pin that
  * the ListState buffer carries across micro-batches and releases exactly
  * on watermark passage. */
class TwsTemporalSortSpec extends GraftSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def emittedIds(table: String): Seq[Long] =
    spark.table(table).collect().map(_.getAs[Long]("event_id")).toSeq

  test("tws temporal sort buffers across batches and releases watermark-complete rows in order") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[EvT]
      // a 90s watermark delay keeps each assertion away from the
      // wm==timer-expiry boundary (transformWithState runs a trailing
      // no-data batch per processAllAvailable and fires expiry ≤ wm)
      val sorted = TwsOps.temporalSortTws(
        mem.toDS().withWatermark("ts", "90 seconds").as[EvT])
      val q = sorted.toDF().writeStream.format("memory")
        .queryName("tws_tsort").outputMode("append").start()

      // batch 1: out-of-order arrivals; wm = 00:03:30 − 90s = 00:02:00 →
      // only the 00:01:30 row releases, the rest stay in ListState
      mem.addData(
        EvT(3, 1L, 3.0, ts("2024-01-01 00:03:30")),
        EvT(1, 1L, 1.0, ts("2024-01-01 00:01:30")),
        EvT(2, 1L, 2.0, ts("2024-01-01 00:02:30")))
      q.processAllAvailable()
      assert(emittedIds("tws_tsort") == Seq(1L),
        s"only the row below the watermark may release: ${emittedIds("tws_tsort")}")

      // batch 2: wm = 00:09 − 90s = 00:07:30 → the two rows buffered since
      // batch 1 release in event-time order; the 00:09 row stays
      mem.addData(EvT(9, 1L, 9.0, ts("2024-01-01 00:09:00")))
      q.processAllAvailable()
      assert(emittedIds("tws_tsort") == Seq(1L, 2L, 3L), emittedIds("tws_tsort"))

      // batch 3: wm = 00:28:30 → the carried 00:09 row releases — state
      // survived two batch boundaries and drained exactly once
      mem.addData(EvT(20, 2L, 1.0, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      assert(emittedIds("tws_tsort") == Seq(1L, 2L, 3L, 9L), emittedIds("tws_tsort"))
      q.stop()
    }
  }

  test("tws temporal sort orders same-millisecond rows by microseconds (parity with the fMGWS operator)") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[EvT]
      // 1-minute delay keeps the advancer row itself above the watermark
      val sorted = TwsOps.temporalSortTws(
        mem.toDS().withWatermark("ts", "1 minute").as[EvT])
      val q = sorted.toDF().writeStream.format("memory")
        .queryName("tws_tsort_us").outputMode("append").start()
      // 200µs row has the SMALLER id: an (ms, id) sort would emit it first
      mem.addData(
        EvT(5, 1L, 1.0, ts("2024-01-01 00:00:00.0002")),
        EvT(10, 1L, 2.0, ts("2024-01-01 00:00:00.0001")))
      q.processAllAvailable()
      mem.addData(EvT(99, 1L, 9.0, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      assert(emittedIds("tws_tsort_us") == Seq(10L, 5L), emittedIds("tws_tsort_us"))
      q.stop()
    }
  }

  test("a final event sharing its millisecond with an earlier batch still releases (due-on-arrival drain)") {
    // the r12 review's stuck-timer case: batch 1 sets wm to the event's
    // millisecond; batch 2 delivers a later-µs row in that SAME ms. Its
    // release timer would clamp to wm+1 and never fire (the stream ends),
    // so handleInputRows must drain inline when the arrival is already due.
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[EvT]
      val sorted = TwsOps.temporalSortTws(
        mem.toDS().withWatermark("ts", "0 seconds").as[EvT])
      val q = sorted.toDF().writeStream.format("memory")
        .queryName("tws_tsort_stuck").outputMode("append").start()
      try {
        def subMs(base: String, micros: Int): Timestamp = {
          val t = ts(base)
          t.setNanos(t.getNanos + micros * 1000)
          t
        }
        // batch 1: row A at ...:30.500200 → wm floors to ...:30.500
        mem.addData(EvT(1, 1L, 1.0, subMs("2024-01-01 00:00:30.5", 200)))
        q.processAllAvailable()
        // batch 2: row B at ...:30.500700 — same ms as the watermark, the
        // LAST event of the stream
        mem.addData(EvT(2, 1L, 2.0, subMs("2024-01-01 00:00:30.5", 700)))
        q.processAllAvailable()
        assert(emittedIds("tws_tsort_stuck").sorted == Seq(1L, 2L),
          s"final same-ms row stuck in state: ${emittedIds("tws_tsort_stuck")}")
      } finally q.stop()
    }
  }

  test("tws temporal sort keeps keys independent: one key's watermark release does not drain another's pending rows") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    TwsOps.withRocksDb(spark) {
      val mem = MemoryStream[EvT]
      // a 5-minute watermark DELAY keeps release decisions away from the
      // wm==timer-expiry boundary, so the assertions are unambiguous
      val sorted = TwsOps.temporalSortTws(
        mem.toDS().withWatermark("ts", "5 minutes").as[EvT])
      val q = sorted.toDF().writeStream.format("memory")
        .queryName("tws_tsort_keys").outputMode("append").start()
      // key 1 early, key 2 late-in-event-time
      mem.addData(
        EvT(1, 1L, 1.0, ts("2024-01-01 00:01:00")),
        EvT(2, 2L, 2.0, ts("2024-01-01 00:09:00")))
      q.processAllAvailable()
      // wm = 00:09 − 5m = 00:04 → key 1's row releases, key 2's stays
      mem.addData(EvT(3, 3L, 3.0, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      assert(emittedIds("tws_tsort_keys") == Seq(1L),
        s"only key 1's row is below the watermark: ${emittedIds("tws_tsort_keys")}")
      // wm = 01:00 − 5m = 00:55 → key 2's and key 3's pending rows release;
      // key 2's ListState entry survived two batch boundaries untouched
      mem.addData(EvT(4, 3L, 4.0, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val got = emittedIds("tws_tsort_keys")
      assert(got.head == 1L && got.toSet == Set(1L, 2L, 3L), got)
      q.stop()
    }
  }
}
