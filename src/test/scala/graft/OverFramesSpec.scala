package graft

import graft.streaming.{OverFrames, StatefulOps}
import graft.streaming.StatefulOps.{EvT, RangeOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** The r10 verdict's ordered fix: OVER frame computation must be
  * incremental — one ordered sweep with a running (prefix) accumulator —
  * so a CATCH-UP firing that drains a key's whole history costs O(n), not
  * O(n²) (reference RowTimeRangeBoundedPrecedingFunction.java walks
  * timestamps once, retracting rows that leave the frame). Three pins:
  * exact parity with the per-row brute force the sweep replaced, a
  * linear-time bound on the pure sweep at 100k rows, and an end-to-end
  * single-firing drain of 10k rows through the RANGE operator. The
  * operators' emit rule is pinned too: a late-admitted sub-millisecond row
  * in an already released millisecond is emitted once, and the rows
  * released before it are not emitted again. */
class OverFramesSpec extends GraftSpec {

  private def usOf(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def tsUs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos(((us % 1000000L + 1000000L) % 1000000L).toInt * 1000)
    t
  }

  private def round2(d: Double): Double =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The per-row formulas the sweep replaced (r10) — kept here as
    * the oracle for parity. */
  private def bruteRange(key: Long, due: List[EvT], referable: Seq[EvT],
      rangeUs: Long): List[RangeOut] =
    due.map { e =>
      val us = usOf(e.ts)
      val s = referable.filter(x => usOf(x.ts) >= us - rangeUs && usOf(x.ts) <= us)
        .sortBy(x => (usOf(x.ts), x.event_id)).map(_.value).sum
      RangeOut(e.event_id, key, round2(s))
    }

  private def bruteRows(key: Long, due: List[EvT], ordered: Seq[EvT],
      nRows: Int): List[RangeOut] =
    due.map { e =>
      val eUs = usOf(e.ts)
      val upTo = ordered.takeWhile(x =>
        usOf(x.ts) < eUs || (usOf(x.ts) == eUs && x.event_id <= e.event_id))
      RangeOut(e.event_id, key, round2(upTo.takeRight(nRows).map(_.value).sum))
    }

  private def randomEvents(n: Int, seed: Long, spanUs: Long): List[EvT] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      // 1-decimal values: rounding at 2 decimals can never sit on a
      // float-error boundary, so double vs exact-decimal sums agree
      EvT(i.toLong, 1L, rnd.nextInt(1000) / 10.0, tsUs(rnd.nextLong(spanUs)))
    }.toList
  }

  test("rangeSums matches the per-row brute force on random histories (dense and sparse)") {
    for (seed <- 1L to 5L; spanUs <- Seq(5000L, 5000000L)) {
      val evs = OverFrames.canon(randomEvents(300, seed, spanUs))
      // drain an arbitrary split: older half is history, newer half due
      val (hist, due) = evs.splitAt(evs.size / 2)
      val referable = OverFrames.canon(hist ++ due)
      for (rangeUs <- Seq(0L, 1000L, 100000L, Long.MaxValue / 2)) {
        val got = OverFrames.rangeSums(1L, due, referable, rangeUs)
        val want = bruteRange(1L, due, referable, rangeUs)
        assert(got == want, s"seed=$seed span=$spanUs range=$rangeUs")
      }
    }
  }

  test("rowsSums matches the per-row brute force on random histories") {
    for (seed <- 1L to 5L; nRows <- Seq(1, 3, 10, 1000)) {
      val evs = OverFrames.canon(randomEvents(300, seed, 50000L))
      val (hist, due) = evs.splitAt(evs.size / 3)
      val ordered = OverFrames.canon(hist ++ due)
      val got = OverFrames.rowsSums(1L, due, ordered, nRows)
      val want = bruteRows(1L, due, ordered, nRows)
      assert(got == want, s"seed=$seed nRows=$nRows")
    }
  }

  test("catch-up linearity pin: 100k-row drain through the pure sweep completes in linear time") {
    // 100k rows, every one due in a single firing — the catch-up shape.
    // The replaced per-row filter+sort was O(n² log n) here (~10¹⁰ ops,
    // minutes); the sweep is one sort + one pass. A generous 10 s bound
    // discriminates cleanly without being load-flaky.
    val evs = OverFrames.canon(randomEvents(100000, seed = 7L, spanUs = 3600L * 1000000))
    val t0 = System.nanoTime()
    val r = OverFrames.rangeSums(1L, evs, evs, rangeUs = 60L * 1000000)
    val rows = OverFrames.rowsSums(1L, evs, evs, nRows = 100)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(r.size == 100000 && rows.size == 100000)
    assert(elapsedMs < 10000, s"100k-row sweep took ${elapsedMs} ms — not linear")
    // spot-check one frame against brute force so the fast path is the
    // correct path (mid-stream row, dense neighborhood)
    val probe = evs(50000)
    val want = bruteRange(1L, List(probe), evs, 60L * 1000000).head
    assert(r.find(_.event_id == probe.event_id).contains(want))
  }

  test("end-to-end catch-up: one watermark firing drains 10k rows for one key") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvT]
    val out = StatefulOps.overRangePreceding(
      mem.toDS().withWatermark("ts", "0 seconds").as[EvT],
      rangeUs = 60L * 1000000)
    val q = out.toDF().writeStream.format("memory")
      .queryName("over_catchup").outputMode("append").start()
    try {
      val n = 10000
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // one key, one batch, strictly increasing second-spaced timestamps:
      // the trailing no-data batch's first timer firing drains the lot
      mem.addData((1 to n).map(i =>
        EvT(i.toLong, 1L, (i % 10).toDouble, new Timestamp(base + i * 1000L))): _*)
      q.processAllAvailable()
      mem.addData(EvT(0L, 2L, 1.0, new Timestamp(base + 10 * n * 1000L)))
      q.processAllAvailable()
      val got = spark.table("over_catchup").where($"user_id" === 1L).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toMap
      assert(got.size == n, s"expected all $n rows drained, got ${got.size}")
      // trailing 1-minute frame (inclusive both ends) over values (i%10)
      // at 1-second spacing: row i's frame is rows max(1, i-60)..i
      def frame(i: Int): Double = (math.max(1, i - 60) to i).map(_ % 10).sum.toDouble
      for (i <- Seq(1, 59, 60, 61, 5000, n))
        assert(got(i.toLong) == frame(i), s"row $i: ${got(i.toLong)} vs ${frame(i)}")
    } finally q.stop()
  }

  /** Four key-1 rows inside ONE millisecond (µs 100..950), a key-2 row in
    * that millisecond that moves the watermark to it, then the LATE key-1
    * row at µs 200: above the µs watermark (admitted), inside the already
    * released millisecond. Returns every output row as (event_id, sum). */
  private def lateSubMsScript(name: String,
      op: org.apache.spark.sql.Dataset[EvT] => org.apache.spark.sql.Dataset[RangeOut])
      : Seq[(Long, Double)] = {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts = Timestamp.valueOf(_: String)
    val mem = MemoryStream[EvT]
    val q = op(mem.toDS().withWatermark("ts", "0 seconds").as[EvT]).toDF()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(
        EvT(1, 1L, 1.0, ts("2024-01-01 00:00:00.0001")),
        EvT(2, 1L, 2.0, ts("2024-01-01 00:00:00.0005")),
        EvT(3, 1L, 3.0, ts("2024-01-01 00:00:00.0009")),
        EvT(4, 1L, 4.0, ts("2024-01-01 00:00:00.00095")))
      q.processAllAvailable()
      mem.addData(EvT(9, 2L, 1.0, ts("2024-01-01 00:00:00.00098")))
      q.processAllAvailable()
      mem.addData(EvT(5, 1L, 10.0, ts("2024-01-01 00:00:00.0002")))
      q.processAllAvailable()
      // one state row per key: key 1's rows, key 2's row
      val numRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(numRows <= 2, s"expected one state row per key, got $numRows")
      spark.table(name).collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    } finally q.stop()
  }

  test("over-rows: a late sub-ms row in a released millisecond is emitted once") {
    val got = lateSubMsScript("over_rows_late",
      StatefulOps.overRowsPreceding(_, nRows = 3))
    // the late row's ROWS(2 preceding) frame is {id1@100µs, itself} = 1 + 10;
    // a retention that kept only the last nRows−1 rows would have evicted
    // id1 and emit 10.0
    assert(got.sortBy(_._1) == Seq(1L -> 1.0, 2L -> 3.0, 3L -> 6.0, 4L -> 9.0,
      5L -> 11.0, 9L -> 1.0), s"got $got")
  }

  test("over-range: a late sub-ms row in a released millisecond is emitted once") {
    val got = lateSubMsScript("over_range_late",
      StatefulOps.overRangePreceding(_, rangeUs = 60L * 1000000))
    // RANGE frames count every row at or before the row's µs timestamp:
    // the late row's frame is {id1@100µs, itself} = 1 + 10
    assert(got.sortBy(_._1) == Seq(1L -> 1.0, 2L -> 3.0, 3L -> 6.0, 4L -> 10.0,
      5L -> 11.0, 9L -> 1.0), s"got $got")
  }
}
