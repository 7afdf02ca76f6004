package graft

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{AsofOut, Tagged}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Version-state TTL on the temporal as-of join (reference
  * TemporalRowTimeJoinOperator.java + StateTtlConfig.java:51): the latest
  * signup version expires `ttl` after its own event time, driven by the
  * watermark — state removal happens without traffic on the key, and a
  * fresh version re-arms the clock. */
class AsofTtlSpec extends GraftSpec {

  // µs, offset well past epoch 0: a row at event time == the initial
  // watermark (0) would be dropped as late data before the operator runs
  private def sec(n: Long): Long = (1000000L + n) * 1000000L

  private def runTtl(ttlMs: Long, feed: Seq[Seq[Tagged]]): Seq[AsofOut] = {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Tagged]
    val withWm = mem.toDS()
      .withColumn("__ts", timestamp_micros($"ts_us"))
      .withWatermark("__ts", "0 seconds")
      .as[Tagged]
    val out = StatefulOps.asofWithTtl(withWm, ttlMs)
    val got = scala.collection.mutable.ArrayBuffer[AsofOut]()
    val q = out.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[AsofOut], _: Long) =>
        got.synchronized { got ++= batch.collect() }
        ()
    }.start()
    try feed.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    got.toSeq
  }

  test("[fMGWS] version expires ttl after its event time: post-TTL purchase sees no version") {
    // user 1 signs up at t=0s (value 5); user-2 traffic advances the
    // watermark past 0s+10s, firing the TTL timer WITHOUT user-1 traffic;
    // the purchase at t=100s then finds the version state gone.
    val out = runTtl(10000L, Seq(
      Seq(Tagged(1, 1, 5.0, sec(0), 1)),
      Seq(Tagged(2, 2, 0.0, sec(50), 1)), // wm → 0s
      Seq(Tagged(3, 2, 0.0, sec(60), 1)), // wm → 50s: user-1 timer at 10s fires
      Seq(Tagged(4, 1, 1.0, sec(100), 0))))
    assert(out.exists(o => o.event_id == 4 && o.last_signup_value.isEmpty),
      s"expired version still visible: $out")
  }

  test("[fMGWS] a fresh signup re-arms the TTL: the stale timer must not kill it") {
    // signup t=0 then re-signup t=30s (value 7), ttl 40s. The original
    // timer (40s) is deleted on re-arm; even if it fired, the onTimer guard
    // (version ts + ttl <= fired) protects the newer version.
    val out = runTtl(40000L, Seq(
      Seq(Tagged(1, 1, 5.0, sec(0), 1)),
      Seq(Tagged(2, 1, 7.0, sec(30), 1)),
      Seq(Tagged(3, 2, 0.0, sec(45), 1)), // wm → 30s
      Seq(Tagged(4, 2, 0.0, sec(50), 1)), // wm → 45s (past the stale 40s timer)
      Seq(Tagged(5, 1, 1.0, sec(55), 0))))
    assert(out.exists(o => o.event_id == 5 && o.last_signup_value.contains(7.0)),
      s"re-armed version lost: $out")
  }

  test("[fMGWS] with a large TTL the operator keeps plain as-of semantics (oracle shape)") {
    val out = runTtl(100L * 365 * 86400 * 1000, Seq( // 100 years
      Seq(Tagged(1, 1, 5.0, sec(0), 1),
        Tagged(2, 1, 1.0, sec(10), 0)),
      Seq(Tagged(3, 1, 9.0, sec(20), 1),
        Tagged(4, 1, 1.0, sec(30), 0))))
    assert(out.find(_.event_id == 2).exists(_.last_signup_value.contains(5.0)))
    assert(out.find(_.event_id == 4).exists(_.last_signup_value.contains(9.0)))
  }
}
