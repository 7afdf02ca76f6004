package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Watermark idleness end-to-end — the reference's WatermarksWithIdleness
  * (flink-core .../eventtime/WatermarksWithIdleness.java:45): a source that
  * stops producing is marked IDLE after a timeout and the combined
  * watermark (WatermarkOutputMultiplexer) advances on the active sources
  * alone, so downstream event-time progress never stalls on a quiet
  * partition.
  *
  * Spark's analogue is session-wide, not per-source:
  * `spark.sql.streaming.multipleWatermarkPolicy = max` lets the most
  * advanced input drive the combined watermark — the same emission rule the
  * reference reaches per-source, with the same trade-off (rows a revived
  * idle source sends from BEFORE the advanced watermark count as late and
  * may drop; the reference documents exactly that hazard for
  * WatermarksWithIdleness). The remaining divergence — Spark applies `max`
  * to every source pair, idle or not, while the reference only de-weights
  * sources past their idle TIMEOUT — is pinned in WatermarkPolicySpec's
  * mid-stream phased test.
  *
  * The query: two file-stream partners derived from `events` — the active
  * one carries the full timeline, the idle one only the first hour, then
  * goes silent. Append-mode tumbling counts under `max` policy emit every
  * window the ACTIVE source's watermark closes; under the default `min`
  * the idle partner would hold the watermark at its last row forever and
  * the emitted set would stop at the first hour (the stall the idleness
  * contract exists to prevent).
  */
object WatermarkIdleness {

  val PolicyKey = "spark.sql.streaming.multipleWatermarkPolicy"

  val qWatermarkIdle: Q = Q(
    "q_watermark_idle",
    (s, dir) => graft.streaming.StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      StreamingOps.withConf(s, PolicyKey, "max") {
        val base = Tables.scratch(
          s"wm-idle/${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        val ev = Tables.t(s, dir, "events")
        // idle cutoff in integer MICROSECONDS on both sides (oracle uses
        // epoch_us): unix_timestamp() floors to seconds while DuckDB's
        // epoch() keeps the sub-second part, so a seconds-domain cutoff
        // admits rows in [floor(min)+3600, min+3600) on one side only —
        // fixture-luck, not parity (r15 advice finding)
        val cutoffUs = ev.agg(min(expr("unix_micros(ts)"))).head().getLong(0) +
          3600L * 1000000L
        ev.filter($"event_type" =!= "view").select($"ts")
          .coalesce(2).write.mode("overwrite").parquet(s"$base/active")
        ev.filter($"event_type" === "view" &&
            expr("unix_micros(ts)") < cutoffUs).select($"ts")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/idle")
        def src(d: String) = s.readStream.schema("ts timestamp").parquet(d)
          .withWatermark("ts", "0 seconds")
        val agg = src(s"$base/active").union(src(s"$base/idle"))
          .groupBy(window($"ts", "300 seconds"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_timestamp($"window.start").as("wstart"), $"cnt")
        StreamingOps.runToMemory(s, agg, "append", "graft_wm_idle")
          .orderBy($"wstart")
      }
    },
    // append emits exactly the windows the final combined watermark closed;
    // under max that watermark is the union's max event time (delay 0).
    // Both bounds are integer-microsecond exact: the idle cutoff mirrors the
    // Spark side's unix_micros filter, and the emission bound compares the
    // window end against max(epoch_us) directly — (wend*1e6 <= max_us) is
    // equivalent to Spark's floored-millisecond watermark test
    // (wend*1000 <= max_us // 1000), with no round-to-nearest CAST in play
    Some("""WITH u AS (
           |  SELECT ts FROM events WHERE event_type <> 'view'
           |  UNION ALL
           |  SELECT ts FROM events WHERE event_type = 'view'
           |    AND epoch_us(ts) < (SELECT min(epoch_us(ts)) + 3600000000 FROM events)
           |)
           |SELECT wstart, cnt FROM (
           |  SELECT (epoch_us(ts) // 300000000) * 300 AS wstart,
           |         count(*) AS cnt
           |  FROM u GROUP BY 1)
           |WHERE (wstart + 300) * 1000000 <= (SELECT max(epoch_us(ts)) FROM u)
           |ORDER BY wstart""".stripMargin))

  val all: Seq[Q] = Seq(qWatermarkIdle)
}
