package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftSqlFunctions

/** Flink group-window SQL surface (reference FlinkSqlOperatorTable.java:778–826
  * — TUMBLE/HOP/SESSION group windows + their `_START`/`_END` auxiliary
  * functions; planner `StreamExecGroupWindowAggregate.scala:44`): the
  * reference's `GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)` syntax runs as
  * written. The nine names are session functions
  * ([[org.apache.spark.sql.graft.GraftSqlFunctions]]) that build Spark's
  * native `window()` / `session_window()` expressions, so the whole query
  * stays inside Catalyst (codegen'd window assignment, partial aggregation,
  * AQE), exactly like a hand-written DataFrame window aggregate.
  */
object GroupWindowSql {

  def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.registerAll(spark, dir)
    GraftSqlFunctions.sql(spark, sql)
  }

  /** q_group_window_sql: the reference's TUMBLE syntax verbatim; same answer
    * as q_window_tumble (shared oracle shape). */
  val qTumbleSql: Q = Q(
    "q_group_window_sql",
    (s, dir) => run(s, dir,
      """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '5' MINUTE)) AS wstart,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE), event_type
        |ORDER BY wstart, event_type""".stripMargin),
    Some("""SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS wstart,
           |       event_type, count(*) AS cnt, round(sum(value), 2) AS total
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** q_group_window_sql_hop: HOP with the Flink slide-before-size arg order. */
  val qHopSql: Q = Q(
    "q_group_window_sql_hop",
    (s, dir) => run(s, dir,
      """SELECT unix_timestamp(HOP_START(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)) AS wstart,
        |       event_type, count(*) AS cnt
        |FROM events
        |GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE), event_type
        |ORDER BY wstart, event_type""".stripMargin),
    Some("""SELECT wstart, event_type, count(*) AS cnt
           |FROM (
           |  SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
           |                 CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)]) AS wstart,
           |         event_type
           |  FROM events)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** q_group_window_sql_session: SESSION gap windows via session_window. */
  val qSessionSql: Q = Q(
    "q_group_window_sql_session",
    (s, dir) => run(s, dir,
      """SELECT unix_timestamp(SESSION_START(ts, INTERVAL '30' MINUTE)) AS sess_start,
        |       user_id, count(*) AS cnt, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id
        |ORDER BY user_id, sess_start""".stripMargin),
    Some("""WITH g AS (
           |  SELECT user_id, ts, value,
           |         CASE WHEN lag(ts) OVER w IS NULL
           |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
           |              THEN 1 ELSE 0 END AS brk
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sess AS (
           |  SELECT user_id, ts, value,
           |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
           |                        ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM g)
           |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start, user_id,
           |       count(*) AS cnt, round(sum(value), 2) AS total
           |FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin))

  /** q_group_window_sql_stream: the same TUMBLE text against a STREAMING
    * view — the reference's primary mode for group windows. It plans a
    * streaming window aggregate (complete mode over the bounded replay),
    * bit-identical to the batch twin's oracle. */
  val qTumbleSqlStream: Q = Q(
    "q_group_window_sql_stream",
    (s, dir) => graft.streaming.StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      graft.streaming.StreamingOps.streamTable(s, dir, "events")
        .createOrReplaceTempView("events_stream")
      val agg = GraftSqlFunctions.sql(s,
        """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '5' MINUTE)) AS wstart,
          |       event_type, count(*) AS cnt, round(sum(value), 2) AS total
          |FROM events_stream
          |GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE), event_type""".stripMargin)
      graft.streaming.StreamingOps
        .runToMemory(s, agg, "complete", "graft_gw_sql_stream")
        .orderBy($"wstart", $"event_type")
    },
    Some("""SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS wstart,
           |       event_type, count(*) AS cnt, round(sum(value), 2) AS total
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** q_group_window_sql_stream_hop: HOP text on a streaming view — complete
    * mode, bit-identical to the batch hop oracle. */
  val qHopSqlStream: Q = Q(
    "q_group_window_sql_stream_hop",
    (s, dir) => graft.streaming.StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      graft.streaming.StreamingOps.streamTable(s, dir, "events")
        .createOrReplaceTempView("events_stream_hop")
      val agg = GraftSqlFunctions.sql(s,
        """SELECT unix_timestamp(HOP_START(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)) AS wstart,
          |       event_type, count(*) AS cnt
          |FROM events_stream_hop
          |GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE), event_type""".stripMargin)
      graft.streaming.StreamingOps
        .runToMemory(s, agg, "complete", "graft_gw_sql_stream_hop")
        .orderBy($"wstart", $"event_type")
    },
    Some("""SELECT wstart, event_type, count(*) AS cnt
           |FROM (
           |  SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
           |                 CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)]) AS wstart,
           |         event_type
           |  FROM events)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** q_group_window_sql_stream_session: SESSION text on a streaming view —
    * gap-merge happens in the streaming session-window state. */
  val qSessionSqlStream: Q = Q(
    "q_group_window_sql_stream_session",
    (s, dir) => graft.streaming.StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      graft.streaming.StreamingOps.streamTable(s, dir, "events")
        .createOrReplaceTempView("events_stream_sess")
      val agg = GraftSqlFunctions.sql(s,
        """SELECT unix_timestamp(SESSION_START(ts, INTERVAL '30' MINUTE)) AS sess_start,
          |       user_id, count(*) AS cnt, round(sum(value), 2) AS total
          |FROM events_stream_sess
          |GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id""".stripMargin)
      graft.streaming.StreamingOps
        .runToMemory(s, agg, "complete", "graft_gw_sql_stream_sess")
        .orderBy($"user_id", $"sess_start")
    },
    Some("""WITH g AS (
           |  SELECT user_id, ts, value,
           |         CASE WHEN lag(ts) OVER w IS NULL
           |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
           |              THEN 1 ELSE 0 END AS brk
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sess AS (
           |  SELECT user_id, ts, value,
           |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
           |                        ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM g)
           |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start, user_id,
           |       count(*) AS cnt, round(sum(value), 2) AS total
           |FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin))

  val all: Seq[Q] = Seq(qTumbleSql, qHopSql, qSessionSql, qTumbleSqlStream,
    qHopSqlStream, qSessionSqlStream)
}
