package graft.streaming

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet,
  CreateStruct, EqualTo, Expression, GetStructField, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command, Filter, LogicalPlan,
  Project, SubqueryAlias, Window}
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, WINDOW}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlFunctions
import org.apache.spark.sql.types.IntegerType
import scala.util.chaining._

/** The reference's streaming-dedup SQL idiom (StreamExecDeduplicateRule:
  * flink-table-planner-blink/.../stream/StreamExecDeduplicate.scala — the
  * planner RECOGNIZES `ROW_NUMBER() OVER (PARTITION BY k ORDER BY t [DESC])
  * … WHERE rn = 1` and swaps the O(n log n) rank for O(1)-per-key
  * Deduplicate state): the same recognition on the analyzed plan
  * ([[lower]], applied by every statement of
  * [[org.apache.spark.sql.graft.GraftSqlFunctions.sql]]), lowered onto a
  * min_by / max_by keyed aggregate — Spark's deterministic expression of
  * keep-first / keep-last whose update-mode changelog is exactly the
  * reference operator's retraction stream. Plain `row_number` SQL cannot
  * run on a stream in either engine; the lowering is what makes the idiom
  * executable, which is the entire point of the reference rule.
  *
  * Scale posture: state per key is ONE row (the current winner) carried by
  * the aggregation buffer — map-side partial min_by/max_by combine before
  * the shuffle, identical to the reference's pre-aggregated deduplicate.
  */
object DedupSql {

  /** Every `Filter(rn = 1)` over column-only projections of a Window whose
    * one expression is `row_number() OVER (PARTITION BY ks ORDER BY o
    * [DESC])` — one ORDER BY key with its default NULLS placement, as the
    * reference rule demands — becomes the keep-first (ASC) / keep-last
    * (DESC) aggregate per key. Any spelling Spark analyzes to that shape
    * matches: aliases, qualifiers, column lists, outer ORDER BYs. The
    * Filter's output keeps its expression ids and column order, so the plan
    * above stays resolved; the rank column becomes the constant 1. Anything
    * else, a rank over two ORDER BY keys included, is returned unchanged. */
  def lower(plan: LogicalPlan): LogicalPlan = plan match {
    case _: Command => plan // already executed by the DataFrame that holds it
    case _ => plan.transformUpWithPruning(_.containsAllPatterns(FILTER, WINDOW)) {
      case f @ Filter(EqualTo(rn: Attribute, Literal(1, IntegerType)), child) =>
        keepOne(f.output, rn, child).getOrElse(f)
    }
  }

  // named like the SQL function `struct`, so plans print as they always did
  private def struct(fields: Seq[Attribute]): Expression =
    CreateStruct(fields).tap(_.setTagValue(FunctionRegistry.FUNC_ALIAS, "struct"))

  private def windowBelow(p: LogicalPlan): Option[Window] = p match {
    case w: Window => Some(w)
    case SubqueryAlias(_, c) => windowBelow(c)
    case Project(list, c) if list.forall(_.isInstanceOf[Attribute]) => windowBelow(c)
    case _ => None
  }

  private def keepOne(out: Seq[Attribute], rn: Attribute, child: LogicalPlan): Option[LogicalPlan] =
    windowBelow(child).collect {
      case Window(Seq(rank @ Alias(WindowExpression(_: RowNumber, _), _)), keys, Seq(order), in, _)
          if rank.exprId == rn.exprId && keys.nonEmpty && keys.forall(_.isInstanceOf[Attribute]) &&
            order.child.isInstanceOf[Attribute] &&
            order.nullOrdering == order.direction.defaultNullOrdering &&
            out.forall(a => a.exprId == rn.exprId || in.outputSet.contains(a)) =>
        val keySet = AttributeSet(keys)
        val rest = in.output.filterNot(keySet.contains)
        val o = order.child.asInstanceOf[Attribute]
        // Tie-break DETERMINISTICALLY: min_by/max_by over the bare order
        // column picks an arbitrary winner when two rows per key share the
        // same order value (and would diverge run-to-run and from the
        // reference's arrival-order DeduplicateKeepFirstRowFunction). The
        // struct comparator totally orders candidates — order column first,
        // then the remaining columns as a stable lexicographic tie-break.
        val orderKey = struct(o +: rest.filterNot(_.exprId == o.exprId))
        val winner = Alias((if (order.direction == Ascending) MinBy(struct(rest), orderKey)
          else MaxBy(struct(rest), orderKey)).toAggregateExpression(), "__r")()
        val field: Attribute => Expression = a =>
          GetStructField(winner.toAttribute, rest.indexWhere(_.exprId == a.exprId), Some(a.name))
        Project(out.map {
          case a if a.exprId == rn.exprId => Alias(Literal(1), a.name)(a.exprId, a.qualifier)
          case a if keySet.contains(a) => a
          case a => Alias(field(a), a.name)(a.exprId, a.qualifier)
        }, Aggregate(keys, keys.map(_.asInstanceOf[Attribute]) :+ winner, in))
    }

  /** Keep-first (ASC) or keep-last (DESC) event per user by event time,
    * written as the reference's SQL idiom against a STREAMING view and
    * executed by the lowered keyed aggregate (complete mode — the upsert
    * view of the changelog). */
  private def dedupStream(s: SparkSession, dir: String, order: String, sink: String): DataFrame =
    StreamingOps.withStatePartitions(s, 8) {
      StreamingOps.streamTable(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .createOrReplaceTempView("events_stream")
      val out = GraftSqlFunctions.sql(s,
        s"""SELECT * FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY $order) AS rn
           |  FROM events_stream) WHERE rn = 1""".stripMargin)
      StreamingOps.runToMemory(s, out, "complete", sink).orderBy(col("user_id"))
    }

  /** q_dedup_sql_first: first event per user by event time. */
  val qDedupSqlFirst: Q = Q(
    "q_dedup_sql_first",
    (s, dir) => dedupStream(s, dir, "ts_us", "graft_dedup_sql_first"),
    Some("""SELECT user_id, arg_min(event_id, epoch_us(ts)) AS event_id,
           |       arg_min(event_type, epoch_us(ts)) AS event_type,
           |       arg_min(epoch_us(ts), epoch_us(ts)) AS ts_us,
           |       CAST(1 AS INTEGER) AS rn
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** q_dedup_sql_last: the DESC variant — keep-last per key. */
  val qDedupSqlLast: Q = Q(
    "q_dedup_sql_last",
    (s, dir) => dedupStream(s, dir, "ts_us DESC", "graft_dedup_sql_last"),
    Some("""SELECT user_id, arg_max(event_id, epoch_us(ts)) AS event_id,
           |       arg_max(event_type, epoch_us(ts)) AS event_type,
           |       arg_max(epoch_us(ts), epoch_us(ts)) AS ts_us,
           |       CAST(1 AS INTEGER) AS rn
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Stream-stream LEFT OUTER interval join (reference StreamingJoinOperator
    * outer paths — null-padding rows emit only when the watermark proves no
    * match can still arrive): purchases left-joined to same-user clicks in
    * the following 10 minutes. The oracle replays the exact emission rule:
    * all matched pairs, plus unmatched purchases whose join window closed
    * under the final combined watermark (min of the two sides' max event
    * times — the default multipleWatermarkPolicy); tail rows still open in
    * state are correctly absent from BOTH engines. */
  val qStreamOuterJoin: Q = Q(
    "q_stream_outer_join",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      def side(t: String, a: String) = StreamingOps.streamTable(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
          col("ts").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", "0 seconds")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("p_uid = c_uid AND c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
        "leftOuter")
      StreamingOps.runToMemory(s, joined.select($"p_id", $"c_id"),
        "append", "graft_stream_outer_join")
        .orderBy($"p_id", $"c_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
           |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
           |                    (SELECT max(epoch_ms(ts)) FROM c)) AS w)
           |SELECT p_id, c_id FROM (
           |  SELECT p.event_id AS p_id, c.event_id AS c_id
           |  FROM p JOIN c ON p.user_id = c.user_id
           |   AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE
           |  UNION ALL
           |  SELECT p.event_id, CAST(NULL AS BIGINT)
           |  FROM p, wm
           |  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
           |          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE)
           |    AND epoch_ms(p.ts) + 600000 <= wm.w)
           |ORDER BY p_id, c_id""".stripMargin))

  /** Stream-stream FULL OUTER interval join: both sides null-pad once the
    * combined watermark proves no match can arrive — and the two bounds are
    * ASYMMETRIC, because the condition `p_ts <= c_ts <= p_ts + 10min` binds
    * the sides differently: a purchase can still match clicks up to
    * p_ts + 10min (evictable at p_ts + 10min ≤ wm), but a click only
    * matches purchases AT OR BEFORE it (evictable as soon as c_ts ≤ wm —
    * Spark's state-value watermark solves each side's inequalities exactly
    * this way, surfaced by the sf0.1 scale sweep where 2 unmatched clicks
    * fell in the 10-minute twilight zone the old symmetric bound missed). */
  val qStreamFullOuterJoin: Q = Q(
    "q_stream_full_outer_join",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      def side(t: String, a: String) = StreamingOps.streamTable(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
          col("ts").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", "0 seconds")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("p_uid = c_uid AND c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
        "fullOuter")
      StreamingOps.runToMemory(s, joined.select($"p_id", $"c_id"),
        "append", "graft_stream_full_outer")
        .orderBy($"p_id", $"c_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
           |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
           |                    (SELECT max(epoch_ms(ts)) FROM c)) AS w)
           |SELECT p_id, c_id FROM (
           |  SELECT p.event_id AS p_id, c.event_id AS c_id
           |  FROM p JOIN c ON p.user_id = c.user_id
           |   AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE
           |  UNION ALL
           |  SELECT p.event_id, CAST(NULL AS BIGINT)
           |  FROM p, wm
           |  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
           |          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE)
           |    AND epoch_ms(p.ts) + 600000 <= wm.w
           |  UNION ALL
           |  SELECT CAST(NULL AS BIGINT), c.event_id
           |  FROM c, wm
           |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
           |          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE)
           |    AND epoch_us(c.ts) <= wm.w * 1000)
           |ORDER BY p_id, c_id""".stripMargin))

  /** Stream-stream RIGHT OUTER: clicks null-pad once the watermark passes
    * the click itself (NOT click + window — a matching purchase must lie at
    * or before the click, so wm ≥ c_ts already proves no future match; see
    * the full-outer scaladoc for the asymmetry). */
  val qStreamRightOuterJoin: Q = Q(
    "q_stream_right_outer_join",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      def side(t: String, a: String) = StreamingOps.streamTable(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
          col("ts").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", "0 seconds")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("p_uid = c_uid AND c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
        "rightOuter")
      StreamingOps.runToMemory(s, joined.select($"p_id", $"c_id"),
        "append", "graft_stream_right_outer")
        .orderBy($"p_id", $"c_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
           |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
           |                    (SELECT max(epoch_ms(ts)) FROM c)) AS w)
           |SELECT p_id, c_id FROM (
           |  SELECT p.event_id AS p_id, c.event_id AS c_id
           |  FROM p JOIN c ON p.user_id = c.user_id
           |   AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE
           |  UNION ALL
           |  SELECT CAST(NULL AS BIGINT), c.event_id
           |  FROM c, wm
           |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
           |          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE)
           |    AND epoch_us(c.ts) <= wm.w * 1000)
           |ORDER BY p_id, c_id""".stripMargin))

  /** Stream-stream LEFT SEMI join (reference StreamingSemiAntiJoinOperator
    * .java — semi path): purchases WITH a same-user click in the following
    * 10 minutes, emitted once on first match (the operator holds the left
    * row in state until the watermark to dedup further matches). Bounded
    * replay emits exactly the EXISTS set. */
  val qStreamSemiJoin: Q = Q(
    "q_stream_semi_join",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      def side(t: String, a: String) = StreamingOps.streamTable(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
          col("ts").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", "0 seconds")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("p_uid = c_uid AND c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
        "left_semi")
      StreamingOps.runToMemory(s, joined.select($"p_id"),
        "append", "graft_stream_semi_join")
        .orderBy($"p_id")
    },
    Some("""SELECT p.event_id AS p_id
           |FROM events p
           |WHERE p.event_type = 'purchase' AND EXISTS (
           |  SELECT 1 FROM events c
           |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
           |    AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE)
           |ORDER BY p_id""".stripMargin))

  /** Stream-stream LEFT ANTI join (reference StreamingSemiAntiJoinOperator
    * .java — anti path): purchases with NO same-user click in the window,
    * emitted only once the combined watermark proves no match can still
    * arrive. Spark has no native stream-stream anti join, so it is LOWERED
    * onto the watermark-gated LEFT OUTER join + null filter — the outer
    * join's null-padded row IS the anti emission (same state, same
    * eviction), which is how the reference's anti path behaves; the oracle
    * filters on the final combined watermark accordingly. */
  val qStreamAntiJoin: Q = Q(
    "q_stream_anti_join",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      def side(t: String, a: String) = StreamingOps.streamTable(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
          col("ts").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", "0 seconds")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("p_uid = c_uid AND c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
        "leftOuter")
        .where(col("c_id").isNull)
      StreamingOps.runToMemory(s, joined.select($"p_id"),
        "append", "graft_stream_anti_join")
        .orderBy($"p_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
           |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
           |                    (SELECT max(epoch_ms(ts)) FROM c)) AS w)
           |SELECT p.event_id AS p_id
           |FROM p, wm
           |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
           |        AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE)
           |  AND epoch_ms(p.ts) + 600000 <= wm.w
           |ORDER BY p_id""".stripMargin))

  val all: Seq[Q] = Seq(qDedupSqlFirst, qDedupSqlLast, qStreamOuterJoin,
    qStreamFullOuterJoin, qStreamRightOuterJoin, qStreamSemiJoin, qStreamAntiJoin)
}
