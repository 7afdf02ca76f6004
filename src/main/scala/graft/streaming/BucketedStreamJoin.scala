package graft.streaming

import graft.Q
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time-bucketed decomposition of the stream-stream interval join — the
  * skew-safe plan for hot keys.
  *
  * Why it exists (r19 finding #3): Spark's StreamingSymmetricHashJoin
  * probes by iterating the ENTIRE per-key state index — one state-store
  * get per stored row per probe (`KeyWithIndexToValueStore.getNext`). A
  * zipf-hot key that accumulates k rows inside one replay batch therefore
  * pays O(k²) gets: measured 405 s at the 100x zipf tree and unrunnable at
  * 1000x, where the uniform tree certified the same operator linear. The
  * key insight from the reference is that its interval-join state is
  * TIME-INDEXED, so a probe touches a time slice, never the whole key
  * (flink-table-runtime-blink/src/main/java/org/apache/flink/table/runtime/
  * operators/join/interval/TimeIntervalJoin.java:60 keeps
  * `MapState<Long, List<Tuple2<RowData, Boolean>>>` keyed by row time;
  * RowTimeIntervalJoin.java probes only the buckets inside
  * [leftTime + lower, leftTime + upper]).
  *
  * This operator expresses that state layout in Spark's own join: the join
  * key becomes the COMPOSITE (key, time_bucket) with bucket width W >= the
  * interval span, and the probe-side rows are expanded to the (at most
  * ceil(span/W)+1 = 2) buckets their match window overlaps. Per-composite-
  * key state is then bounded by the rows a key produces per bucket WIDTH —
  * a function of time density, not key heat — so a hot key's probes cost
  * O(rows-in-bucket), the same bound the reference's time-indexed MapState
  * gives, while Spark still plans a plain StreamingSymmetricHashJoin and
  * the watermark eviction math is untouched.
  *
  * Correctness of the decomposition for `r.ts ∈ [l.ts + 0, l.ts + W]`
  * (bucket width = interval upper bound, lower bound 0):
  *   - l.ts ∈ [bW, (b+1)W) and r.ts ∈ [l.ts, l.ts + W] imply
  *     bucket(r) ∈ {b, b+1}, so expanding the RIGHT side into buckets
  *     {bucket(r)-1, bucket(r)} covers every matching pair;
  *   - each pair joins under exactly ONE composite key — the left row's
  *     bucket, which equals exactly one of the right row's two distinct
  *     expansion values — so no dedup pass is needed;
  *   - the LEFT side is never duplicated, so left-outer null-padding
  *     stays once-per-unmatched-left-row and the emission rule (pad when
  *     the watermark proves no match can arrive) is unchanged. The same
  *     oracle as the un-bucketed operator applies verbatim.
  * A FULL outer twin needs more: the expanded side's null-pads arrive
  * once per bucket copy and must be reconciled by a downstream keyed
  * dedup — not built here; the left-outer path is the one the skew rung
  * proved broken.
  *
  * Cost: right-side state and shuffle volume double (each row stored under
  * two composite keys) — the classic 2x-replication price of range
  * bucketing, linear and skew-immune, against the O(k²) cliff it removes.
  */
object BucketedStreamJoin {

  /** Integer time bucket of `tsCol` at `widthUs` microseconds. DIV keeps
    * the arithmetic in exact longs — a double division misrounds within a
    * ulp of bucket boundaries at µs epochs (~1.7e15). */
  def bucketOf(tsCol: Column, widthUs: Long): Column =
    expr(s"unix_micros(${tsCol.toString}) DIV ${widthUs}L")

  /** Expand the probe side into the buckets its match window overlaps:
    * [bucket - backBuckets, bucket]. For a `[0, W]` interval at bucket
    * width W, backBuckets = 1. */
  def expandBuckets(tsCol: Column, widthUs: Long, backBuckets: Int): Column =
    explode(sequence(
      bucketOf(tsCol, widthUs) - backBuckets, bucketOf(tsCol, widthUs)))

  /** Forward twin of [[expandBuckets]] — [bucket, bucket + fwdBuckets] —
    * for a probe side whose matches lie AFTER it in time (a click matching
    * purchases in `(c_ts, c_ts + W]` sits in the purchase's bucket or the
    * one before it, so the click expands forward). */
  def expandBucketsForward(tsCol: Column, widthUs: Long, fwdBuckets: Int): Column =
    explode(sequence(
      bucketOf(tsCol, widthUs), bucketOf(tsCol, widthUs) + fwdBuckets))

  /** q_stream_outer_join_bucketed: the skew-safe twin of
    * q_stream_outer_join — purchases left-joined to same-user clicks in the
    * following 10 minutes, null-padding once the watermark proves no match
    * can arrive. Identical oracle; composite (uid, bucket) join key. */
  val qStreamOuterJoinBucketed: Q = Q(
    "q_stream_outer_join_bucketed",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val widthUs = 10L * 60 * 1000 * 1000 // bucket width = interval span
      def side(t: String, a: String) = StreamingOps.streamTable(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
          col("ts").as(s"${a}_ts"))
        .withWatermark(s"${a}_ts", "0 seconds")
      val p = side("purchase", "p")
        .withColumn("p_bkt", bucketOf(col("p_ts"), widthUs))
      val c = side("click", "c")
        .withColumn("c_bkt", expandBuckets(col("c_ts"), widthUs, backBuckets = 1))
      val joined = p.join(c,
        expr("p_uid = c_uid AND p_bkt = c_bkt AND " +
          "c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
        "leftOuter")
      StreamingOps.runToMemory(s, joined.select($"p_id", $"c_id"),
        "append", "graft_stream_outer_join_bucketed")
        .orderBy($"p_id", $"c_id")
    },
    // the decomposition must be invisible to results: verbatim the
    // un-bucketed operator's oracle
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

  /** q_stream_interval_join_bucketed: the skew-safe twin of
    * q_stream_interval_join — purchases inner-joined to same-user clicks in
    * the PRECEDING 10 minutes (`c_ts ∈ [p_ts - W, p_ts)`). The r20 zipf
    * rung caught the un-bucketed operator super-linear at 100x (same SSHJ
    * per-key full-state probe as the outer join; both-side state this
    * time). Decomposition correctness for the backward interval: a match
    * has `p_ts ∈ (c_ts, c_ts + W]`, so the purchase's bucket is the
    * click's bucket or the one after — the CLICK side expands FORWARD into
    * {bucket, bucket+1}, purchases keep their native bucket, and each pair
    * joins under exactly one composite key (the purchase's bucket, which
    * equals exactly one of the click's two distinct expansion values). An
    * inner join has no null-pad reconciliation at all, so the 2x
    * click-state replication is the entire cost. Identical oracle. */
  val qStreamIntervalJoinBucketed: Q = Q(
    "q_stream_interval_join_bucketed",
    (s, dir) => StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val widthUs = 10L * 60 * 1000 * 1000 // bucket width = interval span
      val ev = StreamingOps.streamTable(s, dir, "events")
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
        .withColumn("p_bkt", bucketOf(col("p_ts"), widthUs))
      val c = ev.filter($"event_type" === "click")
        .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
        .withColumn("c_bkt", expandBucketsForward(col("c_ts"), widthUs, fwdBuckets = 1))
      val joined = p.join(c,
        expr("p_user = c_user AND p_bkt = c_bkt AND " +
          "c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"))
        .select($"p_id", $"c_id")
      StreamingOps.runToMemory(s, joined, "append", "graft_stream_ij_bucketed")
        .orderBy($"p_id", $"c_id")
    },
    // verbatim the un-bucketed operator's oracle
    Some("""SELECT a.event_id AS p_id, b.event_id AS c_id
           |FROM events a JOIN events b
           |  ON a.user_id = b.user_id
           | AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts
           |WHERE a.event_type = 'purchase' AND b.event_type = 'click'
           |ORDER BY p_id, c_id""".stripMargin))

  val all: Seq[Q] = Seq(qStreamOuterJoinBucketed, qStreamIntervalJoinBucketed)
}
