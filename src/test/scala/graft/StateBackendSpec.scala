package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

/** State backend swap (reference flink-state-backends/ — MemoryStateBackend
  * vs RocksDBStateBackend chosen per job): Spark's analogue is the state
  * store provider. The default HDFSBackedStateStoreProvider is the in-heap
  * backend; RocksDBStateStoreProvider (built into Spark) is the
  * spill-to-native-store backend a 100 TB streaming job runs, keeping state
  * off-heap and bounded-memory per partition. Same query, same results —
  * the backend is a conf, exactly as in the reference. */
class StateBackendSpec extends GraftSpec {

  test("q_tws_dedup: streaming dedup equals batch DISTINCT") {
    import spark.implicits._
    val got = SparkEntry.queries("q_tws_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exp = Tables.t(spark, sfDir, "events")
      .select($"user_id", $"event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == exp)
  }

  test("transformWithState: native event-time timer fires when the watermark passes") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Tables.scratch(s"tws-timer/${java.util.UUID.randomUUID()}")
      // two files + maxFilesPerTrigger=1 => timer registration (batch 0) and
      // expiry (batch 1, after the watermark advances past t0+1ms) are in
      // DIFFERENT micro-batches, like a real session timeout
      val t0 = 1700000000000L
      Seq((1L, t0), (2L, t0 + 500)).toDF("k", "ts_ms")
        .write.parquet(s"$base/in/f0")
      Seq((1L, t0 + 60000)).toDF("k", "ts_ms")
        .write.parquet(s"$base/in/f1")
      val out = spark.readStream.schema("k long, ts_ms long")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .withColumn("ts", timestamp_millis($"ts_ms"))
        .withWatermark("ts", "0 seconds")
        .select($"k", $"ts_ms").as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new StateBackendSpec.FirstEventTimeout,
          TimeMode.EventTime(), OutputMode.Append())
      val q = out.toDF("k", "fired_at").writeStream
        .format("memory").queryName("tws_timer").outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val fired = spark.table("tws_timer").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // both keys' timers (t0+1, t0+501) expire once the watermark reaches
      // t0+60000 from the second file
      assert(fired == Map(1L -> (t0 + 1), 2L -> (t0 + 501)))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: ListState + MapState variables across micro-batches") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Tables.scratch(s"tws-listmap/${java.util.UUID.randomUUID()}")
      Seq((1L, 10.0), (1L, 120.0), (1L, 230.0), (1L, 340.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$base/in/f0")
      Seq((1L, 50.0), (1L, 360.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$base/in/f1")
      val out = spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .as[(Long, Double)].groupByKey(_._1)
        .transformWithState(new StateBackendSpec.ListMapStats,
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF("k", "recent_sum", "n_buckets").writeStream
        .format("memory").queryName("tws_listmap").outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.table("tws_listmap").collect()
        .map(r => (r.getDouble(1), r.getLong(2))).toSet
      // batch 1: trailing-3 list (120,230,340)=690, 4 buckets;
      // batch 2: (340,50,360)=750, still 4 buckets (0 and 3 incremented)
      assert(rows == Set((690.0, 4L), (750.0, 4L)))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("queryable state read is partition-parallel (no driver materialization)") {
    import spark.implicits._
    val base = Tables.scratch(s"qstate-par/${java.util.UUID.randomUUID()}")
    Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v").write.parquet(s"$base/src")
    val q = spark.readStream.schema("k string, v long").parquet(s"$base/src")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v"))
      .writeStream.format("memory").queryName("qstate_par_sink")
      .outputMode("complete").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ss = streaming.QueryableState.stateOf(spark, s"$base/ckpt")
    assert(ss.rdd.getNumPartitions > 1, "statestore read not partition-parallel")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("rocksdb state store: stateful agg matches default-backend result, state is queryable") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Tables.scratch(s"rocksdb-spec/${java.util.UUID.randomUUID()}")
      val ckpt = s"$base/ckpt"
      val in = streaming.StreamingOps.streamTable(spark, sfDir, "events")
      val agg = in.withWatermark("ts", "0 seconds")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("cnt"))
      val q = agg.writeStream.format("memory").queryName("rocksdb_agg")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("rocksdb_agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exp = Tables.t(spark, sfDir, "events").groupBy($"event_type")
        .agg(count(lit(1))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exp)
      // the state data source reads RocksDB checkpoints the same way
      val ss = streaming.QueryableState.stateOf(spark, ckpt)
      assert(ss.count() == exp.size.toLong)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}

object StateBackendSpec {

  /** Native event-time timers on the new API (reference
    * KeyedProcessFunction#onTimer + InternalTimerService): each key
    * registers a timer 1 ms past its first event; when the watermark passes
    * it, handleExpiredTimer emits a timeout row — the session-timeout /
    * TTL-eviction shape without any hand-built timer heap. Exercised across
    * ≥2 micro-batches so registration and expiry happen in different
    * batches. */
  class FirstEventTimeout
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      if (!armed.exists()) {
        val firstTsMs = rows.map(_._2).min
        getHandle.registerTimer(firstTsMs + 1)
        armed.update(firstTsMs)
      } else rows.foreach(_ => ()) // drain
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] =
      Iterator.single((key, expiredTimerInfo.getExpiryTimeInMs))
  }

  /** Full state-variable surface of the new API (reference state descriptor
    * family: ValueStateDescriptor / ListStateDescriptor / MapStateDescriptor):
    * per key, a ListState of recent values (bounded to the last 3) and a
    * MapState of per-bucket counts, exercised together. */
  class ListMapStats
      extends StatefulProcessor[Long, (Long, Double), (Long, Double, Long)] {
    @transient private var recent: ListState[Double] = _
    @transient private var buckets: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[Double]("recent", Encoders.scalaDouble, TTLConfig.NONE)
      buckets = getHandle.getMapState[Long, Long]("buckets",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Double, Long)] = {
      rows.foreach { case (_, v) =>
        recent.appendValue(v)
        val b = math.floor(v / 100.0).toLong
        val cur = if (buckets.containsKey(b)) buckets.getValue(b) else 0L
        buckets.updateValue(b, cur + 1)
      }
      val vals = recent.get().toSeq
      if (vals.size > 3) { // keep the trailing 3 — bounded list state
        recent.put(vals.takeRight(3).toArray)
      }
      val kept = recent.get().toSeq
      val nBuckets = { var n = 0L; val it = buckets.keys(); while (it.hasNext) { it.next(); n += 1 }; n }
      Iterator.single((key, kept.sum, nBuckets))
    }
  }
}
