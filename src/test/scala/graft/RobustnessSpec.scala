package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** State-backend, recovery and physical-layout tests — the analogue of the
  * reference's state/recovery e2e suites (run-nightly-tests.sh, RocksDB
  * backend RocksDBStateBackend.java:127, checkpoint recovery). */
class RobustnessSpec extends GraftSpec {

  test("stateful agg runs on the RocksDB state store provider") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Int)]
      val agg = mem.toDF().toDF("k", "v").groupBy($"k").agg(sum($"v").as("s"))
      val q = agg.writeStream.format("memory").queryName("rocks_agg")
        .outputMode("complete").start()
      mem.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      mem.addData(("a", 10))
      q.processAllAvailable()
      val rows = spark.table("rocks_agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("a" -> 11L, "b" -> 2L))
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpointed query recovers state across restart") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[(String, Int)]
    def start() = mem.toDF().toDF("k", "v")
      .groupBy($"k").agg(sum($"v").as("s"))
      .writeStream.format("memory").queryName("ckpt_agg")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()

    val q1 = start()
    mem.addData(("a", 1), ("a", 2))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint: state (a -> 3) must survive
    mem.addData(("a", 4))
    val q2 = start()
    q2.processAllAvailable()
    val rows = spark.table("ckpt_agg").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("a" -> 7L), s"state lost across restart: $rows")
    q2.stop()
  }

  test("timer-service operator state (buffer + timers) survives restart") {
    // overRangePreceding keeps a TimerState(buffer, timer list) per key;
    // rows buffered before a crash must still produce correct frames after
    // recovery from the checkpoint
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulOps.{overRangePreceding, EvT}
    val ckpt = Files.createTempDirectory("graft_ckpt_timers").toString
    val out = Files.createTempDirectory("graft_ckpt_timers_out").toString
    val mem = MemoryStream[EvT]
    // parquet sink: the memory sink refuses append-mode recovery
    def start() = overRangePreceding(
      mem.toDS().withWatermark("ts", "0 seconds").as[EvT],
      rangeUs = 60L * 1000000).toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts30 = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val q1 = start()
    mem.addData(EvT(1, 1L, 10.0, ts0), EvT(2, 1L, 5.0, ts30))
    q1.processAllAvailable() // watermark unset: both rows only BUFFERED
    q1.stop()

    // restart; a later row advances the watermark and releases the
    // pre-restart buffer — id2's frame must still contain id1's value
    val q2 = start()
    mem.addData(EvT(3, 1L, 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
    q2.processAllAvailable()
    mem.addData(EvT(4, 1L, 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:20:00")))
    q2.processAllAvailable()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.get(1L).contains(10.0) && got.get(2L).contains(15.0),
      s"buffered rows lost or frames wrong after restart: $got")
    q2.stop()
  }

  test("transformWithState operator state (native ListState + armed timer) survives restart") {
    // the TwS runtime keeps its buffer in NATIVE ListState with a native
    // event-time timer (not a serialized blob like fMGWS) — this pins that
    // the RocksDB-provider checkpoint carries BOTH across a stop/start:
    // rows buffered before the restart must release, in event-time order
    // and exactly once, when a post-restart watermark passes them
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{StatefulOps, TwsOps}
    import graft.streaming.StatefulOps.EvT
    graft.streaming.TwsOps.withRocksDb(spark) {
      val ckpt = Files.createTempDirectory("graft_ckpt_tws").toString
      val out = Files.createTempDirectory("graft_ckpt_tws_out").toString
      val mem = MemoryStream[EvT]
      // the 90s delay keeps each assertion away from the wm==expiry
      // boundary (the trailing no-data batch fires timers ≤ wm — with
      // delay 0 every buffered row would release before the stop)
      def start() = TwsOps.temporalSortTws(
        mem.toDS().withWatermark("ts", "90 seconds").as[EvT]).toDF()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

      val q1 = start()
      mem.addData(
        EvT(3, 1L, 3.0, java.sql.Timestamp.valueOf("2024-01-01 00:03:30")),
        EvT(1, 1L, 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:01:30")),
        EvT(2, 1L, 2.0, java.sql.Timestamp.valueOf("2024-01-01 00:02:30")))
      q1.processAllAvailable() // wm 00:02:00: id1 releases; 2,3 stay buffered
      q1.stop()

      val q2 = start()
      mem.addData(EvT(9, 1L, 9.0, java.sql.Timestamp.valueOf("2024-01-01 00:09:00")))
      q2.processAllAvailable() // wm 00:07:30 releases the CARRIED 2 and 3
      val ids = spark.read.parquet(out).collect()
        .map(_.getAs[Long]("event_id")).toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L),
        s"buffered TwS state lost or duplicated across restart: $ids")
      q2.stop()
    }
  }

  test("partition-commit sink replays idempotently after a crash between promote and commit record") {
    // fixture-size twin of SoakRecovery phase A: the injected fault fires in
    // the write-ahead protocol's hardest window — batch files already
    // PROMOTED into final partition dirs, commit record not yet written.
    // The restarted query must redo the batch idempotently (delete the
    // batch-prefixed files, re-promote, record) — no duplicates, no loss.
    import graft.streaming.{PartitionCommit, StreamingOps}
    import org.apache.spark.sql.streaming.Trigger
    val feed = Files.createTempDirectory("graft_pc_crash_feed").toString
    Tables.t(spark, sfDir, "events")
      .select(col("event_id"), col("value"), col("ts"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(feed)
    val schema = spark.read.parquet(feed).schema
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .withColumn("hr", (floor(unix_seconds(col("ts")) / 3600) * 3600).cast("long"))
    def drain(sink: String, ckpt: String, crashBatch: Option[Long]): Boolean = {
      crashBatch.foreach(b =>
        spark.conf.set(PartitionCommit.CrashBeforeRecordKey, b.toString))
      var crashed = false
      try {
        val q = PartitionCommit.foreachBatchPartitioned(src, sink, "hr",
            3600L, "ts", commitTag = Integer.toHexString(ckpt.hashCode))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch {
          case e: Exception =>
            val msgs = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
            assert(crashBatch.isDefined && msgs.exists(_.contains("graft-soak")),
              s"unexpected failure: $e")
            crashed = true
        }
      } finally spark.conf.unset(PartitionCommit.CrashBeforeRecordKey)
      crashed
    }
    def committedIds(sink: String): Seq[Long] =
      PartitionCommit.readCommitted(spark, sink, "hr")
        .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    val cleanSink = Files.createTempDirectory("graft_pc_crash_clean").toString + "/out"
    drain(cleanSink, owned(StreamingOps.freshCheckpoint("pc-crash-clean")), None)
    val soakSink = Files.createTempDirectory("graft_pc_crash_soak").toString + "/out"
    val ckpt = owned(StreamingOps.freshCheckpoint("pc-crash"))
    assert(drain(soakSink, ckpt, Some(1L)), // crash mid-protocol on batch 1
      "injected crash never fired — the recovery check would be vacuous")
    drain(soakSink, ckpt, None)             // recovery drain, same checkpoint
    val (clean, soak) = (committedIds(cleanSink), committedIds(soakSink))
    assert(soak == clean,
      s"recovery diverged: clean=${clean.size} rows, soak=${soak.size} rows, " +
        s"dupes=${soak.diff(soak.distinct).take(5)}")
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft_buckets").toString
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try bucketedJoinBody(wh)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  private def bucketedJoinBody(wh: String): Unit = {
    import spark.implicits._
    val orders = Tables.t(spark, sfDir, "orders")
    val lineitem = Tables.t(spark, sfDir, "lineitem")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")

    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("cnt"))
    val phys = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no Exchange below the join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(phys).toList
    assert(exchanges.length <= 1, s"expected at most the post-join agg exchange:\n$phys")
    assert(phys.contains("SortMergeJoin") || phys.contains("ShuffledHashJoin"), phys)
    // and results match the plain join
    val expected = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }
}
