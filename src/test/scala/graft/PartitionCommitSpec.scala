package graft

import graft.streaming.PartitionCommit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming filesystem sink partition commit (reference FLIP-115
  * StreamingFileCommitter + PartitionCommitPolicy): partitions become
  * visible (success-file) only once the watermark passes their end; the
  * open partition stays invisible; commits are idempotent. */
class PartitionCommitSpec extends GraftSpec {

  private def hasSuccess(path: String, hr: Long): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, s"hr=$hr", "_SUCCESS"))

  test("partitions commit as the watermark passes; the open one stays invisible") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = Tables.scratch(s"pc-spec/${java.util.UUID.randomUUID()}")
    val mem = MemoryStream[(Long, Double, Long)] // (event_id, value, epochSec)
    val df = mem.toDF().toDF("event_id", "value", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("hr", (floor(col("sec") / 3600) * 3600).cast("long"))
      .select("event_id", "value", "ts", "hr")
    val q = PartitionCommit.foreachBatchPartitioned(df, path, "hr", 3600L, "ts")
      .start()
    // batch 1: rows in hour 0 and hour 3600; max ts 3605 → only hour 0 done
    mem.addData((1L, 1.0, 10L), (2L, 2.0, 3605L))
    q.processAllAvailable()
    assert(hasSuccess(path, 0L) && !hasSuccess(path, 3600L))
    // batch 2: watermark jumps to 7210 → hour 3600 commits, hour 7200 open
    mem.addData((3L, 3.0, 7210L))
    q.processAllAvailable()
    assert(hasSuccess(path, 3600L) && !hasSuccess(path, 7200L))
    // committed-only read = the Hive-consumer view: row 3's partition is
    // still open and therefore absent even though its file is on disk
    val seen = PartitionCommit.readCommitted(spark, path, "hr")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(seen == Seq(1L, 2L))
    // batch 3 re-delivers old data (at-least-once): commit is idempotent,
    // no failure on the existing _SUCCESS markers
    mem.addData((4L, 4.0, 20L))
    q.processAllAvailable()
    assert(hasSuccess(path, 0L))
    q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("sink.partition-commit.* options parse with reference keys") {
    val o = PartitionCommit.options(Map(
      "sink.partition-commit.trigger" -> "partition-time",
      "sink.partition-commit.delay" -> "1 h",
      "sink.partition-commit.policy.kind" -> "success-file"))
    assert(o == PartitionCommit.Options("partition-time", 3600L, "success-file"))
    assert(PartitionCommit.options(Map.empty) ==
      PartitionCommit.Options("partition-time", 0L, "success-file"))
  }

  test("a replayed batch (same commit tag + batch id) is skipped, not duplicated") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = Tables.scratch(s"pc-replay/${java.util.UUID.randomUUID()}")
    def drain(tag: String): Long = {
      val mem = MemoryStream[(Long, Double, Long)]
      val df = mem.toDF().toDF("event_id", "value", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withColumn("hr", (floor(col("sec") / 3600) * 3600).cast("long"))
        .select("event_id", "value", "ts", "hr")
      val at = PartitionCommit.attach(df, path, "hr", 3600L, "ts",
        commitTag = tag)
      val q = at.writer.start()
      mem.addData((1L, 1.0, 10L), (2L, 2.0, 3605L)) // batch 0 both times
      q.processAllAvailable(); q.stop()
      at.rowsWritten
    }
    // first attempt commits batch 0; the "replay" (same tag, batch ids
    // restart at 0) must see the commit record and skip — the crash-between-
    // write-and-checkpoint scenario that used to duplicate rows
    assert(drain("tagA") == 2L)
    assert(drain("tagA") == 0L)
    // hr=3600 stays open (wm 3605 < its end 7200): only event 1 visible
    val once = PartitionCommit.readCommitted(spark, path, "hr")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(once == Seq(1L))
    // a DIFFERENT tag is a different writer: its batch 0 appends normally
    assert(drain("tagB") == 2L)
    val twice = PartitionCommit.readCommitted(spark, path, "hr")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(twice == Seq(1L, 1L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("a crashed earlier attempt's leftover files are replaced, not doubled") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = owned(Tables.scratch(s"pc-crash/${java.util.UUID.randomUUID()}"))
    // simulate a crash after promote but before the commit record: data
    // files for (tag, batch 0) already sit in the partition dir with the
    // batch-unique prefix, but no commit record exists
    val stale = java.nio.file.Paths.get(path, "hr=0")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("t-b0-stale.parquet"),
      "not parquet".getBytes)
    val mem = MemoryStream[(Long, Double, Long)]
    val df = mem.toDF().toDF("event_id", "value", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("hr", (floor(col("sec") / 3600) * 3600).cast("long"))
      .select("event_id", "value", "ts", "hr")
    val q = PartitionCommit.foreachBatchPartitioned(df, path, "hr", 3600L, "ts",
      commitTag = "t").start()
    mem.addData((1L, 1.0, 10L), (2L, 2.0, 3605L))
    q.processAllAvailable(); q.stop()
    // the stale leftover was deleted before the move; the committed read
    // sees exactly one copy (and doesn't choke on the junk file)
    assert(!java.nio.file.Files.exists(stale.resolve("t-b0-stale.parquet")))
    val seen = PartitionCommit.readCommitted(spark, path, "hr")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(seen == Seq(1L))
  }

  test("the committer watermark is restored from the commit records") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = Tables.scratch(s"pc-restore/${java.util.UUID.randomUUID()}")
    def one(tag: String, rows: (Long, Double, Long)*): Unit = {
      val mem = MemoryStream[(Long, Double, Long)]
      val df = mem.toDF().toDF("event_id", "value", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withColumn("hr", (floor(col("sec") / 3600) * 3600).cast("long"))
        .select("event_id", "value", "ts", "hr")
      val q = PartitionCommit.foreachBatchPartitioned(df, path, "hr", 3600L,
        "ts", commitTag = tag).start()
      mem.addData(rows: _*); q.processAllAvailable(); q.stop()
    }
    // writer A leaves watermark 7250 in its commit record
    one("wA", (1L, 1.0, 10L), (2L, 2.0, 7250L))
    assert(hasSuccess(path, 0L) && !hasSuccess(path, 7200L))
    // writer B's own batch watermark is only 3650 — hour 3600 commits
    // anyway because the restored watermark (7250) never regresses
    one("wB", (3L, 3.0, 3650L))
    assert(hasSuccess(path, 3600L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("a real checkpoint restart resumes batch ids and committer state") {
    // not a simulation: two query INCARNATIONS over one file-stream source
    // and one checkpoint — the restart continues batch ids (no replay
    // collision) and restores the committer watermark from the records
    val sparkS = spark
    import sparkS.implicits._
    val root = Tables.scratch(s"pc-restart/${java.util.UUID.randomUUID()}")
    val srcDir = s"$root/src"; val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def addFile(rows: (Long, Double, Long)*): Unit =
      rows.toSeq.toDF("event_id", "value", "sec")
        .repartition(1).write.mode("append").parquet(srcDir)
    def drain(): Unit = {
      val df = spark.readStream
        .schema("event_id LONG, value DOUBLE, sec LONG")
        .parquet(srcDir)
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withColumn("hr", (floor(col("sec") / 3600) * 3600).cast("long"))
        .select("event_id", "value", "ts", "hr")
      val q = PartitionCommit.foreachBatchPartitioned(df, sink, "hr", 3600L,
          "ts", commitTag = Integer.toHexString(ckpt.hashCode))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // incarnation 1: watermark reaches 7250, hour 0 commits, 7200 open
    addFile((1L, 1.0, 10L), (2L, 2.0, 7250L))
    drain()
    assert(hasSuccess(sink, 0L) && !hasSuccess(sink, 7200L))
    // incarnation 2 (same checkpoint): its only row has wm 3650, but the
    // restored committer watermark (7250) commits hour 3600 immediately
    addFile((3L, 3.0, 3650L))
    drain()
    assert(hasSuccess(sink, 3600L))
    val seen = PartitionCommit.readCommitted(spark, sink, "hr")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(seen == Seq(1L, 3L)) // row 2's partition is still open; no dupes
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("commit delay holds a ready partition back") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = Tables.scratch(s"pc-delay/${java.util.UUID.randomUUID()}")
    val mem = MemoryStream[(Long, Double, Long)]
    val df = mem.toDF().toDF("event_id", "value", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("hr", (floor(col("sec") / 3600) * 3600).cast("long"))
      .select("event_id", "value", "ts", "hr")
    val q = PartitionCommit.foreachBatchPartitioned(
      df, path, "hr", 3600L, "ts", delaySec = 600L).start()
    // watermark 3700 passes hour 0's end (3600) but not end+delay (4200)
    mem.addData((1L, 1.0, 100L), (2L, 2.0, 3700L))
    q.processAllAvailable()
    assert(!hasSuccess(path, 0L))
    mem.addData((3L, 3.0, 4300L)) // now 4300 >= 4200: commits
    q.processAllAvailable()
    assert(hasSuccess(path, 0L))
    q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }
}
