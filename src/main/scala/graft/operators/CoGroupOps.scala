package graft.operators

import graft.{Q, Tables}
import graft.sources.KafkaLog
import scala.concurrent.Future
import scala.concurrent.duration._

/** CoGroup, async-I/O, and connector-roundtrip queries — oracle-checked
  * surfaces for operators that previously only had ScalaTest coverage.
  *
  *  - coGroup (reference DataStream.coGroup / CoGroupedStreams.java:62;
  *    DataSet CoGroupOperator.java:51): per-key dual-iterator combine. The
  *    Spark-first shape is `KeyValueGroupedDataset.cogroup`, which is a
  *    single co-partitioned shuffle of both sides (same plan as the
  *    reference's CoGroup: hash-partition both inputs on the key, then one
  *    sorted sub-iterator per side per key).
  *  - async I/O (reference AsyncDataStream.java:43): bounded in-flight
  *    ordered async enrichment, here against a deterministic digest
  *    "service" so the result is oracle-checkable.
  *  - Kafka-shaped log roundtrip (reference FlinkKafkaProducer/Consumer
  *    contract): write a keyed record batch through the exactly-once
  *    segment layout, read it back via the consumer API.
  */
object CoGroupOps {

  case class OrdK(o_orderkey: Long, o_totalprice: Double)
  case class ItemK(l_orderkey: Long, l_quantity: Double)
  case class CoOut(orderkey: Long, n_orders: Long, n_items: Long, sum_qty: Double)

  /** coGroup orders with lineitem on orderkey: both group iterators visible
    * at once (count + sum across the item side). Full-outer key semantics —
    * a key present on either side produces a row. */
  val qCoGroup: Q = Q(
    "q_cogroup",
    (s, dir) => {
      import s.implicits._
      val orders = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_totalprice").as[OrdK]
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity").as[ItemK]
      orders.groupByKey(_.o_orderkey)
        .cogroup(items.groupByKey(_.l_orderkey)) { (k, os, ls) =>
          var nOrders = 0L
          os.foreach(_ => nOrders += 1)
          var nItems = 0L; var sumQty = 0.0
          ls.foreach { i => nItems += 1; sumQty += i.l_quantity }
          Iterator.single(CoOut(k, nOrders, nItems, sumQty))
        }
        .toDF().orderBy($"orderkey")
    },
    Some("""SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS orderkey,
           |       COALESCE(o.n_orders, 0) AS n_orders,
           |       COALESCE(l.n_items, 0) AS n_items,
           |       COALESCE(l.sum_qty, 0.0) AS sum_qty
           |FROM (SELECT o_orderkey, count(*) AS n_orders
           |      FROM orders GROUP BY 1) o
           |FULL JOIN (SELECT l_orderkey, count(*) AS n_items,
           |                  sum(l_quantity) AS sum_qty
           |           FROM lineitem GROUP BY 1) l
           |  ON o.o_orderkey = l.l_orderkey
           |ORDER BY orderkey""".stripMargin))

  case class SuppDigest(l_suppkey: Long, digest: String)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Async enrichment of distinct supplier keys against a deterministic
    * digest service (stand-in for an HTTP/KV lookup): 8 in-flight futures
    * per partition, results emitted in input order. */
  val qAsyncLookup: Q = Q(
    "q_async_lookup",
    (s, dir) => {
      import s.implicits._
      val keys = Tables.t(s, dir, "lineitem")
        .select($"l_suppkey").distinct().as[Long]
      AsyncOps.asyncMapPartitions(keys, capacity = 8, timeout = 30.seconds) {
        (k, ec) => Future(SuppDigest(k, md5hex(k.toString)))(ec)
      }.toDF().orderBy($"l_suppkey")
    },
    Some("""SELECT DISTINCT l_suppkey,
           |       md5(CAST(l_suppkey AS VARCHAR)) AS digest
           |FROM lineitem ORDER BY l_suppkey""".stripMargin))

  /** Producer→consumer roundtrip through the Kafka-shaped segment log:
    * purchases keyed by event_id, hash-partitioned into 4 log partitions
    * with monotone offsets, read back via the consumer API. */
  val qKafkaRoundtrip: Q = Q(
    "q_kafka_roundtrip",
    (s, dir) => {
      import s.implicits._
      // log identity includes dataset AND fixture stamp: a committed
      // segment is never rewritten, so a fixed path would serve one scale
      // factor's (or a regenerated fixture's) stale data to another
      val logDir = KafkaLog.stagedLogDir("kafka_rt", dir, "events")
      val records = Tables.t(s, dir, "events")
        .where($"event_type" === "purchase")
        .select($"event_id".cast("string").as("key"),
          $"user_id".cast("string").as("value"), $"ts")
      KafkaLog.writeBatch(records, logDir, "purchases", numPartitions = 4, batchId = 0L)
      KafkaLog.readBatch(s, logDir, "purchases")
        .select($"key".cast("long").as("event_id"),
          $"value".cast("long").as("user_id"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id FROM events
           |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin))

  /** CSV sink→source roundtrip (reference writeAsCsv / CsvTableSource — the
    * reference's own TPC-DS harness registers all 24 tables as CSV sources):
    * write the supplier dim as headered CSV, read it back with an explicit
    * schema, aggregate. Exercises quoting/precision fidelity end-to-end. */
  val qCsvRoundtrip: Q = Q(
    "q_csv_roundtrip",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val csvDir = Tables.scratch("csv_rt")
      val src = Tables.t(s, dir, "supplier")
      src.write.mode("overwrite").option("header", "true").csv(csvDir)
      s.read.schema(src.schema).option("header", "true").csv(csvDir)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum($"s_acctbal"), 2).as("bal"))
        .orderBy($"s_nationkey")
    },
    Some("""SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal
           |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin))

  /** Upsert-kafka composition (reference: Kafka sink + upsert semantics —
    * the compacted-topic contract where the latest record per key wins):
    * every event written as a keyed record, then the consumer reconstructs
    * the upsert view as max-offset-per-key. Offsets within a partition are
    * ordered by (key, value), and the value embeds a zero-padded event_id,
    * so max-by-offset is exactly keep-last. */
  val qUpsertKafka: Q = Q(
    "q_upsert_kafka",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val logDir = // dataset- and fixture-stamped: see q_kafka_roundtrip
        KafkaLog.stagedLogDir("kafka_upsert", dir, "events")
      val records = Tables.t(s, dir, "events")
        .select($"user_id".cast("string").as("key"),
          format_string("%012d", $"event_id").as("value"), $"ts")
      KafkaLog.writeBatch(records, logDir, "user_updates", numPartitions = 4, batchId = 0L)
      KafkaLog.readBatch(s, logDir, "user_updates")
        .groupBy($"key")
        .agg(max_by($"value", $"offset").as("value")) // log compaction
        .select($"key".cast("long").as("user_id"),
          $"value".cast("long").as("last_event_id"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, max(event_id) AS last_event_id
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Partitioned layout + partition pruning, end to end: write events
    * date-partitioned (the 100 TB layout), read back with a partition
    * predicate — only the matching directories are listed/scanned
    * (`PartitionPruningSpec` asserts the PartitionFilters; this query checks
    * the ANSWER against the unpartitioned oracle). */
  val qPartitionedScan: Q = Q(
    "q_partitioned_scan",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val pDir = Tables.scratch("events_part")
      Tables.t(s, dir, "events")
        .withColumn("day", to_date($"ts"))
        // cluster rows by partition value before the partitioned write:
        // without it every task opens a writer per day it happens to see
        // (tasks x days small files — the classic 100 TB layout mistake);
        // with it each day is written by exactly one task
        .repartition($"day")
        .write.mode("overwrite").partitionBy("day").parquet(pDir)
      s.read.parquet(pDir)
        .where($"day" === lit(java.sql.Date.valueOf("2024-01-01")))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total
           |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  val all: Seq[Q] = Seq(qCoGroup, qAsyncLookup, qKafkaRoundtrip, qCsvRoundtrip,
    qPartitionedScan, qUpsertKafka)
}
