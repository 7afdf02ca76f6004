package graft

import graft.sources.CdcFormats
import graft.streaming.{ChangelogAgg, GraftDdl}
import graft.streaming.ChangelogAgg.{AggChange, AggOut}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

/** CDC format decoders (reference DebeziumJsonDeserializationSchema.java /
  * CanalJsonDeserializationSchema.java): JSON text → +I/-U/+U/-D changelog. */
class CdcFormatsSpec extends GraftSpec {

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("price", DoubleType)))

  private def df(lines: String*) = {
    val sparkS = spark
    import sparkS.implicits._
    lines.toDF("value")
  }

  private def decodeD(lines: String*): Seq[Row] =
    CdcFormats.debezium(df(lines: _*), payload).collect().toSeq

  test("debezium: c/r insert, u retract+upsert, d delete") {
    val rows = decodeD(
      """{"before":null,"after":{"id":1,"name":"a","price":1.5},"op":"c"}""",
      """{"before":null,"after":{"id":2,"name":"b","price":2.0},"op":"r"}""",
      """{"before":{"id":1,"name":"a","price":1.5},"after":{"id":1,"name":"a","price":9.0},"op":"u"}""",
      """{"before":{"id":2,"name":"b","price":2.0},"after":null,"op":"d"}""")
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(3))) == Seq(
      ("+I", 1L, 1.5), ("+I", 2L, 2.0),
      ("-U", 1L, 1.5), ("+U", 1L, 9.0),
      ("-D", 2L, 2.0)))
  }

  test("debezium: tombstones (empty values) are skipped") {
    val rows = decodeD(
      "", """{"before":null,"after":{"id":1,"name":"a","price":1.0},"op":"c"}""")
    assert(rows.size == 1 && rows.head.getString(0) == "+I")
  }

  test("debezium: Kafka Connect schema envelope (payload nesting)") {
    val line =
      """{"schema":{"ignored":true},"payload":{"before":null,""" +
        """"after":{"id":3,"name":"c","price":3.0},"op":"c"}}"""
    val rows = CdcFormats.debezium(df(line), payload, schemaInclude = true)
      .collect().toSeq
    assert(rows.map(r => (r.getString(0), r.getLong(1))) == Seq(("+I", 3L)))
  }

  test("debezium: update without before is the REPLICA IDENTITY error") {
    val e = intercept[Exception] {
      decodeD("""{"before":null,"after":{"id":1,"name":"a","price":1.0},"op":"u"}""")
    }
    assert(e.getMessage.contains("REPLICA IDENTITY") ||
      e.getCause != null && e.getCause.getMessage.contains("REPLICA IDENTITY"))
  }

  test("debezium: unknown op raises") {
    val e = intercept[Exception] { decodeD("""{"before":null,"after":null,"op":"x"}""") }
    assert(e.getMessage.contains("unknown debezium op") ||
      e.getCause != null && e.getCause.getMessage.contains("unknown debezium op"))
  }

  test("canal: multi-row arrays; UPDATE merges partial old images") {
    val rows = CdcFormats.canal(df(
      """{"data":[{"id":1,"name":"a","price":1.0},{"id":2,"name":"b","price":2.0}],"old":null,"type":"INSERT"}""",
      // old carries ONLY the changed column (price): id/name must be
      // copied from the new row into the -U image
      """{"data":[{"id":1,"name":"a","price":5.0}],"old":[{"price":1.0}],"type":"UPDATE"}""",
      """{"data":[{"id":2,"name":"b","price":2.0}],"old":null,"type":"DELETE"}"""),
      payload).collect().toSeq
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))) == Seq(
      ("+I", 1L, "a", 1.0), ("+I", 2L, "b", 2.0),
      ("-U", 1L, "a", 1.0), ("+U", 1L, "a", 5.0),
      ("-D", 2L, "b", 2.0)))
  }

  test("canal: unknown type raises") {
    val e = intercept[Exception] {
      CdcFormats.canal(df("""{"data":[],"old":null,"type":"TRUNCATE"}"""), payload)
        .collect()
    }
    assert(e.getMessage.contains("unknown canal type") ||
      e.getCause != null && e.getCause.getMessage.contains("unknown canal type"))
  }

  test("streaming: updates and deletes arrive out of order across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val mem = MemoryStream[String]
    val changelog = CdcFormats.debezium(mem.toDF(), payload)
    val changes = changelog.select("kind", "id", "price")
      .as[(String, Long, Double)]
      .map { case (kind, id, price) => AggChange[Long](id % 2, id, kind, price) }
    val agg = ChangelogAgg.agg(changes)
    val emitted = scala.collection.mutable.ArrayBuffer[AggOut[Long]]()
    val q = agg.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[AggOut[Long]], _: Long) =>
        emitted.synchronized { emitted ++= batch.collect() }
        ()
    }.start()

    // batch 1: two inserts on bucket 0, one on bucket 1
    mem.addData(
      """{"before":null,"after":{"id":2,"name":"a","price":10.0},"op":"c"}""",
      """{"before":null,"after":{"id":4,"name":"b","price":20.0},"op":"c"}""",
      """{"before":null,"after":{"id":3,"name":"c","price":7.0},"op":"c"}""")
    q.processAllAvailable()
    // batch 2: the DELETE of id=4 arrives BEFORE its update ever will —
    // and an update for id=2 retracts state built a batch earlier
    mem.addData(
      """{"before":{"id":4,"name":"b","price":20.0},"after":null,"op":"d"}""",
      """{"before":{"id":2,"name":"a","price":10.0},"after":{"id":2,"name":"a","price":99.0},"op":"u"}""")
    q.processAllAvailable()
    // batch 3: delete the last live row of bucket 1 → -D emission
    mem.addData(
      """{"before":{"id":3,"name":"c","price":7.0},"after":null,"op":"d"}""")
    q.processAllAvailable()
    q.stop()

    val byKind = emitted.groupBy(_.kind)
    // bucket 0 history: +I(30) then -U(30)/+U(99); bucket 1: +I(7) then -D
    assert(byKind("+I").map(o => (o.key, o.total)).toSet == Set((0L, 30.0), (1L, 7.0)))
    assert(byKind("+U").map(o => (o.key, o.total)).toSet == Set((0L, 99.0)))
    assert(byKind("-D").map(_.key).toSet == Set(1L))
    // final materialized state: bucket 0 holds one live row worth 99
    val fin = emitted.foldLeft(Map.empty[Long, (Long, Double)]) { (m, o) =>
      o.kind match {
        case "+I" | "+U" => m.updated(o.key, (o.cnt, o.total))
        case "-D" => m - o.key
        case _ => m
      }
    }
    assert(fin == Map(0L -> ((1L, 99.0))))
  }

  test("retract-aware upsert sink: +I/+U put, -D deletes the key, -U skipped") {
    import graft.streaming.UpsertSink
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)] // (kind, key, value)
    val df = mem.toDF().toDF("kind", "key", "value")
    val store = new UpsertSink.InMemoryStore()
    val q = UpsertSink.foreachBatchChangelog(df, "kind", Seq("key"), store).start()
    mem.addData(("+I", 1L, 10.0), ("+I", 2L, 20.0))
    q.processAllAvailable()
    mem.addData(("-U", 1L, 10.0), ("+U", 1L, 11.0)) // upsert pair
    q.processAllAvailable()
    assert(store.snapshot()(Seq(1L))(2) == 11.0)
    mem.addData(("-D", 2L, 20.0)) // delete arrives a batch later
    q.processAllAvailable()
    q.stop()
    val fin = store.snapshot()
    store.close()
    assert(fin.keySet == Set(Seq(1L)))
  }

  test("q_cdc_stream replays the phased feed across multiple micro-batches") {
    // the phased writer puts inserts/updates/deletes in mod-time-ordered
    // files and the query caps one file per trigger: the retractions MUST
    // cross micro-batch boundaries for the final state to be meaningful
    val feed = CdcFormats.writeDebeziumFeedPhased(spark, sfDir)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(feed))
      .filter(p => p.getFileName.toString.startsWith("part-")).count()
    assert(files >= 3, s"phased feed should span several files, got $files")
    val out = SparkEntry.queries("q_cdc_stream")(spark, sfDir).collect()
    assert(out.length == 5) // one row per order priority
  }

  test("phased feed pads tiny phases to PhaseFiles so one batch = one phase") {
    // ADVICE r20 / r21: Spark omits files for empty partitions, so a phase
    // smaller than PhaseFiles rows could emit fewer files — and the
    // consumers' maxFilesPerTrigger = PhaseFiles would pull the next
    // phase's files into the same batch, merging a retraction with its
    // insert's batch. The writer now pads with zero-row gzip members; a
    // 2-order input (1 even key for the update phase, 1 'F' key for the
    // delete phase) exercises every pad path.
    val sparkS = spark
    import sparkS.implicits._
    val dir = owned(java.nio.file.Files.createTempDirectory("cdc-pad-").toString)
    val ts = java.sql.Timestamp.valueOf("1996-01-02 00:00:00")
    Seq(
      (2L, 10L, "F", 100.0, ts, "1-URGENT"),
      (5L, 11L, "O", 200.0, ts, "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // the feed's root is named after the unique fixture dir: nothing reuses it
    val feed = owned(CdcFormats.writeDebeziumFeedPhased(spark, dir))
    for (phase <- Seq("0_ins", "1_upd", "2_del")) {
      val files = new java.io.File(s"$feed/$phase").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(files.length == CdcFormats.PhaseFiles,
        s"$phase: ${files.length} files, want ${CdcFormats.PhaseFiles}")
    }
    // replay with the consumers' trigger cap: each batch must carry exactly
    // one phase's change kinds — never a mix
    val batches = scala.collection.mutable.Map[Long, Set[String]]()
    val raw = spark.readStream
      .option("maxFilesPerTrigger", CdcFormats.PhaseFiles).text(s"$feed/*/")
    val q = CdcFormats.debezium(raw, CdcFormats.feedSchema)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        owned(graft.streaming.StreamingOps.freshCheckpoint("cdc-pad-spec")))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val kinds = b.select("kind").collect().map(_.getString(0)).toSet
        batches.synchronized { batches(id) = kinds }; ()
      }.start()
    q.processAllAvailable(); q.stop()
    val nonEmpty = batches.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
    assert(nonEmpty == Seq(Set("+I"), Set("-U", "+U"), Set("-D")),
      s"phases bled across batches: $batches")
  }

  test("upsert store converges under at-least-once replay with interleaved keys") {
    import graft.streaming.UpsertSink
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val df = mem.toDF().toDF("kind", "key", "value")
    val store = new UpsertSink.InMemoryStore()
    val q = UpsertSink.foreachBatchChangelog(df, "kind", Seq("key"), store).start()
    // inserts arrive key-shuffled (no consumer may lean on key order)
    mem.addData(("+I", 2L, 20.0), ("+I", 3L, 30.0), ("+I", 1L, 10.0))
    q.processAllAvailable()
    // the update/delete suffix, keys interleaved within the batch
    mem.addData(("-D", 3L, 30.0), ("-U", 2L, 20.0), ("+U", 2L, 22.0))
    q.processAllAvailable()
    // a consumer restart replays the SAME suffix (at-least-once delivery):
    // per-key order is preserved, every message is a duplicate
    mem.addData(("-D", 3L, 30.0), ("-U", 2L, 20.0), ("+U", 2L, 22.0))
    q.processAllAvailable()
    q.stop()
    val fin = store.snapshot()
    store.close()
    // identical to the no-replay state: puts of the same image and deletes
    // of absent keys are no-ops — at-least-once + keyed upsert = once
    assert(fin.keySet == Set(Seq(1L), Seq(2L)))
    assert(fin(Seq(2L))(2) == 22.0 && fin(Seq(1L))(2) == 10.0)
  }

  test("q_cdc_replay: replayed feed has the duplicate suffix phases on disk") {
    val feed = CdcFormats.writeDebeziumFeedReplayed(spark, sfDir)
    val subs = new java.io.File(feed).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(subs.toSeq == Seq("0_ins", "1_upd", "2_del", "3_replay_upd", "4_replay_del"))
    // replayed phases carry byte-identical change sets to the originals
    def lines(sub: String) =
      spark.read.text(s"$feed/$sub").collect().map(_.getString(0)).sorted.toSeq
    assert(lines("3_replay_upd") == lines("1_upd"))
    assert(lines("4_replay_del") == lines("2_del"))
  }

  test("DDL: CREATE TABLE with 'format'='debezium-json' registers a changelog view") {
    val dir = Tables.scratch("cdc-ddl-spec")
    val sparkS = spark
    import sparkS.implicits._
    Seq(
      """{"before":null,"after":{"id":1,"name":"a","price":1.0},"op":"c"}""",
      """{"before":{"id":1,"name":"a","price":1.0},"after":{"id":1,"name":"a","price":2.0},"op":"u"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val name = GraftDdl.executeDdl(spark,
      s"""CREATE TABLE cdc_spec_src (
         |  id BIGINT, name STRING, price DOUBLE,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) WITH ('format' = 'debezium-json', 'path' = '$dir')""".stripMargin)
    assert(name == "cdc_spec_src")
    val kinds = spark.sql(
      "SELECT kind, count(*) AS n FROM cdc_spec_src GROUP BY kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == Map("+I" -> 1L, "-U" -> 1L, "+U" -> 1L))
  }

  test("ignore-parse-errors drops corrupt/unknown messages instead of failing") {
    val lenientD = CdcFormats.debezium(df(
      """{"before":null,"after":{"id":1,"name":"a","price":1.0},"op":"c"}""",
      """{"before":null,"after":{"id":9,"name":"x","price":9.0},"op":"u"}""", // null before
      """not json at all""",
      """{"before":null,"after":null,"op":"zz"}"""),
      payload, ignoreParseErrors = true).collect()
    assert(lenientD.map(_.getString(0)).toSeq == Seq("+I"))
    val lenientC = CdcFormats.canal(df(
      """{"data":[{"id":1,"name":"a","price":1.0}],"old":null,"type":"INSERT"}""",
      """{"data":[{"id":1,"name":"a","price":2.0}],"old":null,"type":"UPDATE"}""", // null old
      """{"data":[],"old":null,"type":"TRUNCATE"}"""),
      payload, ignoreParseErrors = true).collect()
    assert(lenientC.map(_.getString(0)).toSeq == Seq("+I"))
  }

  test("DDL: ignore-parse-errors option reaches the decoder") {
    val dir = Tables.scratch("cdc-ddl-lenient")
    val sparkS = spark
    import sparkS.implicits._
    Seq(
      """{"before":null,"after":{"id":1,"name":"a","price":1.0},"op":"c"}""",
      """corrupt""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    GraftDdl.executeDdl(spark,
      s"""CREATE TABLE cdc_lenient (id BIGINT, name STRING, price DOUBLE)
         |WITH ('format' = 'debezium-json', 'path' = '$dir',
         |      'debezium-json.ignore-parse-errors' = 'true')""".stripMargin)
    assert(spark.table("cdc_lenient").count() == 1)
  }

  test("CDC table persists through the catalog and replays into a fresh session") {
    import graft.streaming.GraftCatalog
    val dir = Tables.scratch("cdc-catalog/feed")
    val catDir = Tables.scratch("cdc-catalog/cat")
    val sparkS = spark
    import sparkS.implicits._
    Seq("""{"before":null,"after":{"id":7,"name":"z","price":3.0},"op":"c"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    GraftCatalog.executeDdl(spark, catDir,
      s"""CREATE TABLE cdc_persisted (id BIGINT, name STRING, price DOUBLE)
         |WITH ('format' = 'debezium-json', 'path' = '$dir')""".stripMargin)
    val fresh = spark.newSession()
    assert(!fresh.catalog.tableExists("cdc_persisted"))
    val restored = GraftCatalog.restore(fresh, catDir)
    assert(restored.contains("cdc_persisted"))
    val rows = fresh.sql("SELECT kind, id FROM cdc_persisted").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("+I", 7L)))
  }

  test("DDL: unparseable CDC column list fails loudly") {
    intercept[IllegalArgumentException] {
      GraftDdl.executeDdl(spark,
        "CREATE TABLE bad_cdc (id WIBBLE) WITH " +
          "('format' = 'debezium-json', 'path' = '/tmp/x')")
    }
  }
}
