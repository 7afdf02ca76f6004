package graft

import graft.streaming.{GraftDdl, StreamingOps}
import graft.operators.GraftSql

/** Round-8 DDL features: computed columns (SqlCreateTable.java:56 computed
  * SqlTableColumn), CREATE TABLE … LIKE (FLIP-110 options merging), and the
  * door's DESCRIBE / SHOW FUNCTIONS / USE / qualified-name handling. */
class DdlFeatureSpec extends GraftSpec {

  test("computed columns project onto the registered view; watermark rides a computed rowtime") {
    val name = GraftDdl.executeDdl(spark,
      s"""CREATE TABLE ev_comp (
         |  event_id BIGINT,
         |  v2 AS value * 2,
         |  rt AS ts + INTERVAL '30' MINUTE,
         |  WATERMARK FOR rt AS rt - INTERVAL '5' SECONDS
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    assert(name == "ev_comp")
    val df = spark.table("ev_comp")
    assert(df.isStreaming)
    assert(df.columns.contains("v2") && df.columns.contains("rt"))
    assert(df.queryExecution.analyzed.toString.contains("EventTimeWatermark"))
    val out = StreamingOps.runToMemory(spark,
      df.groupBy().sum("v2"), "complete", "ddl_comp_sum")
    val expect = Tables.t(spark, sfDir, "events")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("value") * 2)).collect().head.getDouble(0)
    assert(math.abs(out.collect().head.getDouble(0) - expect) < 1e-6)
  }

  test("computedColumns parser: skips WATERMARK/PRIMARY KEY, keeps fn-call exprs") {
    val cc = GraftDdl.computedColumns(
      """id BIGINT, cost AS price * quantity,
        |rt AS TO_TIMESTAMP(s, 'yyyy-MM-dd'),
        |PRIMARY KEY (id) NOT ENFORCED,
        |WATERMARK FOR rt AS rt - INTERVAL '5' SECOND""".stripMargin)
    assert(cc == Seq(
      "cost" -> "price * quantity", "rt" -> "TO_TIMESTAMP(s, 'yyyy-MM-dd')"))
  }

  test("LIKE resolves against the base definition; derived option wins with OVERWRITING OPTIONS") {
    GraftDdl.executeDdl(spark,
      "CREATE TABLE like_base (a BIGINT, b STRING) " +
        "WITH ('path' = '/tmp/like-a', 'format' = 'parquet')")
    val resolved = GraftDdl.resolveDdl(spark,
      "CREATE TABLE like_derived WITH ('path' = '/tmp/like-b') " +
        "LIKE like_base (OVERWRITING OPTIONS)")
    assert(resolved.contains("'path' = '/tmp/like-b'"))
    assert(resolved.contains("'format' = 'parquet'"))
    assert(resolved.contains("a BIGINT, b STRING"))
    val name = GraftDdl.executeDdl(spark,
      "CREATE TABLE like_derived WITH ('path' = '/tmp/like-b') " +
        "LIKE like_base (OVERWRITING OPTIONS)")
    assert(name == "like_derived")
    assert(GraftDdl.sink(spark, "like_derived").get.path == "/tmp/like-b")
    assert(GraftDdl.sink(spark, "like_derived").get.format == "parquet")
  }

  test("LIKE without OVERWRITING OPTIONS rejects a redeclared option") {
    GraftDdl.executeDdl(spark,
      "CREATE TABLE like_base2 (a BIGINT) WITH ('path' = '/tmp/lb2')")
    val e = intercept[IllegalArgumentException] {
      GraftDdl.executeDdl(spark,
        "CREATE TABLE like_d2 WITH ('path' = '/tmp/other') LIKE like_base2")
    }
    assert(e.getMessage.contains("OVERWRITING OPTIONS"))
  }

  test("OVERWRITING WATERMARKS: the derived clause replaces the base's, INCLUDING errors on redeclare") {
    GraftDdl.executeDdl(spark,
      s"""CREATE TABLE like_wmbase (
         |  event_id BIGINT, ts TIMESTAMP,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECONDS
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    val resolved = GraftDdl.resolveDdl(spark,
      "CREATE TABLE like_wmd (WATERMARK FOR ts AS ts - INTERVAL '60' SECONDS) " +
        "WITH ('path' = '/tmp/like-wm2') LIKE like_wmbase (OVERWRITING OPTIONS, OVERWRITING WATERMARKS)")
    assert(resolved.contains("'60' SECONDS"), resolved)
    assert(!resolved.contains("'5' SECONDS"),
      s"base watermark must not survive OVERWRITING WATERMARKS:\n$resolved")
    val e = intercept[IllegalArgumentException] {
      GraftDdl.resolveDdl(spark,
        "CREATE TABLE like_wmd2 (WATERMARK FOR ts AS ts - INTERVAL '60' SECONDS) " +
          "WITH ('path' = '/tmp/like-wm3') LIKE like_wmbase (OVERWRITING OPTIONS)")
    }
    assert(e.getMessage.contains("OVERWRITING WATERMARKS"), e.getMessage)
  }

  test("OVERWRITING CONSTRAINTS: the derived PRIMARY KEY wins") {
    GraftDdl.executeDdl(spark,
      "CREATE TABLE like_pkbase (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED) " +
        "WITH ('path' = '/tmp/like-pk', 'format' = 'parquet')")
    val resolved = GraftDdl.resolveDdl(spark,
      "CREATE TABLE like_pkd (PRIMARY KEY (v) NOT ENFORCED) " +
        "WITH ('path' = '/tmp/like-pk2') LIKE like_pkbase (OVERWRITING OPTIONS, OVERWRITING CONSTRAINTS)")
    assert(resolved.contains("PRIMARY KEY (v)"), resolved)
    assert(!resolved.contains("PRIMARY KEY (k)"),
      s"base primary key must not survive OVERWRITING CONSTRAINTS:\n$resolved")
  }

  test("LIKE (EXCLUDING ALL) keeps the base's physical columns, drops features") {
    GraftDdl.executeDdl(spark,
      s"""CREATE TABLE like_feat (
         |  event_id BIGINT, ts TIMESTAMP, v2 AS value * 2,
         |  PRIMARY KEY (event_id) NOT ENFORCED,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECONDS
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    val resolved = GraftDdl.resolveDdl(spark,
      "CREATE TABLE like_xall WITH ('path' = '/tmp/like-xall') " +
        "LIKE like_feat (EXCLUDING ALL)")
    // physical schema ALWAYS inherits (MergeTableLikeUtil); features drop
    assert(resolved.contains("event_id BIGINT") && resolved.contains("ts TIMESTAMP"))
    assert(!resolved.toUpperCase.contains("WATERMARK"))
    assert(!resolved.toUpperCase.contains("PRIMARY"))
    assert(!resolved.contains("v2 AS"))
    assert(!resolved.contains("'table'")) // options excluded
    assert(resolved.contains("'path' = '/tmp/like-xall'"))
  }

  test("LIKE per-feature strategies: EXCLUDING WATERMARKS keeps computed cols and constraints") {
    val resolved = GraftDdl.resolveDdl(spark,
      "CREATE TABLE like_nowm WITH ('path' = '/tmp/like-nowm') " +
        "LIKE like_feat (EXCLUDING WATERMARKS, OVERWRITING OPTIONS)")
    assert(!resolved.toUpperCase.contains("WATERMARK"))
    assert(resolved.contains("v2 AS value * 2"))
    assert(resolved.toUpperCase.contains("PRIMARY KEY"))
    assert(resolved.contains("'table' = 'events'")) // options still inherit
    assert(resolved.contains("'path' = '/tmp/like-nowm'"))
  }

  test("LIKE (EXCLUDING ALL) on a watermarked base registers a usable sink, not an empty schema") {
    val name = GraftDdl.executeDdl(spark,
      "CREATE TABLE like_xall_sink WITH ('path' = '/tmp/like-xall-s') " +
        "LIKE like_feat (EXCLUDING ALL)")
    assert(name == "like_xall_sink")
    // no watermark clause survives → registers as a sink with the derived path
    assert(GraftDdl.sink(spark, "like_xall_sink").get.path == "/tmp/like-xall-s")
  }

  test("LIKE of an unknown base is a clear error") {
    val e = intercept[IllegalArgumentException] {
      GraftDdl.resolveDdl(spark, "CREATE TABLE d WITH ('path' = '/x') LIKE nope")
    }
    assert(e.getMessage.contains("unknown base table"))
  }

  test("PRIMARY KEY in sink DDL registers the upsert key; ALTER preserves it") {
    GraftDdl.executeDdl(spark,
      """CREATE TABLE pk_sink (k BIGINT, g STRING, v DOUBLE,
        |  PRIMARY KEY (k, g) NOT ENFORCED)
        |WITH ('path' = '/tmp/pk-sink', 'format' = 'parquet')""".stripMargin)
    assert(GraftDdl.sink(spark, "pk_sink").get.primaryKey == Seq("k", "g"))
    GraftDdl.alterSink(spark, "pk_sink", "'path' = '/tmp/pk-sink-2'")
    assert(GraftDdl.sink(spark, "pk_sink").get.primaryKey == Seq("k", "g"))
    assert(GraftDdl.sink(spark, "pk_sink").get.path == "/tmp/pk-sink-2")
    // no constraint → no upsert key
    GraftDdl.executeDdl(spark,
      "CREATE TABLE nopk_sink (k BIGINT) WITH ('path' = '/tmp/nopk-sink')")
    assert(GraftDdl.sink(spark, "nopk_sink").get.primaryKey.isEmpty)
  }

  test("PARTITIONED BY registers partition columns; LIKE inherits them unless excluded") {
    GraftDdl.executeDdl(spark,
      """CREATE TABLE part_ddl (id BIGINT, dt STRING, v DOUBLE)
        |PARTITIONED BY (dt)
        |WITH ('path' = '/tmp/part-ddl', 'format' = 'parquet')""".stripMargin)
    assert(GraftDdl.sink(spark, "part_ddl").get.partitions == Seq("dt"))
    val inherited = GraftDdl.resolveDdl(spark,
      "CREATE TABLE part_like WITH ('path' = '/tmp/part-like') " +
        "LIKE part_ddl (OVERWRITING OPTIONS)")
    assert(inherited.contains("PARTITIONED BY (dt)"))
    val excluded = GraftDdl.resolveDdl(spark,
      "CREATE TABLE part_nolike WITH ('path' = '/tmp/part-nolike') " +
        "LIKE part_ddl (EXCLUDING PARTITIONS, OVERWRITING OPTIONS)")
    assert(!excluded.toUpperCase.contains("PARTITIONED"))
  }

  test("static PARTITION value outside the declared columns is a clear error") {
    GraftSql.run(spark,
      "CREATE TABLE part_err (x BIGINT, dt STRING) PARTITIONED BY (dt) " +
        "WITH ('path' = '/tmp/part-err')")
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark,
        "INSERT INTO part_err PARTITION (nope = '1') SELECT id AS x FROM range(3)")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("dynamic partition insert lays out one directory per value") {
    val p = Tables.scratch("part-dyn/part_dyn")
    GraftSql.run(spark,
      s"CREATE TABLE part_dyn (x BIGINT, par STRING) PARTITIONED BY (par) " +
        s"WITH ('path' = '$p', 'format' = 'parquet')")
    GraftSql.run(spark,
      "INSERT INTO part_dyn SELECT id AS x, " +
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS par FROM range(10)")
    val dirs = new java.io.File(p).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("par=even", "par=odd"))
    assert(spark.read.parquet(p).where("par = 'even'").count() == 5)
  }

  test("door: qualified names with the default catalog/database resolve") {
    GraftSql.run(spark,
      "CREATE VIEW default_catalog.default_database.qn_view AS " +
        s"SELECT 1 AS one")
    assert(spark.catalog.tableExists("qn_view"))
    GraftSql.run(spark, "DROP VIEW default_database.qn_view")
    assert(!spark.catalog.tableExists("qn_view"))
  }

  test("door: a foreign qualifier is rejected with a clear message, not half-run") {
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DROP VIEW somedb.qn_view2")
    }
    assert(e.getMessage.contains("single default catalog"))
  }

  test("door: DESCRIBE of a registered sink shows schema and connector options") {
    val p = Tables.scratch("desc-sink/desc_t")
    GraftSql.run(spark,
      s"CREATE TABLE desc_t (x BIGINT) WITH ('path' = '$p', 'format' = 'parquet')")
    GraftSql.run(spark, "INSERT INTO desc_t SELECT 42 AS x")
    val rows = GraftSql.run(spark, "DESCRIBE desc_t").collect()
    val names = rows.map(_.getString(0)).toSeq
    assert(names.contains("x") && names.contains("path") && names.contains("format"))
  }

  test("door: SHOW FUNCTIONS lists a door-registered alias") {
    GraftSql.run(spark, "CREATE TEMPORARY FUNCTION showfn_probe AS 'upper'")
    val fns = GraftSql.run(spark, "SHOW FUNCTIONS").collect()
      .map(_.getString(0)).toSet
    assert(fns.contains("showfn_probe"))
  }

  test("door: SHOW CATALOGS / DATABASES / VIEWS / MODULES (SqlCommandParser command set)") {
    val cats = GraftSql.run(spark, "SHOW CATALOGS").collect().map(_.getString(0))
    assert(cats.contains("default_catalog"))
    val dbs = GraftSql.run(spark, "SHOW DATABASES").collect().map(_.getString(0))
    assert(dbs.contains("default_database"))
    spark.range(1).createOrReplaceTempView("showviews_probe")
    val views = GraftSql.run(spark, "SHOW VIEWS").collect().map(_.getString(0))
    assert(views.contains("showviews_probe"))
    val mods = GraftSql.run(spark, "SHOW MODULES").collect().map(_.getString(0))
    assert(mods.toSeq == Seq("core"))
  }

  test("door: USE of the default catalog/database is a no-op success") {
    assert(GraftSql.run(spark, "USE CATALOG default_catalog").collect()
      .head.getString(1) == "in use")
    assert(GraftSql.run(spark, "USE default_database").collect()
      .head.getString(1) == "in use")
  }

  test("connector=kafka DDL: json value decode, streaming scan, watermark over the decoded stream") {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val logDir = java.nio.file.Files.createTempDirectory("graft-kafka-ddl").toString
    val records = Tables.t(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .select($"event_id".cast("string").as("key"),
        to_json(struct($"event_id", $"user_id", $"value", $"ts")).as("value"))
    graft.sources.KafkaLog.writeBatch(records, logDir, "ev_json",
      numPartitions = 2, batchId = 0L)
    // batch + json: declared payload columns come back decoded
    GraftSql.run(spark,
      s"""CREATE TABLE kddl_batch (
         |  event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP
         |) WITH ('connector' = 'kafka', 'topic' = 'ev_json',
         |        'path' = '$logDir', 'format' = 'json')""".stripMargin)
    val batch = spark.table("kddl_batch")
    assert(!batch.isStreaming)
    assert(batch.columns.toSeq == Seq("event_id", "user_id", "value", "ts"))
    val expected = Tables.t(spark, sfDir, "events")
      .filter($"event_type" === "purchase").count()
    assert(batch.count() == expected)
    // streaming + watermark: the view streams and windows aggregate over it
    GraftSql.run(spark,
      s"""CREATE TABLE kddl_stream (
         |  event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'kafka', 'topic' = 'ev_json',
         |        'path' = '$logDir', 'format' = 'json',
         |        'scan.mode' = 'streaming')""".stripMargin)
    val sv = spark.table("kddl_stream")
    assert(sv.isStreaming, "scan.mode=streaming must register a streaming view")
    // stateless pass-through emits EVERY record (decode + stream intact)
    val through = StreamingOps.runToMemory(spark,
      sv.select($"event_id"), "append", "kddl_through")
    assert(through.count() == expected)
    // windowed agg emits the CLOSED windows; each must match the batch
    // count for the same day (the unclosed tail window is correctly absent)
    val winOut = StreamingOps.runToMemory(spark,
      sv.groupBy(window($"ts", "1 day")).agg(count(lit(1)).as("n"))
        .select($"window.start".as("d"), $"n"),
      "append", "kddl_agg")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batchWin = batch.groupBy(window($"ts", "1 day")).agg(count(lit(1)).as("n"))
      .select($"window.start".as("d"), $"n")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(winOut.nonEmpty, "no window closed under the final watermark")
    assert(winOut.forall { case (d, n) => batchWin.get(d).contains(n) },
      s"closed windows disagree with batch: $winOut vs $batchWin")
    // raw format (default): the record contract itself
    GraftSql.run(spark,
      s"""CREATE TABLE kddl_raw (x INT) WITH ('connector' = 'kafka',
         |  'topic' = 'ev_json', 'path' = '$logDir')""".stripMargin)
    assert(spark.table("kddl_raw").columns.toSeq ==
      Seq("partition", "offset", "key", "value", "ts"))
    Seq("kddl_batch", "kddl_stream", "kddl_raw").foreach(spark.catalog.dropTempView)
  }
}
