package graft

import graft.streaming.{GraftCatalog, GraftDdl}

/** Persistent catalog: DDL registered through GraftCatalog survives the
  * session (reference HiveCatalog durability vs GenericInMemoryCatalog —
  * Catalog.java contract) and replays into a fresh one. `spark.newSession()`
  * shares the SparkContext but has its OWN temp-view catalog, so a table
  * visible there proves re-registration, not leakage. */
class GraftCatalogSpec extends GraftSpec {

  test("DDL persists: a new session sees nothing until restore replays it") {
    val catDir = Tables.scratch("catalog/spec1")
    val name = GraftCatalog.executeDdl(spark, catDir,
      s"""CREATE TABLE cat_events (
         |  event_id BIGINT,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$sfDir', 'table' = 'events')""".stripMargin)
    assert(name == "cat_events")
    assert(spark.table("cat_events").isStreaming)

    val s2 = spark.newSession()
    assert(!s2.catalog.tableExists("cat_events")) // fresh temp-view catalog

    val restored = GraftCatalog.restore(s2, catDir)
    assert(restored == Seq("cat_events"))
    assert(s2.table("cat_events").isStreaming)
    assert(s2.table("cat_events").queryExecution.analyzed.toString
      .contains("EventTimeWatermark"))
  }

  test("last definition wins; drop removes the stored DDL") {
    val catDir = Tables.scratch("catalog/spec2")
    GraftCatalog.executeDdl(spark, catDir,
      s"""CREATE TABLE cat_v (event_id BIGINT, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    // redefine with a different delay — the stored text must be the new one
    GraftCatalog.executeDdl(spark, catDir,
      s"""CREATE TABLE cat_v (event_id BIGINT, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '30' SECOND
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    val s2 = spark.newSession()
    GraftCatalog.restore(s2, catDir)
    assert(s2.table("cat_v").queryExecution.analyzed.toString.contains("30 seconds"))
    assert(GraftCatalog.drop(catDir, "cat_v"))
    assert(GraftCatalog.restore(spark.newSession(), catDir).isEmpty)
  }

  test("unparseable DDL is rejected and never persisted") {
    val catDir = Tables.scratch("catalog/spec3")
    intercept[IllegalArgumentException] {
      GraftCatalog.executeDdl(spark, catDir, "CREATE TABLE broken")
    }
    assert(GraftCatalog.restore(spark.newSession(), catDir).isEmpty)
  }

  test("views and functions persist; restore replays tables -> functions -> views") {
    val catDir = Tables.scratch("catalog/spec5")
    Tables.registerAll(spark, sfDir)
    GraftCatalog.executeSql(spark, catDir,
      "CREATE FUNCTION cat_shout AS 'upper'")
    // the view BODY uses both the persisted function and idiom text — only
    // dependency-ordered replay through the unified dispatcher can rebuild it
    GraftCatalog.executeSql(spark, catDir,
      """CREATE VIEW cat_view AS
        |SELECT cat_shout(event_type) AS t,
        |       unix_timestamp(TUMBLE_START(ts, INTERVAL '60' MINUTE)) AS w,
        |       count(*) AS n
        |FROM events GROUP BY event_type, TUMBLE(ts, INTERVAL '60' MINUTE)"""
        .stripMargin)
    val s2 = spark.newSession()
    Tables.registerAll(s2, sfDir)
    assert(!s2.catalog.tableExists("cat_view"))
    val restored = GraftCatalog.restore(s2, catDir)
    assert(restored.indexOf("cat_shout") < restored.indexOf("cat_view"),
      s"function must replay before the view that calls it: $restored")
    assert(s2.table("cat_view").count() > 0)
    assert(s2.sql("SELECT cat_shout('ok') AS s").collect().head.getString(0) == "OK")
    // non-persistable statements are rejected, nothing stored
    intercept[IllegalArgumentException] {
      GraftCatalog.executeSql(spark, catDir, "SELECT 1")
    }
    // a view body that fails execution is never persisted
    intercept[Exception] {
      GraftCatalog.executeSql(spark, catDir,
        "CREATE VIEW cat_broken AS SELECT * FROM no_such_table_xyz")
    }
    val s3 = spark.newSession()
    Tables.registerAll(s3, sfDir)
    assert(!GraftCatalog.restore(s3, catDir).contains("cat_broken"))
  }

  test("sink DDL round-trips through the catalog too") {
    val catDir = Tables.scratch("catalog/spec4")
    val sinkPath = Tables.scratch("catalog/spec4-sink")
    GraftCatalog.executeDdl(spark, catDir,
      s"CREATE TABLE cat_sink (n BIGINT) WITH ('path' = '$sinkPath')")
    // the sink registry is per session: the new session starts without it,
    // so seeing it afterwards proves restore() REPLAYED the DDL
    val restored = spark.newSession()
    assert(GraftDdl.sink(restored, "cat_sink").isEmpty)
    GraftCatalog.restore(restored, catDir)
    assert(GraftDdl.sink(restored, "cat_sink").exists(_.path == sinkPath))
  }

  test("PARTITIONED BY and PRIMARY KEY survive catalog replay") {
    val catDir = Tables.scratch("catalog/spec-partpk")
    GraftCatalog.executeDdl(spark, catDir,
      """CREATE TABLE cat_partpk (k BIGINT, dt STRING, v DOUBLE,
        |  PRIMARY KEY (k) NOT ENFORCED)
        |PARTITIONED BY (dt)
        |WITH ('path' = '/tmp/cat-partpk', 'format' = 'parquet')""".stripMargin)
    val restored = spark.newSession()
    assert(GraftDdl.sink(restored, "cat_partpk").isEmpty)
    GraftCatalog.restore(restored, catDir)
    val sd = GraftDdl.sink(restored, "cat_partpk").get
    assert(sd.primaryKey == Seq("k"))
    assert(sd.partitions == Seq("dt"))
  }
}
