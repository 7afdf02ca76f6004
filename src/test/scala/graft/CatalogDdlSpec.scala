package graft

import operators.GraftSql

/** CREATE/DROP/USE CATALOG through the door (reference SqlCreateCatalog +
  * CatalogManager): a 'graft' catalog persists DDL at its path and replays
  * its contents on registration; 'generic_in_memory' is session-scoped;
  * the current catalog cannot be dropped. */
class CatalogDdlSpec extends GraftSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cat-$tag").toString

  override def afterAll(): Unit = {
    GraftSql.resetNamedCatalogs(spark)
    super.afterAll()
  }

  test("persistent catalog records DDL while current and replays it on re-registration") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = freshDir("persist")
    GraftSql.run(spark, s"CREATE CATALOG cat1 WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG cat1")
    val sink = java.nio.file.Files.createTempDirectory("graft-cat-sink").toString
    GraftSql.run(spark,
      s"CREATE TABLE cat_t1 (k BIGINT, v STRING) WITH ('path' = '$sink', 'format' = 'parquet')")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cat_t1.ddl")),
      "DDL not recorded in the current persistent catalog")
    // a fresh 'session': forget everything, re-register the catalog → replay
    GraftSql.resetNamedCatalogs(spark)
    spark.sql("DROP TABLE IF EXISTS cat_t1")
    GraftSql.run(spark, "DROP VIEW IF EXISTS cat_t1")
    GraftSql.run(spark, s"CREATE CATALOG cat1b WITH ('type'='graft', 'path'='$dir')")
    // the sink table is back in the registry: DESCRIBE answers
    val desc = GraftSql.run(spark, "DESCRIBE cat_t1").collect()
    assert(desc.nonEmpty, "replayed catalog did not restore the sink table")
    GraftSql.resetNamedCatalogs(spark)
  }

  test("DROP of an object while a persistent catalog is current removes its stored DDL") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = freshDir("drop")
    GraftSql.run(spark, s"CREATE CATALOG cat2 WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG cat2")
    GraftSql.run(spark, "CREATE VIEW cat_v1 AS SELECT 1 AS one")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cat_v1.ddl")))
    GraftSql.run(spark, "DROP VIEW cat_v1")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cat_v1.ddl")),
      "stored definition survived the DROP")
    GraftSql.resetNamedCatalogs(spark)
  }

  test("RENAME under a persistent catalog re-records the object under its NEW name") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = freshDir("rename")
    GraftSql.run(spark, s"CREATE CATALOG catr WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG catr")
    val sink = java.nio.file.Files.createTempDirectory("graft-cat-ren-sink").toString
    GraftSql.run(spark,
      s"CREATE TABLE ren_a (k BIGINT) WITH ('path' = '$sink', 'format' = 'parquet')")
    GraftSql.run(spark, "ALTER TABLE ren_a RENAME TO ren_b")
    // the stored definition MOVED: old name gone, new name present and
    // declaring the new table name (the reference's catalog renameTable)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "ren_a.ddl")))
    val stored = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "ren_b.ddl"))
    assert(stored.toLowerCase.contains("create table ren_b"), stored)
    // a fresh session re-opening the catalog restores the RENAMED object
    GraftSql.resetNamedCatalogs(spark)
    val fresh = spark.newSession()
    assert(graft.streaming.GraftDdl.sink(fresh, "ren_b").isEmpty)
    GraftSql.run(fresh, s"CREATE CATALOG catr2 WITH ('type'='graft', 'path'='$dir')")
    assert(graft.streaming.GraftDdl.sink(fresh, "ren_b").isDefined,
      "re-opened catalog must expose the object under its new name")
    // views rename the same way (re-persisted from the retained body)
    GraftSql.run(fresh, "USE CATALOG catr2")
    GraftSql.run(fresh, "CREATE VIEW ren_v1 AS SELECT 1 AS one")
    GraftSql.run(fresh, "ALTER VIEW ren_v1 RENAME TO ren_v2")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "ren_v1.ddl")))
    val storedV = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "ren_v2.ddl"))
    assert(storedV.toLowerCase.contains("ren_v2"), storedV)
    GraftSql.run(spark, "DROP TABLE ren_b")
  }

  test("named catalogs and the current-catalog pointer are PER-SESSION state") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = freshDir("scoped")
    GraftSql.run(spark, s"CREATE CATALOG cat_s1 WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG cat_s1")
    // a SECOND session sees neither the registered catalog nor the current
    // pointer (the reference scopes CatalogManager per TableEnvironment)
    val other = spark.newSession()
    val cats = GraftSql.run(other, "SHOW CATALOGS").collect().map(_.getString(0))
    assert(!cats.contains("cat_s1"), cats.toSeq)
    intercept[Exception] { GraftSql.run(other, "DROP CATALOG cat_s1") }
    // DDL in the other session is NOT recorded into session 1's catalog
    val sink = java.nio.file.Files.createTempDirectory("graft-cat-scope-sink").toString
    GraftSql.run(other,
      s"CREATE TABLE scoped_t (k BIGINT) WITH ('path' = '$sink', 'format' = 'parquet')")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "scoped_t.ddl")),
      "cross-session DDL must not be recorded into another session's catalog")
    GraftSql.resetNamedCatalogs(spark)
  }

  test("generic_in_memory catalog persists nothing; SHOW CATALOGS lists registered names") {
    GraftSql.resetNamedCatalogs(spark)
    GraftSql.run(spark, "CREATE CATALOG mem1 WITH ('type'='generic_in_memory')")
    val names = GraftSql.run(spark, "SHOW CATALOGS").collect().map(_.getString(0)).toSet
    assert(names.contains("mem1") && names.contains("default_catalog"), names)
    GraftSql.run(spark, "USE CATALOG mem1")
    GraftSql.run(spark, "CREATE VIEW cat_v2 AS SELECT 2 AS two")
    // nothing recorded anywhere — in-memory catalogs have no path at all
    GraftSql.run(spark, "USE CATALOG default_catalog")
    GraftSql.run(spark, "DROP CATALOG mem1")
    assert(!GraftSql.run(spark, "SHOW CATALOGS").collect()
      .map(_.getString(0)).contains("mem1"))
    GraftSql.run(spark, "DROP VIEW cat_v2")
    GraftSql.resetNamedCatalogs(spark)
  }

  test("the current catalog cannot be dropped; unknown types and missing options error") {
    GraftSql.resetNamedCatalogs(spark)
    GraftSql.run(spark, "CREATE CATALOG mem2 WITH ('type'='generic_in_memory')")
    GraftSql.run(spark, "USE CATALOG mem2")
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DROP CATALOG mem2")
    }
    assert(e.getMessage.contains("currently in use"), e.getMessage)
    GraftSql.run(spark, "USE CATALOG default_catalog")
    GraftSql.run(spark, "DROP CATALOG mem2")
    assert(intercept[IllegalArgumentException] {
      GraftSql.run(spark, "CREATE CATALOG bad1 WITH ('type'='hive_metastore_9000')")
    }.getMessage.contains("unknown catalog type"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.run(spark, "CREATE CATALOG bad2 WITH ('type'='graft')")
    }.getMessage.contains("requires a 'path'"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DROP CATALOG never_existed")
    }.getMessage.contains("does not exist"))
    GraftSql.run(spark, "DROP CATALOG IF EXISTS never_existed") // no error
    GraftSql.resetNamedCatalogs(spark)
  }

  test("recording follows SESSION truth: ALTER VIEW AS re-records, IF NOT EXISTS no-op and plain-Spark fallthrough record nothing") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = freshDir("truth")
    GraftSql.run(spark, s"CREATE CATALOG cat_tr WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG cat_tr")
    GraftSql.run(spark, "CREATE VIEW tr_v AS SELECT 1 AS x")
    // ALTER ... AS must move the stored definition to the NEW body
    GraftSql.run(spark, "ALTER VIEW tr_v AS SELECT 2 AS x")
    val stored = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "tr_v.ddl"))
    assert(stored.contains("SELECT 2"), stored)
    // IF NOT EXISTS on an existing view is a session no-op → not recorded
    GraftSql.run(spark, "CREATE VIEW IF NOT EXISTS tr_v AS SELECT 3 AS x")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "tr_v.ddl")).contains("SELECT 2"))
    assert(spark.table("tr_v").head.getInt(0) == 2)
    // a plain-Spark CREATE TABLE (metastore fallthrough) is the
    // metastore's own durability, not this catalog's
    spark.sql("DROP TABLE IF EXISTS tr_plain")
    GraftSql.run(spark, "CREATE TABLE tr_plain (x INT) USING parquet")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "tr_plain.ddl")),
      "plain-Spark fallthrough DDL must not be recorded")
    spark.sql("DROP TABLE tr_plain")
    GraftSql.run(spark, "DROP VIEW tr_v")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tr_v.ddl")))
    GraftSql.resetNamedCatalogs(spark)
  }

  test("DESCRIBE CATALOG and DESCRIBE DATABASE answer; unknown names error") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = freshDir("desc")
    GraftSql.run(spark, s"CREATE CATALOG desc_cat WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG desc_cat")
    val row = GraftSql.run(spark, "DESCRIBE CATALOG desc_cat").head
    assert(row.getString(1) == "graft" && row.getString(2) == "true" &&
      row.getString(3) == dir, row)
    GraftSql.run(spark, "USE CATALOG default_catalog")
    assert(GraftSql.run(spark, "DESCRIBE CATALOG default_catalog")
      .head.getString(2) == "true")
    assert(intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DESCRIBE CATALOG no_such_cat")
    }.getMessage.contains("does not exist"))
    val db = GraftSql.run(spark, "DESCRIBE DATABASE default_database").head
    assert(db.getString(0) == "default", db)
    assert(intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DESCRIBE DATABASE no_such_db")
    }.getMessage.contains("does not exist"))
    GraftSql.resetNamedCatalogs(spark)
  }

  test("restore never re-records: replay through a catalog leaves other catalogs untouched") {
    GraftSql.resetNamedCatalogs(spark)
    val dirA = freshDir("a")
    val dirB = freshDir("b")
    GraftSql.run(spark, s"CREATE CATALOG catA WITH ('type'='graft', 'path'='$dirA')")
    GraftSql.run(spark, "USE CATALOG catA")
    GraftSql.run(spark, "CREATE VIEW cat_v3 AS SELECT 3 AS three")
    // now switch current to B and re-open A: A's replay must not copy into B
    GraftSql.resetNamedCatalogs(spark)
    GraftSql.run(spark, s"CREATE CATALOG catB WITH ('type'='graft', 'path'='$dirB')")
    GraftSql.run(spark, "USE CATALOG catB")
    GraftSql.run(spark, s"CREATE CATALOG catA2 WITH ('type'='graft', 'path'='$dirA')")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirB, "cat_v3.ddl")),
      "replaying catalog A cross-recorded its objects into current catalog B")
    GraftSql.run(spark, "DROP VIEW cat_v3")
    GraftSql.resetNamedCatalogs(spark)
  }
}
