package graft

import operators.GraftSql

/** The ALTER family beyond SET options (reference flink-sql-parser:
  * SqlAlterTableRename, SqlAlterViewRename, SqlAlterViewAs,
  * SqlAlterFunction) — renames move registry entries and views, ALTER VIEW
  * AS swaps the body through the dispatcher, ALTER FUNCTION re-points an
  * existing alias and errors on a missing one. */
class AlterDdlSpec extends GraftSpec {

  test("ALTER TABLE RENAME TO moves a registered sink; INSERT targets the new name") {
    val sink = java.nio.file.Files.createTempDirectory("graft-alter-sink").toString
    GraftSql.run(spark,
      s"CREATE TABLE alt_t1 (k STRING, n BIGINT) WITH ('path' = '$sink', 'format' = 'parquet')")
    GraftSql.run(spark, "ALTER TABLE alt_t1 RENAME TO alt_t2")
    assert(graft.streaming.GraftDdl.sink(spark, "alt_t2").isDefined)
    assert(graft.streaming.GraftDdl.sink(spark, "alt_t1").isEmpty)
    import spark.implicits._
    Seq(("a", 1L)).toDF("k", "n").createOrReplaceTempView("alt_src")
    val out = GraftSql.run(spark, "INSERT INTO alt_t2 SELECT k, n FROM alt_src")
    assert(out.count() == 1)
    GraftSql.run(spark, "DROP TABLE alt_t2")
  }

  test("ALTER VIEW RENAME TO moves a temp view; old name gone") {
    GraftSql.run(spark, "CREATE VIEW alt_v1 AS SELECT 41 AS x")
    GraftSql.run(spark, "ALTER VIEW alt_v1 RENAME TO alt_v2")
    assert(spark.table("alt_v2").head.getInt(0) == 41)
    assert(!spark.catalog.tableExists("alt_v1"))
    GraftSql.run(spark, "DROP VIEW alt_v2")
  }

  test("ALTER VIEW AS swaps the body (idiom text allowed); missing view errors") {
    GraftSql.run(spark, "CREATE VIEW alt_v3 AS SELECT 1 AS x")
    GraftSql.run(spark, "ALTER VIEW alt_v3 AS SELECT 2 AS x")
    assert(spark.table("alt_v3").head.getInt(0) == 2)
    GraftSql.run(spark, "DROP VIEW alt_v3")
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "ALTER VIEW alt_never AS SELECT 3 AS x")
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("ALTER FUNCTION re-points an existing alias; altering a missing one errors") {
    GraftSql.run(spark, "CREATE FUNCTION alt_fn AS 'upper'")
    assert(spark.sql("SELECT alt_fn('ab')").head.getString(0) == "AB")
    GraftSql.run(spark, "ALTER FUNCTION alt_fn AS 'lower'")
    assert(spark.sql("SELECT alt_fn('AB')").head.getString(0) == "ab")
    GraftSql.run(spark, "DROP FUNCTION alt_fn")
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "ALTER FUNCTION alt_fn_never AS 'upper'")
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("rename under a current persistent catalog unrecords the old definition") {
    GraftSql.resetNamedCatalogs(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-alter-cat").toString
    GraftSql.run(spark, s"CREATE CATALOG alt_cat WITH ('type'='graft', 'path'='$dir')")
    GraftSql.run(spark, "USE CATALOG alt_cat")
    GraftSql.run(spark, "CREATE VIEW alt_v4 AS SELECT 4 AS x")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "alt_v4.ddl")))
    GraftSql.run(spark, "ALTER VIEW alt_v4 RENAME TO alt_v5")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "alt_v4.ddl")),
      "old definition survived the rename — replay would resurrect it")
    GraftSql.run(spark, "DROP VIEW alt_v5")
    GraftSql.resetNamedCatalogs(spark)
  }
}
