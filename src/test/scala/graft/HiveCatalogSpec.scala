package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Hive metastore catalog (reference flink-connector-hive HiveCatalog.java:
  * durable table metadata in a metastore). Spark speaks the metastore
  * natively; [[GraftSession.localHive]] wires an embedded-Derby-backed
  * session the way the reference wires HiveCatalog into
  * TableEnvironment. The door's qualified-name commands must flow through
  * to a real metastore database (GraftSql.resolveNameOpt fallthrough). */
class HiveCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val stamp = java.util.UUID.randomUUID().toString.take(8)
  private val metastoreRoot = Tables.scratch(s"hive-metastore-$stamp")
  private val metastoreDir = s"$metastoreRoot/db"
  private val warehouseDir = Tables.scratch(s"hive-warehouse-$stamp")

  private var prevDefault: Option[SparkSession] = None
  private lazy val hive: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
      .orElse(SparkSession.getActiveSession)
    GraftSession.localHive(metastoreDir, warehouseDir, cores = 4,
      shufflePartitions = 4)
  }

  override def afterAll(): Unit = {
    // restore the suite-shared in-memory session for later suites
    prevDefault.foreach { s =>
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
    // both dirs are unique to this run: nothing else will reuse them
    Seq(metastoreRoot, warehouseDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    super.afterAll()
  }

  test("hive catalog session: DDL lands in the metastore; data under the warehouse") {
    assert(hive.conf.get("spark.sql.catalogImplementation") == "hive")
    hive.sql("CREATE DATABASE IF NOT EXISTS graft_hive_db")
    hive.sql("DROP TABLE IF EXISTS graft_hive_db.rates")
    hive.sql("CREATE TABLE graft_hive_db.rates (k BIGINT, v DOUBLE) USING parquet")
    hive.sql("INSERT INTO graft_hive_db.rates VALUES (1, 1.5), (2, 2.5)")
    assert(hive.sql("SELECT sum(v) AS s FROM graft_hive_db.rates")
      .head.getDouble(0) == 4.0)
    // metadata is in the catalog, not a temp view
    assert(hive.catalog.tableExists("graft_hive_db.rates"))
    assert(hive.catalog.listTables("graft_hive_db").collect()
      .exists(_.name == "rates"))
    // the embedded metastore database materialized on disk — the durable
    // half a second JVM over the same dirs would boot from
    assert(new java.io.File(metastoreDir).isDirectory)
  }

  test("door commands reach a metastore database through the qualified-name fallthrough") {
    import graft.operators.GraftSql
    hive.sql("CREATE DATABASE IF NOT EXISTS graft_hive_db2")
    // CREATE VIEW with a real-database qualifier: Spark's own DDL
    GraftSql.run(hive,
      "CREATE VIEW graft_hive_db2.v_one AS SELECT 1 AS one")
    assert(GraftSql.run(hive, "SELECT * FROM graft_hive_db2.v_one")
      .head.getInt(0) == 1)
    // DESCRIBE through the door on a qualified metastore object
    val cols = GraftSql.run(hive, "DESCRIBE graft_hive_db2.v_one")
      .collect().map(_.getString(0)).toSeq
    assert(cols.contains("one"))
    // DROP through the door: falls through to Spark, object really gone
    GraftSql.run(hive, "DROP VIEW graft_hive_db2.v_one")
    assert(!hive.catalog.tableExists("graft_hive_db2.v_one"))
    // an unknown qualifier is still the clear single-catalog error
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(hive, "DROP VIEW no_such_db.t")
    }
    assert(e.getMessage.contains("single default catalog"))
  }
}
