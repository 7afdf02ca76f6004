package graft.dsl

import graft.Tables
import graft.operators.GraftSql
import org.apache.spark.sql.{Dataset, SparkSession}

/** The reference's PRIMARY entry class as a facade — TableEnvironment
  * (flink-table-api-java/.../TableEnvironment.java): from:668,
  * fromValues:160, sqlQuery:904, executeSql:917 (the unified door),
  * createTemporaryView:546, listCatalogs:743 / listDatabases:757 /
  * listTables:767 / listFunctions:806 (all answered by the door's SHOW
  * family so sink-registry tables and named catalogs are listed exactly
  * like the reference's catalog manager would), useCatalog:1057,
  * createStatementSet (FLIP-84). `toDataStream`/`fromDataStream` bridge to
  * the DataStream DSL ([[GraftStream]]), completing the reference's
  * three-API round trip: SQL text ⇄ Table ⇄ DataStream.
  *
  * Everything delegates to the same machinery the SQL door uses — the
  * facade adds NO second execution path, exactly like the reference where
  * TableEnvironment methods and SQL statements converge on one planner.
  */
final case class GraftTableEnv(spark: SparkSession, dir: String) {

  /** Fixture tables registered once, like the reference's catalog being
    * populated before a session uses it. */
  Tables.registerAll(spark, dir)

  /** Scan a registered table/view (TableEnvironment.from:668). */
  def from(path: String): GraftTable = GraftTable(spark.table(path))

  /** Literal rows (TableEnvironment.fromValues:160). */
  def fromValues[T <: Product : org.apache.spark.sql.Encoder](values: Seq[T]): GraftTable =
    GraftTable(spark.createDataset(values).toDF())

  /** A SELECT through the unified door — Flink-dialect idioms included
    * (TableEnvironment.sqlQuery:904). */
  def sqlQuery(query: String): GraftTable =
    GraftTable(GraftSql.sql(spark, dir, query))

  /** Any statement through the unified door (TableEnvironment
    * .executeSql:917 — DDL, DML, SHOW/DESCRIBE/USE, EXPLAIN), returning a
    * [[GraftTableResult]] — 1.11's TableResult.java surface: `collect()`
    * iterator, `print()`, result kind, and job semantics for INSERTs
    * (submitted async; `await()`/`stop()` are the JobClient analogue). */
  def executeSql(statement: String): GraftTableResult =
    if (GraftTableEnv.isInsert(statement))
      GraftTableResult.submit(spark)(GraftSql.sql(spark, dir, statement))
    else GraftTableResult.completed(spark, GraftSql.sql(spark, dir, statement))

  /** The descriptor entry (TableEnvironment.connect():  reference
    * ConnectTableDescriptor chain — withFormat → withSchema →
    * createTemporaryTable), lowering onto the same DDL door. */
  def connect(connector: ConnectorDescriptor): ConnectTableDescriptor =
    ConnectTableDescriptor(this, connector)

  /** TableEnvironment.createTemporaryView:546. */
  def createTemporaryView(path: String, view: GraftTable): Unit =
    view.df.createOrReplaceTempView(path)
  def dropTemporaryView(path: String): Boolean =
    spark.catalog.dropTempView(path)

  // the listings answer through the door's SHOW family, so registry sinks
  // and CREATE CATALOG-registered names appear exactly as the reference's
  // catalog manager lists them
  def listCatalogs(): Seq[String] = showCol("SHOW CATALOGS")
  def listDatabases(): Seq[String] = showCol("SHOW DATABASES")
  def listTables(): Seq[String] = showCol("SHOW TABLES")
  def listFunctions(): Seq[String] = showCol("SHOW FUNCTIONS")
  private def showCol(cmd: String): Seq[String] =
    GraftSql.run(spark, cmd).collect().map(_.getString(0)).toSeq

  /** TableEnvironment.useCatalog:1057. */
  def useCatalog(name: String): Unit =
    GraftSql.run(spark, s"USE CATALOG $name")

  /** FLIP-84 StatementSet — buffer INSERTs, submit once. */
  def createStatementSet(): GraftSql.StatementSet =
    GraftSql.createStatementSet(spark)

  /** Bridge a Table to the DataStream DSL (reference
    * StreamTableEnvironment.toAppendStream). */
  def toDataStream[T: org.apache.spark.sql.Encoder](table: GraftTable): GraftStream[T] =
    GraftStream(table.df.as[T])

  /** Bridge a DataStream to a Table (reference fromDataStream). */
  def fromDataStream[T](ds: Dataset[T]): GraftTable = GraftTable(ds.toDF())
}

object GraftTableEnv {
  /** An INSERT behind a comment header must still classify as a submitted
    * job (the TableResult contract), not run eagerly on the caller thread
    * — same comment-stripping regex as the door's dispatcher (one copy,
    * [[graft.operators.GraftSql.LeadingComments]]). */
  private[dsl] def isInsert(statement: String): Boolean =
    graft.operators.GraftSql.LeadingComments.replaceFirstIn(statement, "")
      .toUpperCase(java.util.Locale.ROOT).startsWith("INSERT")
}
