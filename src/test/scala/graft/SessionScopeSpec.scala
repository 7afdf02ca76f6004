package graft

import graft.operators.{GraftSql, Materialized, TemporalFunction}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_seconds}

/** Sinks, `LIKE` bases, temporal table functions and materialized plans
  * belong to the session that created them (the reference scopes them to
  * one TableEnvironment's CatalogManager/FunctionCatalog): a second
  * session of the same SparkContext sees none of them. */
class SessionScopeSpec extends GraftSpec {

  private def uid(): String = java.util.UUID.randomUUID().toString.take(8)

  private def tableNames(s: SparkSession): Seq[String] =
    GraftSql.run(s, "SHOW TABLES").collect().map(_.getString(0)).toSeq

  test("a sink created in one session is not listed or written by another") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val path = owned(Tables.scratch(s"session-scope/sink-${uid()}"))
    GraftSql.run(a, s"CREATE TABLE ss_sink (n BIGINT) WITH ('path' = '$path')")
    assert(tableNames(a).contains("ss_sink"))
    assert(!tableNames(b).contains("ss_sink"), tableNames(b))
    // B has no such sink: the INSERT falls through to Spark, which knows
    // no table of that name either
    val e = intercept[AnalysisException] {
      GraftSql.run(b, "INSERT INTO ss_sink SELECT 1L AS n")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
    assert(!new java.io.File(path).exists, "B wrote into A's sink path")
  }

  test("CREATE TABLE … LIKE resolves the base in its own session only") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val path = Tables.scratch(s"session-scope/like-${uid()}")
    GraftSql.run(a, s"CREATE TABLE ss_like_base (k BIGINT) WITH ('path' = '$path')")
    GraftSql.run(a, "CREATE TABLE ss_like_a LIKE ss_like_base")
    assert(tableNames(a).contains("ss_like_a"))
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(b, "CREATE TABLE ss_like_b LIKE ss_like_base")
    }
    assert(e.getMessage.contains("unknown base table 'ss_like_base'"), e.getMessage)
    assert(!tableNames(b).contains("ss_like_b"))
  }

  test("a temporal table function registered in one session is unknown to another") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val rates = a.createDataFrame(Seq(("eur", 1L, 114.0), ("eur", 5L, 116.0)))
      .toDF("currency", "t", "rate")
      .withColumn("rt", timestamp_seconds(col("t"))).drop("t")
    TemporalFunction.createTemporalTableFunction(
      "ss_rates", rates, timeAttr = "rt", primaryKey = "currency")
    for (s <- Seq(a, b))
      s.createDataFrame(Seq((1L, "eur", 7L))).toDF("order_id", "currency", "t")
        .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
        .createOrReplaceTempView("ss_orders")
    val q = """SELECT o.order_id, r.rate FROM ss_orders AS o,
              |  LATERAL TABLE (ss_rates(o.ot)) AS r
              |WHERE o.currency = r.currency""".stripMargin
    val rows = GraftSql.run(a, q).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 116.0)))
    // in B the call is an ordinary lateral table function, and none exists
    val e = intercept[AnalysisException](GraftSql.run(b, q).collect())
    assert(e.getMessage.contains("ss_rates"), e.getMessage)
  }

  test("Materialized.of rebuilds in a second session instead of sharing the first's plan") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val key = s"ss_mat_${uid()}"
    val inA = Materialized.of(a, key)(a.range(3).toDF("id"))
    assert(Materialized.of(a, key)(a.range(99).toDF("id")) eq inA)
    var builtInB = false
    val inB = Materialized.of(b, key) { builtInB = true; b.range(5).toDF("id") }
    assert(builtInB)
    assert(inB.sparkSession eq b)
    assert(inB.count() == 5 && inA.count() == 3)
    inA.unpersist(); inB.unpersist()
  }

  test("runToMemory removes its checkpoint when Spark rejects the query at start()") {
    val name = s"ss_leak_${uid()}"
    val root = new java.io.File(StreamingOps.freshCheckpoint(name)).getParentFile
    // sorting a non-aggregated stream is refused by start(), after the
    // checkpoint location was handed to the query
    val sorted = StreamingOps.streamTable(spark, sfDir, "events").orderBy("ts")
    intercept[AnalysisException] {
      StreamingOps.runToMemory(spark, sorted, "append", name)
    }
    val left = Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"$name-"))
    assert(left.isEmpty, left.mkString(", "))
  }
}
