package graft

import graft.operators.{GraftSql, TemporalFunction}
import org.apache.spark.sql.functions._

/** Temporal TABLE FUNCTION surface (reference Table.java:151
  * createTemporalTableFunction + the `LATERAL TABLE (Rates(o.rowtime))`
  * grammar) — the function spelling of the temporal join, lowered onto the
  * same single-shuffle as-of pass as FOR SYSTEM_TIME AS OF. */
class TemporalFunctionSpec extends GraftSpec {

  private def registerRates(): Unit = {
    import spark.implicits._
    // currency-rates history: the reference's canonical example table
    val rates = Seq(
      ("eur", 1L, 114.0), ("eur", 5L, 116.0), ("eur", 9L, 119.0),
      ("yen", 1L, 1.0)
    ).toDF("currency", "t", "rate")
      .withColumn("rt", timestamp_seconds(col("t"))).drop("t")
    TemporalFunction.createTemporalTableFunction(
      "rates", rates, timeAttr = "rt", primaryKey = "currency")
  }

  test("joinLateral picks each key's version valid at probe time; no-version rows drop") {
    import spark.implicits._
    registerRates()
    val orders = Seq(
      (1L, "eur", 2L, 10.0),  // at t=2: eur rate 114
      (2L, "eur", 7L, 10.0),  // at t=7: eur rate 116
      (3L, "eur", 20L, 10.0), // at t=20: eur rate 119
      (4L, "yen", 3L, 50.0),  // at t=3: yen rate 1
      (5L, "usd", 4L, 9.0)    // no usd version: drops (inner correlate)
    ).toDF("order_id", "currency", "t", "amount")
      .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
    val out = TemporalFunction.joinLateral(orders, "rates", "ot", "currency")
      .select($"order_id", $"r_rate").orderBy($"order_id")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 114.0), (2L, 116.0), (3L, 119.0), (4L, 1.0)))
  }

  test("SQL correlate form through the door: the reference's SUM(o.amount * r.rate) shape") {
    import spark.implicits._
    registerRates()
    Seq((1L, "eur", 2L, 10.0), (2L, "eur", 7L, 10.0), (3L, "yen", 3L, 50.0))
      .toDF("order_id", "currency", "t", "amount")
      .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
      .createOrReplaceTempView("ttf_orders")
    val rows = GraftSql.run(spark,
      """SELECT o.currency AS currency, SUM(o.amount * r.rate) AS amount
        |FROM ttf_orders AS o, LATERAL TABLE (rates(o.ot)) AS r
        |WHERE r.currency = o.currency
        |GROUP BY o.currency ORDER BY currency""".stripMargin)
      .as[(String, Double)].collect().toSeq
    // eur: 10*114 + 10*116 = 2300; yen: 50*1 = 50
    assert(rows == Seq(("eur", 2300.0), ("yen", 50.0)))
  }

  test("residual WHERE conjuncts survive the correlate lowering") {
    import spark.implicits._
    registerRates()
    Seq((1L, "eur", 2L, 10.0), (2L, "eur", 7L, 10.0))
      .toDF("order_id", "currency", "t", "amount")
      .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
      .createOrReplaceTempView("ttf_orders2")
    val rows = GraftSql.run(spark,
      """SELECT o.order_id AS order_id, r.rate AS rate
        |FROM ttf_orders2 AS o, LATERAL TABLE (rates(o.ot)) AS r
        |WHERE o.currency = r.currency AND o.amount > 5
        |ORDER BY order_id""".stripMargin)
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 114.0), (2L, 116.0)))
  }

  test("the SQL correlate leaves no graft_ttf_ view in the session catalog") {
    import spark.implicits._
    registerRates()
    Seq((1L, "eur", 2L, 10.0), (2L, "yen", 3L, 50.0))
      .toDF("order_id", "currency", "t", "amount")
      .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
      .createOrReplaceTempView("ttf_orders4")
    def views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_ttf_")).toSet
    val before = views
    val rows = GraftSql.run(spark,
      """SELECT o.order_id AS order_id, r.rate AS rate
        |FROM ttf_orders4 AS o, LATERAL TABLE (rates(o.ot)) AS r
        |WHERE r.currency = o.currency
        |ORDER BY order_id""".stripMargin)
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 114.0), (2L, 1.0)))
    assert(views == before, s"correlate views left behind: ${views -- before}")
  }

  test("a correlate with no primary-key equality is rejected, like the planner rule") {
    registerRates()
    import spark.implicits._
    Seq((1L, "eur", 2L, 10.0)).toDF("order_id", "currency", "t", "amount")
      .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
      .createOrReplaceTempView("ttf_orders3")
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark,
        """SELECT o.order_id AS order_id, r.rate AS rate
          |FROM ttf_orders3 AS o, LATERAL TABLE (rates(o.ot)) AS r
          |WHERE o.amount > 5""".stripMargin)
    }
    assert(e.getMessage.contains("r.currency in WHERE"))
  }

  test("a UDTF lateral still lowers to a generator, not the temporal recognizer") {
    // split_rows is a generator function, not a temporal function: the door
    // must keep lowering it to a LATERAL VIEW generator
    Tables.registerAll(spark, sfDir)
    val df = GraftSql.sql(spark, sfDir,
      """SELECT event_id, tok
        |FROM events, LATERAL TABLE(split_rows(event_type, 'i')) AS T(tok)
        |ORDER BY event_id, tok""".stripMargin)
    assert(df.columns.toSeq == Seq("event_id", "tok"))
    assert(df.limit(1).count() == 1)
  }

  test("joinLatest joins the CURRENT latest version (processing-time correlate)") {
    import spark.implicits._
    registerRates()
    val orders = Seq(
      (1L, "eur", 2L, 10.0), // as-of t=2 would see 114; latest is 119
      (2L, "yen", 3L, 50.0),
      (3L, "usd", 4L, 9.0)   // no usd version: drops
    ).toDF("order_id", "currency", "t", "amount")
      .withColumn("ot", timestamp_seconds(col("t"))).drop("t")
    val out = TemporalFunction.joinLatest(orders, "rates", "currency")
      .select($"order_id", $"r_rate").orderBy($"order_id")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 119.0), (2L, 1.0)))
  }

  test("joinLatest takes a STREAMING probe as a stream-static join") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    registerRates()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val probe = mem.toDF().toDF("order_id", "currency", "amount")
    val joined = TemporalFunction.joinLatest(probe, "rates", "currency")
      .select($"order_id", $"r_rate")
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory")
      .queryName("ttf_latest_stream").outputMode("append").start()
    mem.addData((1L, "eur", 10.0), (2L, "yen", 50.0), (3L, "usd", 9.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ttf_latest_stream")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 119.0), (2L, 1.0)))
  }

  test("unknown time-attribute / primary-key registrations fail fast") {
    import spark.implicits._
    val h = Seq(("a", 1L)).toDF("k", "t")
    intercept[IllegalArgumentException] {
      TemporalFunction.createTemporalTableFunction("bad1", h, "nope", "k")
    }
    intercept[IllegalArgumentException] {
      TemporalFunction.createTemporalTableFunction("bad2", h, "t", "nope")
    }
  }
}
