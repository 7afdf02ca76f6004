package graft

import graft.operators.GraftSql
import org.apache.spark.sql.DataFrame

/** Flink group windows (reference FlinkSqlOperatorTable TUMBLE/HOP/SESSION +
  * auxiliaries) as session functions — analysis-level checks on small
  * in-memory views: each Flink spelling must optimize to the same plan as
  * its `window()` / `session_window()` spelling, and mismatched windows must
  * fail analysis. End-to-end answers are oracle-gated (q_group_window_sql*). */
class GroupWindowSqlSpec extends GraftSpec {

  private lazy val views: Unit = {
    val s = spark
    import s.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((ts("2020-01-01 00:01:00"), ts("2020-01-01 00:02:00"), 1.0),
        (ts("2020-01-01 00:07:00"), ts("2020-01-01 00:08:00"), 2.0))
      .toDF("ts", "other_ts", "v").createOrReplaceTempView("gw")
    Seq(ts("2020-01-01 00:03:00")).toDF("ts").createOrReplaceTempView("gw_a")
    Seq(ts("2020-01-01 00:09:00")).toDF("ts").createOrReplaceTempView("gw_b")
  }

  private def flink(text: String): DataFrame = { views; GraftSql.run(spark, text) }

  private def assertSamePlan(flinkText: String, sparkText: String): Unit = {
    val got = flink(flinkText).queryExecution.optimizedPlan
    val want = spark.sql(sparkText).queryExecution.optimizedPlan
    assert(got.canonicalized == want.canonicalized, s"\n$got\nvs\n$want")
  }

  private def rejected(text: String): String =
    intercept[Exception](flink(text).queryExecution.assertAnalyzed()).getMessage

  private val MultipleWindows = "Multiple time/session window expressions"

  test("TUMBLE lowers to window(), auxiliaries to window.start/end") {
    assertSamePlan(
      "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS s, TUMBLE_END(ts, INTERVAL '5' MINUTE) AS e, " +
        "count(*) AS c FROM gw GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
      "SELECT window.start AS s, window.end AS e, count(*) AS c FROM gw " +
        "GROUP BY window(ts, '5 minutes')")
  }

  test("HOP swaps Flink slide-size order into Spark size-slide") {
    assertSamePlan(
      "SELECT HOP_END(ts, INTERVAL '1' MINUTE, INTERVAL '10' MINUTE) AS e, sum(v) AS t " +
        "FROM gw GROUP BY HOP(ts, INTERVAL '1' MINUTE, INTERVAL '10' MINUTE)",
      "SELECT window.end AS e, sum(v) AS t FROM gw GROUP BY window(ts, '10 minutes', '1 minutes')")
  }

  test("SESSION lowers to session_window; a YEAR/MONTH interval fails loudly") {
    assertSamePlan(
      "SELECT SESSION_START(ts, INTERVAL '30' MINUTE) AS s, count(*) AS c " +
        "FROM gw GROUP BY SESSION(ts, INTERVAL '30' MINUTE)",
      "SELECT session_window.start AS s, count(*) AS c FROM gw " +
        "GROUP BY session_window(ts, '30 minutes')")
    val msg = rejected("SELECT count(*) FROM gw GROUP BY TUMBLE(ts, INTERVAL '1' YEAR)")
    assert(msg.contains("YEAR/MONTH"), msg)
  }

  test("mismatched window auxiliaries are rejected like the reference's validator") {
    val msg = rejected("SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) " +
      "FROM gw GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)")
    assert(msg.contains(MultipleWindows), msg)
    val msg2 = rejected("SELECT TUMBLE_START(other_ts, INTERVAL '5' MINUTE) " +
      "FROM gw GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)")
    assert(msg2.contains(MultipleWindows), msg2)
  }

  test("a statement with TWO different grouped windows accepts each window's own auxiliaries") {
    assertSamePlan(
      "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS s FROM gw GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE) " +
        "UNION ALL " +
        "SELECT TUMBLE_START(ts, INTERVAL '10' MINUTE) AS s FROM gw GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)",
      "SELECT window.start AS s FROM gw GROUP BY window(ts, '5 minutes') " +
        "UNION ALL " +
        "SELECT window.start AS s FROM gw GROUP BY window(ts, '10 minutes')")
    // an auxiliary matching NO grouped window still rejects
    val msg = rejected("SELECT TUMBLE_START(ts, INTERVAL '7' MINUTE) FROM gw " +
      "GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)")
    assert(msg.contains(MultipleWindows), msg)
  }

  test("auxiliary validation scopes per top-level UNION branch") {
    // branch 2's auxiliary matches only branch 1's window
    val msg = rejected(
      "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) FROM gw GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE) " +
        "UNION ALL " +
        "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) FROM gw GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
    assert(msg.contains(MultipleWindows), msg)
    // a UNION inside a FROM subquery: the outer auxiliary sees the outer window
    assertSamePlan(
      "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS s FROM " +
        "(SELECT ts FROM gw_a UNION ALL SELECT ts FROM gw_b) " +
        "GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
      "SELECT window.start AS s FROM " +
        "(SELECT ts FROM gw_a UNION ALL SELECT ts FROM gw_b) " +
        "GROUP BY window(ts, '5 minutes')")
  }

  test("an auxiliary matching only a sibling subquery's window is rejected") {
    // subquery a labels its 10-minute windows with a 5-minute auxiliary,
    // whose twin window is grouped only in subquery b
    val msg = rejected(
      "SELECT a.s FROM " +
        "(SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) s FROM gw " +
        "GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)) a JOIN " +
        "(SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) s2 FROM gw " +
        "GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)) b ON a.s = b.s2")
    assert(msg.contains(MultipleWindows), msg)
  }

  test("an auxiliary in a SELECT with no grouped window is rejected") {
    val msg = rejected("SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) FROM gw")
    assert(msg.contains("TUMBLE_START outside a query grouped by TUMBLE"), msg)
    // the check reaches CTE bodies and subquery expressions, which the
    // parsed plan keeps beside its children
    val inCte = rejected("WITH c AS (SELECT SESSION_END(ts, INTERVAL '5' MINUTE) AS s FROM gw) " +
      "SELECT s FROM c")
    assert(inCte.contains("SESSION_END outside a query grouped by SESSION"), inCte)
    val inSubquery = rejected(
      "SELECT (SELECT max(TUMBLE_END(ts, INTERVAL '5' MINUTE)) FROM gw) AS m")
    assert(inSubquery.contains("TUMBLE_END outside a query grouped by TUMBLE"), inSubquery)
    val msg2 = rejected("SELECT HOP_END(ts, INTERVAL '1' MINUTE, INTERVAL '5' MINUTE) AS e " +
      "FROM gw GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)")
    assert(msg2.contains("HOP_END outside a query grouped by HOP"), msg2)
  }

}

/** LATERAL TABLE lowering (reference Correlate SQL surface): each Flink
  * spelling must optimize to the same plan as its `LATERAL VIEW` spelling. */
class LateralSqlSpec extends GraftSpec {

  private lazy val views: Unit = {
    val s = spark
    import s.implicits._
    Seq("a,b", "c", null).toDF("a").createOrReplaceTempView("lat_t")
    Seq("x.y", "plain").toDF("a").createOrReplaceTempView("lat_dot")
  }

  private def flink(text: String): DataFrame = { views; GraftSql.run(spark, text) }

  // the parser lowercases a LATERAL VIEW's table alias; the lowered
  // LATERAL TABLE keeps the alias as written, so these use a lowercase `t`
  private def assertSamePlan(flinkText: String, sparkText: String): Unit = {
    val got = flink(flinkText).queryExecution.optimizedPlan
    val want = spark.sql(sparkText).queryExecution.optimizedPlan
    assert(got.canonicalized == want.canonicalized, s"\n$got\nvs\n$want")
  }

  test("comma-join correlate lowers to LATERAL VIEW") {
    assertSamePlan("SELECT a, w FROM lat_t, LATERAL TABLE(split_rows(a, ',')) AS t(w)",
      "SELECT a, w FROM lat_t LATERAL VIEW explode(split(a, ',')) t AS w")
    assertSamePlan(
      "SELECT a, i, w FROM lat_t, LATERAL TABLE(split_rows_indexed(a, ',')) AS t(i, w)",
      "SELECT a, i, w FROM lat_t LATERAL VIEW posexplode(split(a, ',')) t AS i, w")
    // inside a CTE body and a subquery expression too
    assertSamePlan("WITH c AS (SELECT a, w FROM lat_t, " +
      "LATERAL TABLE(split_rows(a, ',')) AS t(w)) SELECT * FROM c",
      "WITH c AS (SELECT a, w FROM lat_t LATERAL VIEW explode(split(a, ',')) t AS w) " +
        "SELECT * FROM c")
    assertSamePlan("SELECT a FROM lat_t WHERE a IN (SELECT w FROM lat_t, " +
      "LATERAL TABLE(split_rows(a, ',')) AS t(w))",
      "SELECT a FROM lat_t WHERE a IN " +
        "(SELECT w FROM lat_t LATERAL VIEW explode(split(a, ',')) t AS w)")
  }

  test("LEFT JOIN ... ON TRUE lowers to LATERAL VIEW OUTER, unknown UDTF fails loudly") {
    assertSamePlan(
      "SELECT a, w FROM lat_t LEFT JOIN LATERAL TABLE(split_rows(a, ',')) AS t(w) ON TRUE",
      "SELECT a, w FROM lat_t LATERAL VIEW OUTER explode(split(a, ',')) t AS w")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      flink("SELECT * FROM lat_t, LATERAL TABLE(nope(a)) AS t(w)")
    }
    assert(e.getCondition == "ROUTINE_NOT_FOUND", e.getMessage)
    assert(e.getMessage.contains("`nope`"), e.getMessage)
  }

  test("regex-metachar delimiters split LITERALLY (Spark split takes a regex)") {
    // the literal '.' reaches split() escaped, as the regex `\.`
    assertSamePlan("SELECT w FROM lat_dot, LATERAL TABLE(split_rows(a, '.')) AS t(w)",
      "SELECT w FROM lat_dot LATERAL VIEW explode(split(a, '\\\\.')) t AS w")
    // end-to-end: '.' must not split every character
    val rows = flink("SELECT a, w FROM lat_dot, LATERAL TABLE(split_rows(a, '.')) AS T(w)")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSet == Set(("x.y", "x"), ("x.y", "y"), ("plain", "plain")), rows.toSeq)
  }
}
