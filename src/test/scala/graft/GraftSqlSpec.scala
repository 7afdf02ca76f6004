package graft

import graft.operators.GraftSql
import org.apache.spark.sql.functions._

/** The unified SQL entry point: one call dispatches across every recognized
  * Flink-SQL text surface (reference ParserImpl.java:49 — a single parser
  * for all statements), composes text rewrites for mixed-idiom statements,
  * and REJECTS near-miss text with the recognizer's error instead of a
  * confusing Spark parse failure. */
class GraftSqlSpec extends GraftSpec {

  test("mixed statement: TUMBLE + LATERAL TABLE lower in one pass") {
    val df = GraftSql.sql(spark, sfDir,
      """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '5' MINUTE)) AS wstart,
        |       tok, count(*) AS cnt
        |FROM events, LATERAL TABLE(split_rows(event_type, 'i')) AS T(tok)
        |GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE), tok""".stripMargin)
    assert(df.columns.toSeq == Seq("wstart", "tok", "cnt"))
    assert(df.count() > 0)
  }

  test("plain SQL falls through to spark.sql untouched") {
    val df = GraftSql.sql(spark, sfDir,
      "SELECT count(*) AS n FROM events WHERE event_type = 'purchase'")
    assert(df.collect().head.getLong(0) > 0)
  }

  test("rn = 1 idiom is intercepted and lowered to an aggregate, not a rank") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one") // ensure views registered
    val df = GraftSql.run(spark,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), s"idiom ran as a rank:\n$plan")
    assert(df.count() > 0)
  }

  test("near-miss rn = 2 is NOT the idiom: legal window SQL, runs as a rank") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val df = GraftSql.run(spark,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 2""".stripMargin)
    assert(df.count() > 0) // second event per user exists for active users
    assert(df.select("rn").distinct().collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  private def rkDedup(from: String): String =
    s"""SELECT user_id, event_id, rk FROM (
       |  SELECT user_id, event_id,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rk
       |  FROM $from) WHERE rk = 1""".stripMargin

  test("a dedup spelled with an rk alias and a column list lowers too") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val df = GraftSql.run(spark, rkDedup("events"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), s"idiom ran as a rank:\n$plan")
    assert(df.columns.toSeq == Seq("user_id", "event_id", "rk"))
    val want = spark.sql(
      "SELECT user_id, min(event_id) AS event_id, 1 AS rk FROM events GROUP BY user_id")
    assert(df.collect().toSet == want.collect().toSet)
  }

  test("near-miss: a rank over two ORDER BY keys is not the idiom, runs as a rank") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val df = GraftSql.run(spark,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("row_number"), s"two-key rank was lowered:\n$plan")
  }

  private def tokens(text: String): Seq[(Long, String)] = {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    GraftSql.run(spark, text).collect().toSeq.map(r => (r.getLong(0), r.getString(1))).sorted
  }

  test("LATERAL TABLE over a nested call lowers to a generator") {
    val want = tokens("SELECT event_id, tok FROM events " +
      "LATERAL VIEW explode(split(lower(event_type), 'i')) t AS tok")
    assert(want.nonEmpty)
    assert(tokens("SELECT event_id, tok FROM events, " +
      "LATERAL TABLE(split_rows(lower(event_type), 'i')) AS T(tok)") == want)
  }

  test("LATERAL TABLE without AS before the alias lowers to a generator") {
    val want = tokens(
      "SELECT event_id, tok FROM events LATERAL VIEW explode(split(event_type, 'i')) t AS tok")
    assert(want.nonEmpty)
    assert(tokens("SELECT event_id, tok FROM events, " +
      "LATERAL TABLE(split_rows(event_type, 'i')) T(tok)") == want)
  }

  test("MATCH_RECOGNIZE statement routes to the NFA") {
    val base = Tables.t(spark, sfDir, "events")
      .select("user_id", "event_id", "event_type")
    base.createOrReplaceTempView("gsql_mr")
    val df = GraftSql.run(spark,
      """SELECT * FROM gsql_mr MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES A.event_id AS a_id, B.event_id AS b_id
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
        |)""".stripMargin)
    assert(df.columns.toSeq == Seq("user_id", "a_id", "b_id"))
    assert(df.count() > 0)
  }

  test("malformed MATCH_RECOGNIZE is rejected with the recognizer's error") {
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "SELECT a, b FROM t MATCH_RECOGNIZE stuff")
    }
    assert(e.getMessage.contains("MATCH_RECOGNIZE statement must be"))
    // statement shape OK but spec garbage → the SPEC parser's error surfaces
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "SELECT * FROM gsql_mr MATCH_RECOGNIZE (NONSENSE HERE)")
    }
    assert(e2.getMessage.contains("unparseable MATCH_RECOGNIZE spec"))
  }

  test("malformed FOR SYSTEM_TIME AS OF is rejected, never leaks to spark.sql") {
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark,
        "SELECT x FROM a JOIN b FOR SYSTEM_TIME AS OF banana ON a.k = b.k")
    }
    assert(e.getMessage.contains("unrecognized temporal-join SQL"))
  }

  test("text variants: aliased derived table, qualified rn, ORDER BY tail") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val df = GraftSql.run(spark,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events) AS t WHERE t.rn = 1 ORDER BY user_id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), s"aliased variant fell through:\n$plan")
    val ids = df.select("user_id").collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted)) // the ORDER BY tail survived lowering
  }

  test("MATCH_RECOGNIZE statement tolerates a trailing alias") {
    Tables.t(spark, sfDir, "events").select("user_id", "event_id", "event_type")
      .createOrReplaceTempView("gsql_mr2")
    val df = GraftSql.run(spark,
      """SELECT * FROM gsql_mr2 MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY event_id
        |  MEASURES A.event_id AS a_id, B.event_id AS b_id
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
        |) AS m ORDER BY user_id, a_id""".stripMargin)
    assert(df.count() > 0)
  }

  test("the rn=1 idiom on a STREAMING view lowers to a runnable aggregate") {
    // the reference scenario StreamExecDeduplicateRule exists for: plain
    // row_number CANNOT run on a stream in either engine; the lowered
    // keyed aggregate can. Spark builds the un-lowered plan but rejects it
    // at start(), so a green run certifies the rewrite actually engaged —
    // here for the rk-alias, column-list spelling the dedup test above
    // covers on a batch view
    val sparkS = spark
    import sparkS.implicits._
    graft.streaming.StreamingOps.streamTable(spark, sfDir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .createOrReplaceTempView("gsql_stream_dedup")
    val lowered = GraftSql.run(spark, rkDedup("gsql_stream_dedup"))
    assert(lowered.isStreaming)
    val out = graft.streaming.StreamingOps.runToMemory(
      spark, lowered, "complete", "gsql_stream_dedup_out")
    assert(out.columns.toSeq == Seq("user_id", "event_id", "rk"))
    assert(out.count() > 0)
    assert(out.select("rk").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("plural interval units (MINUTES) and engine functions work through the door") {
    val df = GraftSql.sql(spark, sfDir,
      """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '5' MINUTES)) AS wstart,
        |       count(*) AS cnt, hash_code(event_type) AS h
        |FROM events
        |GROUP BY TUMBLE(ts, INTERVAL '5' MINUTES), event_type""".stripMargin)
    assert(df.count() > 0)
  }

  test("WATERMARK DDL routes through the unified door and returns the view") {
    val df = GraftSql.run(spark,
      s"""CREATE TABLE gsql_ddl_events (
         |  event_id BIGINT,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$sfDir', 'table' = 'events')""".stripMargin)
    assert(df.isStreaming)
    assert(df.queryExecution.analyzed.toString.contains("EventTimeWatermark"))
    assert(spark.table("gsql_ddl_events").isStreaming) // registered for later SQL
  }

  test("sink DDL + INSERT INTO: the statement writes and the result reads back") {
    val path = Tables.scratch("insert-sink/gsql_spec_sink")
    GraftSql.sql(spark, sfDir,
      s"CREATE TABLE gsql_spec_sink (n BIGINT) WITH ('path' = '$path')")
    val df = GraftSql.run(spark,
      "INSERT INTO gsql_spec_sink SELECT count(*) AS n FROM events")
    assert(df.collect().head.getLong(0) > 0)
    // re-running the same INSERT is idempotent (overwrite, not append)
    val df2 = GraftSql.run(spark,
      "INSERT INTO gsql_spec_sink SELECT count(*) AS n FROM events")
    assert(df2.count() == 1)
  }

  test("script mode: DDL + INSERT + SELECT run as one text, last result returned") {
    val path = Tables.scratch("insert-sink/gsql_script_sink")
    val df = GraftSql.script(spark, sfDir,
      s"""CREATE TABLE gsql_script_sink (t STRING, n BIGINT)
         |WITH ('path' = '$path');
         |INSERT INTO gsql_script_sink
         |SELECT event_type AS t, count(*) AS n FROM events GROUP BY event_type;
         |SELECT sum(n) AS total FROM parquet.`$path`""".stripMargin)
    assert(df.collect().head.getLong(0) > 0)
  }

  test("statement splitting respects quoted semicolons") {
    val parts = graft.operators.GraftSql.splitStatements(
      "SELECT ';' AS a; SELECT 2")
    assert(parts == Vector("SELECT ';' AS a", "SELECT 2"))
  }

  test("lexer: backslash-escaped quote does not end the string (ADVICE r11)") {
    // Spark's default lexer reads 'don\'t; x' as ONE literal — a naive
    // quote toggle would close at the escaped quote and split at the ;
    val parts = graft.operators.GraftSql.splitStatements(
      """SELECT 'don\'t; -- no' AS a; SELECT 2""")
    assert(parts == Vector("""SELECT 'don\'t; -- no' AS a""", "SELECT 2"), parts)
  }

  test("lexer: double-quoted literal hides ; -- and UNION (ADVICE r11)") {
    val parts = graft.operators.GraftSql.splitStatements(
      """SELECT "a;b -- c" AS a; SELECT 2""")
    assert(parts == Vector("""SELECT "a;b -- c" AS a""", "SELECT 2"), parts)
    val blanked = graft.operators.GraftSql.blankCommentsAndLiterals(
      """SELECT "union" AS u FROM t""")
    assert(!blanked.toLowerCase.contains("union"), blanked)
  }

  test("dispatcher probes ignore keywords inside comments and escape-quoted literals (r12 review)") {
    val sparkS = spark
    import sparkS.implicits._
    Tables.t(spark, sfDir, "events").limit(3)
      .select($"event_id").createOrReplaceTempView("gsql_probe_cmt")
    // MATCH_RECOGNIZE in a block comment: the old blankLiterals saw it and
    // misrouted this plain SELECT into the recognizer front-end
    val df = GraftSql.run(spark,
      "SELECT event_id /* not MATCH_RECOGNIZE ( */ FROM gsql_probe_cmt ORDER BY event_id")
    assert(df.columns.toSeq == Seq("event_id") && df.count() == 3)
    // backslash-escaped quote: the old toggle inverted its literal state
    // and saw the keyword as quoted-away or exposed depending on parity
    val df2 = GraftSql.run(spark,
      """SELECT 'don\'t MATCH_RECOGNIZE' AS s FROM gsql_probe_cmt ORDER BY s""")
    assert(df2.count() == 3)
  }

  test("lexer: a column aliased `union` (backticks) is not a UNION cut (ADVICE r11)") {
    val sparkS = spark
    import sparkS.implicits._
    Tables.t(spark, sfDir, "events").limit(5)
      .select($"event_id", $"ts").createOrReplaceTempView("gsql_union_alias")
    // a windowed query with an identifier named `union` at paren depth 0:
    // a phantom UNION cut would orphan the TUMBLE declaration from its
    // auxiliaries and reject the query
    val df = GraftSql.run(spark,
      """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws,
        |       count(*) AS `union`
        |FROM gsql_union_alias
        |GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin)
    assert(df.columns.toSeq == Seq("ws", "union"))
    assert(df.collect().nonEmpty)
  }

  test("temporal-join statement routes through the as-of lowering") {
    val sparkS = spark
    import sparkS.implicits._
    val e = Tables.t(spark, sfDir, "events")
    e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
      .createOrReplaceTempView("gsql_probe")
    e.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"value")
      .createOrReplaceTempView("gsql_build")
    val df = GraftSql.run(spark,
      """SELECT p.event_id AS event_id, b.value AS v
        |FROM gsql_probe AS p
        |LEFT JOIN gsql_build FOR SYSTEM_TIME AS OF p.ts AS b
        |ON p.user_id = b.user_id""".stripMargin)
    assert(df.columns.toSeq == Seq("event_id", "v"))
    assert(df.count() > 0)
  }

  test("SET: quoted reference keys map to Spark conf and restore via RESET") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val df = GraftSql.run(spark,
        "SET 'table.exec.resource.default-parallelism' = '7'")
      assert(df.collect().head.getString(0) == "spark.sql.shuffle.partitions")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      // unmapped keys are stored verbatim and listed by bare SET
      GraftSql.run(spark, "SET 'pipeline.name' = 'graft-session'")
      val listed = GraftSql.run(spark, "SET").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(listed("pipeline.name") == "graft-session")
      GraftSql.run(spark, "RESET 'pipeline.name'")
      assert(spark.conf.getOption("pipeline.name").isEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("EXPLAIN lowers idiom text and plans WITHOUT executing") {
    val plan = GraftSql.sql(spark, sfDir,
      """EXPLAIN SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '5' MINUTE)) AS w,
        |count(*) AS cnt FROM events GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)"""
        .stripMargin).collect().head.getString(0)
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"))
    // EXPLAIN INSERT plans the SELECT and writes nothing
    val path = Tables.scratch("insert-sink/gsql_explain_sink")
    GraftSql.run(spark,
      s"CREATE TABLE gsql_explain_sink (n BIGINT) WITH ('path' = '$path')")
    val p2 = GraftSql.run(spark,
      "EXPLAIN PLAN FOR INSERT INTO gsql_explain_sink SELECT count(*) AS n FROM events")
      .collect().head.getString(0)
    assert(p2.contains("Aggregate"))
    // EXPLAIN of side-effecting commands is rejected (executing IS the effect)
    val eDdl = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "EXPLAIN CREATE TABLE nope (n BIGINT) WITH ('path' = '/x')")
    }
    assert(eDdl.getMessage.contains("not commands"))
    assert(!spark.catalog.tableExists("nope"))
    val before = spark.conf.getOption("graft.explain.probe")
    intercept[IllegalArgumentException] {
      GraftSql.run(spark, "EXPLAIN SET 'graft.explain.probe' = 'leaked'")
    }
    assert(spark.conf.getOption("graft.explain.probe") == before,
      "EXPLAIN SET mutated the session conf")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)) ||
      java.nio.file.Files.list(java.nio.file.Paths.get(path)).count() == 0)
  }

  test("EXPLAIN detail flags: ESTIMATED_COST stats and CHANGELOG_MODE classification") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val cost = GraftSql.run(spark,
      "EXPLAIN ESTIMATED_COST SELECT count(*) AS n FROM events")
      .collect().head.getString(0)
    assert(cost.contains("== Estimated Cost ==") && cost.contains("sizeInBytes="))
    // bounded plan: insert-only by definition
    val bounded = GraftSql.run(spark,
      "EXPLAIN CHANGELOG_MODE SELECT count(*) AS n FROM events")
      .collect().head.getString(0)
    assert(bounded.contains("[I] (bounded: insert-only)"))
    // streaming aggregate: update/retract (Spark's append analysis rejects it)
    GraftSql.run(spark,
      s"""CREATE TABLE gsql_cm_src (
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    val upd = GraftSql.run(spark,
      "EXPLAIN CHANGELOG_MODE SELECT user_id, count(*) AS n FROM gsql_cm_src GROUP BY user_id")
      .collect().head.getString(0)
    assert(upd.contains("[I,UB,UA,D]"), upd)
    // streaming projection: append
    val app = GraftSql.run(spark,
      "EXPLAIN CHANGELOG_MODE SELECT ts FROM gsql_cm_src")
      .collect().head.getString(0)
    assert(app.contains("[I] (streaming append)"), app)
    // both flags compose
    val both = GraftSql.run(spark,
      "EXPLAIN ESTIMATED_COST, CHANGELOG_MODE SELECT count(*) AS n FROM events")
      .collect().head.getString(0)
    assert(both.contains("== Estimated Cost ==") && both.contains("== Changelog Mode =="))
    // plain EXPLAIN of streaming text shows the analyzed plan, not an error
    val sPlan = GraftSql.run(spark, "EXPLAIN SELECT ts FROM gsql_cm_src")
      .collect().head.getString(0)
    assert(sPlan.contains("Analyzed Logical Plan (streaming"), sPlan)
  }

  test("catalog commands pass through: SHOW TABLES and DESCRIBE") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one") // ensure views registered
    val tables = GraftSql.run(spark, "SHOW TABLES")
      .select("tableName").collect().map(_.getString(0))
    assert(tables.contains("events"))
    val cols = GraftSql.run(spark, "DESCRIBE events")
      .select("col_name").collect().map(_.getString(0))
    assert(cols.contains("event_id"))
  }

  test("subquery extraction: innermost parens, quote-aware, SELECT-gated") {
    val t = "SELECT a FROM ( SELECT x FROM p JOIN b FOR SYSTEM_TIME AS OF p.ts AS b ON p.k = b.k ) e GROUP BY a"
    val Some((s0, e0, inner)) = GraftSql.extractParenSubquery(t, "FOR SYSTEM_TIME"): @unchecked
    assert(inner.startsWith("SELECT x"))
    assert(t.substring(s0, e0).startsWith("(") && t.substring(s0, e0).endsWith(")"))
    // top-level temporal join: nothing to extract
    assert(GraftSql.extractParenSubquery(
      "SELECT x FROM p JOIN b FOR SYSTEM_TIME AS OF p.ts AS b ON p.k = b.k",
      "FOR SYSTEM_TIME").isEmpty)
    // a quoted '(' must not open a paren scope
    val q = "SELECT '(' AS a FROM ( SELECT y FROM t FOR SYSTEM_TIME AS OF z ) e"
    val Some((_, _, inner2)) = GraftSql.extractParenSubquery(q, "FOR SYSTEM_TIME"): @unchecked
    assert(inner2.startsWith("SELECT y"))
  }

  test("temporal join nested under a windowed aggregate composes through the door") {
    val sparkS = spark
    import sparkS.implicits._
    val e = Tables.t(spark, sfDir, "events")
    e.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts")
      .createOrReplaceTempView("gsql_tjw_p")
    e.filter($"event_type" === "signup").select($"user_id", $"ts", $"value")
      .createOrReplaceTempView("gsql_tjw_b")
    val df = GraftSql.run(spark,
      """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '30' MINUTE)) AS wstart,
        |       count(*) AS cnt
        |FROM (
        |  SELECT p.ts AS ts, b.value AS v
        |  FROM gsql_tjw_p AS p
        |  JOIN gsql_tjw_b FOR SYSTEM_TIME AS OF p.ts AS b
        |  ON p.user_id = b.user_id
        |) e
        |GROUP BY TUMBLE(ts, INTERVAL '30' MINUTE)""".stripMargin)
    assert(df.columns.toSeq == Seq("wstart", "cnt"))
    assert(df.count() > 0)
  }

  test("MATCH_RECOGNIZE nested under an aggregate composes through the door") {
    Tables.t(spark, sfDir, "events")
      .select("user_id", "event_id", "event_type")
      .createOrReplaceTempView("gsql_mrw")
    val df = GraftSql.run(spark,
      """SELECT user_id, count(*) AS n_matches
        |FROM (
        |  SELECT * FROM gsql_mrw MATCH_RECOGNIZE (
        |    PARTITION BY user_id ORDER BY event_id
        |    MEASURES A.event_id AS a_id
        |    ONE ROW PER MATCH
        |    PATTERN (A B)
        |    DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
        |  )
        |) m GROUP BY user_id""".stripMargin)
    assert(df.columns.toSeq == Seq("user_id", "n_matches"))
    assert(df.count() > 0)
  }

  test("StatementSet: several INSERTs buffered, one execute, per-sink summary") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one") // ensure views registered
    val p1 = Tables.scratch("insert-sink/gsql_ss_a")
    val p2 = Tables.scratch("insert-sink/gsql_ss_b")
    GraftSql.run(spark, s"CREATE TABLE gsql_ss_a (t STRING, n BIGINT) WITH ('path' = '$p1')")
    GraftSql.run(spark, s"CREATE TABLE gsql_ss_b (n BIGINT) WITH ('path' = '$p2')")
    val summary = GraftSql.createStatementSet(spark)
      .addInsertSql(
        "INSERT INTO gsql_ss_a SELECT event_type AS t, count(*) AS n FROM events GROUP BY event_type")
      .addInsertSql("INSERT INTO gsql_ss_b SELECT count(*) AS n FROM events")
      .execute()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary.keySet == Set("gsql_ss_a", "gsql_ss_b"))
    assert(summary("gsql_ss_b") == 1)
    assert(spark.read.parquet(p1).count() == summary("gsql_ss_a"))
    // only INSERTs are accepted — the reference API's contract
    intercept[IllegalArgumentException] {
      GraftSql.createStatementSet(spark).addInsertSql("SELECT 1")
    }
  }

  test("StatementSet carries a static PARTITION clause exactly like run()") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val p = Tables.scratch("insert-sink/gsql_ss_part")
    GraftSql.run(spark,
      s"""CREATE TABLE gsql_ss_part (event_id BIGINT, value DOUBLE)
         |PARTITIONED BY (etype) WITH ('path' = '$p')""".stripMargin)
    val summary = GraftSql.createStatementSet(spark)
      .addInsertSql(
        """INSERT INTO gsql_ss_part PARTITION (etype='purchase')
          |SELECT event_id, value FROM events
          |WHERE event_type = 'purchase'""".stripMargin)
      .execute().collect()
    assert(summary.head.getLong(1) > 0)
    val written = spark.read.parquet(p)
    assert(written.columns.contains("etype"))
    assert(written.select("etype").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("purchase"))
  }

  test("full deployment script: SET + sink DDL + INSERT with nested temporal join") {
    val sparkS = spark
    import sparkS.implicits._
    val e = Tables.t(spark, sfDir, "events")
    e.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts")
      .createOrReplaceTempView("gsql_dep_p")
    e.filter($"event_type" === "signup").select($"user_id", $"ts", $"value")
      .createOrReplaceTempView("gsql_dep_b")
    val path = Tables.scratch("insert-sink/gsql_deploy")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val df = GraftSql.script(spark, sfDir,
        s"""SET 'table.exec.resource.default-parallelism' = '4';
           |CREATE TABLE gsql_deploy (wstart BIGINT, cnt BIGINT) WITH ('path' = '$path');
           |INSERT INTO gsql_deploy
           |SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '30' MINUTE)) AS wstart,
           |       count(*) AS cnt
           |FROM (
           |  SELECT p.ts AS ts, b.value AS v
           |  FROM gsql_dep_p AS p
           |  JOIN gsql_dep_b FOR SYSTEM_TIME AS OF p.ts AS b
           |  ON p.user_id = b.user_id
           |) x
           |GROUP BY TUMBLE(ts, INTERVAL '30' MINUTE)""".stripMargin)
      assert(df.count() > 0) // read back from the sink files
      assert(spark.read.parquet(path).columns.toSeq.sorted == Seq("cnt", "wstart"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("CREATE VIEW: idiom body lowers through the door; IF NOT EXISTS preserves") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one") // ensure views registered
    val v = GraftSql.run(spark,
      """CREATE VIEW gsql_cv AS
        |SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '60' MINUTE)) AS wstart,
        |       count(*) AS cnt
        |FROM events GROUP BY TUMBLE(ts, INTERVAL '60' MINUTE)""".stripMargin)
    assert(v.columns.toSeq == Seq("wstart", "cnt"))
    // the registered view answers later plain SQL
    val n = GraftSql.run(spark, "SELECT count(*) AS n FROM gsql_cv")
      .collect().head.getLong(0)
    assert(n > 0)
    // IF NOT EXISTS on an existing name: no replacement
    val kept = GraftSql.run(spark,
      "CREATE VIEW IF NOT EXISTS gsql_cv AS SELECT 1 AS other")
    assert(kept.columns.toSeq == Seq("wstart", "cnt"))
    // plain replacement rebinds
    GraftSql.run(spark, "CREATE VIEW gsql_cv AS SELECT 1 AS other")
    assert(spark.table("gsql_cv").columns.toSeq == Seq("other"))
  }

  test("DROP VIEW / DROP TABLE: IF EXISTS semantics and sink deregistration") {
    GraftSql.run(spark, "CREATE VIEW gsql_dropme AS SELECT 1 AS x")
    assert(GraftSql.run(spark, "DROP VIEW gsql_dropme")
      .collect().head.getBoolean(1))
    // gone: dropping again without IF EXISTS is an error, with it a no-op
    intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DROP VIEW gsql_dropme")
    }
    assert(!GraftSql.run(spark, "DROP VIEW IF EXISTS gsql_dropme")
      .collect().head.getBoolean(1))
    // a sink registered by DDL is visible to SHOW TABLES and dropped by
    // DROP TABLE (reference DropTableOperation)
    val path = Tables.scratch("insert-sink/gsql_drop_sink")
    GraftSql.run(spark,
      s"CREATE TABLE gsql_drop_sink (n BIGINT) WITH ('path' = '$path')")
    val shown = GraftSql.run(spark, "SHOW TABLES")
      .collect().map(_.getString(0))
    assert(shown.contains("gsql_drop_sink"))
    assert(shown.contains("events")) // catalog views still listed
    GraftSql.run(spark, "DROP TABLE gsql_drop_sink")
    assert(graft.streaming.GraftDdl.sink(spark, "gsql_drop_sink").isEmpty)
    assert(!GraftSql.run(spark, "SHOW TABLES")
      .collect().map(_.getString(0)).contains("gsql_drop_sink"))
    // neither a sink nor a temp view: the statement falls through to
    // spark.sql, whose DROP TABLE reports the missing table (and would
    // handle a real catalog table — see the plain-CREATE-TABLE test)
    intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.run(spark, "DROP TABLE gsql_drop_sink")
    }
  }

  test("INSERT OVERWRITE: batch writes; a streaming SELECT is rejected") {
    val path = Tables.scratch("insert-sink/gsql_ovw_sink")
    GraftSql.sql(spark, sfDir,
      s"CREATE TABLE gsql_ovw_sink (n BIGINT) WITH ('path' = '$path')")
    val df = GraftSql.run(spark,
      "INSERT OVERWRITE gsql_ovw_sink SELECT count(*) AS n FROM events")
    assert(df.collect().head.getLong(0) > 0)
    // streaming overwrite is rejected like the reference's batch-only check
    GraftSql.run(spark,
      s"""CREATE TABLE gsql_ovw_src (
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('path' = '$sfDir', 'table' = 'events')""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark,
        "INSERT OVERWRITE gsql_ovw_sink SELECT event_id AS n FROM gsql_ovw_src")
    }
    assert(e.getMessage.contains("batch SELECT"))
  }

  test("CREATE FUNCTION: graft class impl, builtin alias, unknown impl rejected") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    // a graft expression class as the impl string
    GraftSql.run(spark,
      "CREATE FUNCTION my_hash AS 'org.apache.spark.sql.graft.JvmHashCodeExpression'")
    val r = GraftSql.run(spark,
      "SELECT my_hash('abc') AS a, hash_code('abc') AS b").collect().head
    assert(r.getInt(0) == r.getInt(1) && r.getInt(0) == "abc".hashCode)
    // any session-registered function (Spark builtin) as the impl
    GraftSql.run(spark, "CREATE TEMPORARY FUNCTION shout2 AS 'upper'")
    assert(GraftSql.run(spark, "SELECT shout2('ok') AS s")
      .collect().head.getString(0) == "OK")
    // unknown impl: recognizer's error, nothing registered
    val e = intercept[IllegalArgumentException] {
      GraftSql.run(spark, "CREATE FUNCTION broken AS 'no.such.Thing'")
    }
    assert(e.getMessage.contains("neither a graft expression"))
    // DROP FUNCTION removes the alias; second drop needs IF EXISTS
    assert(GraftSql.run(spark, "DROP FUNCTION shout2").collect().head.getBoolean(1))
    intercept[IllegalArgumentException] {
      GraftSql.run(spark, "DROP FUNCTION shout2")
    }
    assert(!GraftSql.run(spark, "DROP FUNCTION IF EXISTS shout2")
      .collect().head.getBoolean(1))
  }

  test("ALTER TABLE SET retargets a sink: later INSERTs observe path+format") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val p1 = Tables.scratch("insert-sink/gsql_alter_a")
    val p2 = Tables.scratch("insert-sink/gsql_alter_b")
    GraftSql.run(spark,
      s"CREATE TABLE gsql_alter (n BIGINT) WITH ('path' = '$p1')")
    GraftSql.run(spark, "INSERT INTO gsql_alter SELECT count(*) AS n FROM events")
    assert(spark.read.parquet(p1).count() == 1)
    GraftSql.run(spark,
      s"ALTER TABLE gsql_alter SET ('path' = '$p2', 'format' = 'csv')")
    GraftSql.run(spark, "INSERT INTO gsql_alter SELECT count(*) AS n FROM events")
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(p2)).anyMatch(
      f => f.getFileName.toString.endsWith(".csv")))
    // altering an unknown table falls through to Spark (and fails there)
    intercept[Exception] {
      GraftSql.run(spark, "ALTER TABLE gsql_alter_missing SET ('format' = 'csv')")
    }
  }

  test("SOURCE <file>: the script file runs through the dispatcher") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    val f = java.nio.file.Files.createTempFile("gsql_source", ".sql")
    java.nio.file.Files.writeString(f,
      """CREATE VIEW gsql_src_v AS SELECT count(*) AS n FROM events;
        |SELECT n FROM gsql_src_v""".stripMargin)
    val df = GraftSql.run(spark, s"SOURCE $f")
    assert(df.collect().head.getLong(0) > 0)
    java.nio.file.Files.deleteIfExists(f)
  }

  test("script mode: SET inside a script applies to the statements after it") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val df = GraftSql.script(spark, sfDir,
        """SET 'table.exec.resource.default-parallelism' = '3';
          |SELECT count(*) AS n FROM events""".stripMargin)
      assert(df.collect().head.getLong(0) > 0)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("idiom keywords inside string LITERALS do not trigger the recognizers") {
    GraftSql.sql(spark, sfDir, "SELECT 1 AS one")
    // these are legal plain SQL; the r6 behavior routed them to the
    // MATCH_RECOGNIZE / temporal recognizers, which threw
    val m = GraftSql.run(spark, "SELECT 'MATCH_RECOGNIZE' AS s").collect()
    assert(m.head.getString(0) == "MATCH_RECOGNIZE")
    val t = GraftSql.run(spark,
      "SELECT 'FOR SYSTEM_TIME AS OF' AS s, count(*) AS n FROM events GROUP BY 1").collect()
    assert(t.head.getLong(1) > 0)
  }

  test("plain Spark CREATE TABLE (no WITH options) falls through to spark.sql") {
    try {
      GraftSql.run(spark, "CREATE TABLE gsql_plain_ct (x INT) USING parquet")
      // it registered as a real catalog table, not a graft sink
      assert(graft.streaming.GraftDdl.sink(spark, "gsql_plain_ct").isEmpty)
      assert(spark.catalog.tableExists("gsql_plain_ct"))
      // and the door's DROP TABLE reaches it via the spark.sql fallthrough
      GraftSql.run(spark, "DROP TABLE gsql_plain_ct")
      assert(!spark.catalog.tableExists("gsql_plain_ct"))
    } finally spark.sql("DROP TABLE IF EXISTS gsql_plain_ct")
  }

  test("streaming INSERT INTO re-run resumes incrementally (stable checkpoint)") {
    val sparkS = spark
    import sparkS.implicits._
    val srcDir = Tables.scratch("gsql-inc/src")
    val srcTbl = s"$srcDir/evts.parquet"
    val sinkPath = Tables.scratch("gsql-inc/sink")
    // wipe any leftovers from a previous test run: the checkpoint is
    // deliberately STABLE across runs now
    def rm(p: String): Unit = {
      val f = new java.io.File(p)
      def go(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(go))
        x.delete(); ()
      }
      go(f)
    }
    rm(srcDir); rm(sinkPath)
    rm(Tables.scratch(
      s"insert-ckpt/gsql_inc_sink-${Integer.toHexString(sinkPath.hashCode)}"))
    // batch 1: three rows land in the source directory
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:01")),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:02")),
        (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:03")))
      .toDF("user_id", "ts").write.mode("append").parquet(srcTbl)
    GraftSql.run(spark,
      s"""CREATE TABLE gsql_inc_src (WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)
         |WITH ('path' = '$srcDir', 'table' = 'evts')""".stripMargin)
    GraftSql.run(spark,
      s"CREATE TABLE gsql_inc_sink (user_id BIGINT) WITH ('path' = '$sinkPath')")
    val ins = "INSERT INTO gsql_inc_sink SELECT user_id FROM gsql_inc_src"
    assert(GraftSql.run(spark, ins).count() == 3)
    // two MORE rows arrive; the re-run must drain exactly the new suffix.
    // The r6 behavior (fresh UUID checkpoint vs persistent _spark_metadata)
    // restarted batchIds at 0, FileStreamSink skipped the "already
    // committed" batch, and the re-run silently wrote nothing.
    Seq((4L, java.sql.Timestamp.valueOf("2024-01-01 10:00:04")),
        (5L, java.sql.Timestamp.valueOf("2024-01-01 10:00:05")))
      .toDF("user_id", "ts").write.mode("append").parquet(srcTbl)
    assert(GraftSql.run(spark, ins).count() == 5)
    // and a StatementSet re-run reports ITS OWN written rows (the delta),
    // not the sink's cumulative contents
    Seq((6L, java.sql.Timestamp.valueOf("2024-01-01 10:00:06")))
      .toDF("user_id", "ts").write.mode("append").parquet(srcTbl)
    val summary = GraftSql.createStatementSet(spark).addInsertSql(ins)
      .execute().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary("gsql_inc_sink") == 1)
    assert(spark.read.parquet(sinkPath).count() == 6)
  }

  test("StatementSet rejects malformed INSERT text at addInsertSql, not execute") {
    // "INSERT INTO t" passed the old prefix check and died later as a
    // scala.MatchError inside execute() (r6 ADVICE)
    intercept[IllegalArgumentException] {
      GraftSql.createStatementSet(spark).addInsertSql("INSERT INTO t")
    }
    intercept[IllegalArgumentException] {
      GraftSql.createStatementSet(spark)
        .addInsertSql("INSERT OVERWRITE s SELECT 1 AS x")
    }
  }

  test("dedup idiom: case-insensitive names resolve once, output carries the constant rn") {
    import org.apache.spark.sql.functions._
    Tables.t(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .createOrReplaceTempView("gsql_dedup_case")
    val out = GraftSql.run(spark,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY USER_ID ORDER BY TS_US) AS rn
        |  FROM gsql_dedup_case) WHERE rn = 1""".stripMargin)
    // the partition column appears ONCE (no case-mismatch duplicate), and
    // the outer SELECT *'s rn column survives as the constant 1
    assert(out.columns.count(_.equalsIgnoreCase("user_id")) == 1, out.columns.toSeq)
    assert(out.columns.contains("rn"), out.columns.toSeq)
    assert(out.select("rn").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("mapDefaultCatalog: rewrites outside literals only, SQL-escaped quotes included") {
    import graft.operators.GraftSql.mapDefaultCatalog
    // plain rewrite outside any literal
    assert(mapDefaultCatalog("SELECT * FROM default_catalog.db.t") ==
      "SELECT * FROM spark_catalog.db.t")
    // inside a literal: untouched
    assert(mapDefaultCatalog("SELECT 'default_catalog.db.t' AS s") ==
      "SELECT 'default_catalog.db.t' AS s")
    // an ESCAPED quote inside the literal must not flip the inside/outside
    // classification of the text after it (r9 ADVICE): the literal keeps
    // its spelling, the reference after the literal still rewrites
    assert(mapDefaultCatalog(
      "SELECT 'it''s default_catalog.db.a' AS s FROM default_catalog.db.t") ==
      "SELECT 'it''s default_catalog.db.a' AS s FROM spark_catalog.db.t")
    // empty literal directly before a rewrite site
    assert(mapDefaultCatalog("SELECT '' FROM default_catalog.db.t") ==
      "SELECT '' FROM spark_catalog.db.t")
    // unterminated literal: everything after the quote stays untouched
    assert(mapDefaultCatalog("SELECT 'oops default_catalog.db.t") ==
      "SELECT 'oops default_catalog.db.t")
  }
}
