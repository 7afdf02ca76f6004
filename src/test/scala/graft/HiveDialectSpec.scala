package graft

import operators.HiveDialect

/** The Hive SQL dialect ([[operators.HiveDialect]]) — translation rules
  * against the reference's accepted syntax
  * (flink-sql-parser-hive FlinkHiveSqlParserImplTest.java) plus the door
  * integration: the dialect gate, the shared-session restore discipline,
  * and the end-to-end DDL+DML flow. */
class HiveDialectSpec extends GraftSpec {

  private def wh(name: String) = s"/wh/$name"

  private def tr(sql: String): String = HiveDialect.translate(sql, wh)

  test("CREATE EXTERNAL TABLE with typed partition cols, STORED AS, LOCATION, TBLPROPERTIES") {
    val out = tr(
      """CREATE EXTERNAL TABLE tbl (x INT, y STRING)
        |COMMENT 'a hive table'
        |PARTITIONED BY (p1 STRING, p2 INT)
        |STORED AS PARQUET
        |LOCATION '/table/path'
        |TBLPROPERTIES ('k1' = 'v1')""".stripMargin)
    // partition columns appended to the schema with their types (the
    // reference's SqlCreateHiveTable appends partColList to columnList)
    assert(out.contains("(x INT, y STRING, p1 STRING, p2 INT)"), out)
    assert(out.contains("PARTITIONED BY (p1, p2)"), out)
    assert(out.contains("'path' = '/table/path'"), out)
    assert(out.contains("'format' = 'parquet'"), out)
    assert(out.contains("'hive.is-external' = 'true'"), out)
    assert(out.contains("'comment' = 'a hive table'"), out)
    assert(out.contains("'k1' = 'v1'"), out)
  }

  test("managed table (no LOCATION) lands under the warehouse directory") {
    val out = tr("CREATE TABLE m (x INT) STORED AS ORC")
    assert(out.contains("'path' = '/wh/m'"), out)
    assert(out.contains("'format' = 'orc'"), out)
    assert(!out.contains("hive.is-external"), out)
  }

  test("TEXTFILE and the absent STORED AS both map to csv (Hive's default format)") {
    assert(tr("CREATE TABLE t1 (x INT) STORED AS TEXTFILE").contains("'format' = 'csv'"))
    assert(tr("CREATE TABLE t2 (x INT)").contains("'format' = 'csv'"))
  }

  test("ROW FORMAT DELIMITED accepts the standard comma, rejects other delimiters") {
    val ok = tr(
      "CREATE TABLE t (x INT) ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE")
    assert(ok.contains("'format' = 'csv'"), ok)
    val e = intercept[IllegalArgumentException] {
      tr("CREATE TABLE t (x INT) ROW FORMAT DELIMITED FIELDS TERMINATED BY ';'")
    }
    assert(e.getMessage.contains("FIELDS TERMINATED BY"), e.getMessage)
  }

  test("complex column types survive the balanced-paren column scan") {
    val out = tr(
      "CREATE TABLE t (a DECIMAL(10,2), b MAP<STRING,INT>) PARTITIONED BY (p STRING) STORED AS PARQUET")
    assert(out.contains("(a DECIMAL(10,2), b MAP<STRING,INT>, p STRING)"), out)
  }

  test("deliberate rejections: SERDE, INPUTFORMAT, STORED BY, CLUSTERED BY, IF NOT EXISTS") {
    for (bad <- Seq(
      "CREATE TABLE t (x INT) ROW FORMAT SERDE 'serde.class.name'",
      "CREATE TABLE t (x INT) STORED AS INPUTFORMAT 'in.cls' OUTPUTFORMAT 'out.cls'",
      "CREATE TABLE t (x INT) STORED BY 'handler'",
      "CREATE TABLE t (x INT) CLUSTERED BY (x) INTO 4 BUCKETS",
      "CREATE TABLE IF NOT EXISTS t (x INT) STORED AS PARQUET"))
      intercept[IllegalArgumentException](tr(bad))
    val e = intercept[IllegalArgumentException](
      tr("CREATE TABLE t (x INT) STORED AS SEQUENCEFILE"))
    assert(e.getMessage.contains("SEQUENCEFILE"), e.getMessage)
  }

  test("INSERT INTO|OVERWRITE TABLE drops the Hive-only TABLE keyword") {
    assert(tr("INSERT OVERWRITE TABLE tbl SELECT * FROM src") ==
      "INSERT OVERWRITE tbl SELECT * FROM src")
    assert(tr("insert into table tbl partition(p1=1,p2) select * from src") ==
      "insert into tbl partition(p1=1,p2) select * from src")
  }

  test("ALTER TABLE SET TBLPROPERTIES / SET LOCATION lower onto the option merge") {
    assert(tr("ALTER TABLE tbl SET TBLPROPERTIES ('k' = 'v')")
      .matches("(?s)ALTER TABLE tbl SET\\s*\\('k' = 'v'\\)"))
    assert(tr("ALTER TABLE tbl SET LOCATION '/new/table/path'")
      .matches("(?s)ALTER TABLE tbl SET\\s*\\('path' = '/new/table/path'\\)"))
  }

  test("ALTER TABLE SET FILEFORMAT maps formats; partition-scoped SET is rejected") {
    assert(tr("ALTER TABLE tbl SET FILEFORMAT ORC")
      .matches("(?s)ALTER TABLE tbl SET\\s*\\('format' = 'orc'\\)"))
    assert(tr("alter table tbl set fileformat `PARQUET`")
      .contains("'format' = 'parquet'"))
    intercept[IllegalArgumentException](tr("ALTER TABLE tbl SET FILEFORMAT RCFILE"))
    intercept[IllegalArgumentException](
      tr("ALTER TABLE tbl PARTITION (p=1) SET LOCATION '/new/partition/location'"))
    intercept[IllegalArgumentException](
      tr("ALTER TABLE tbl PARTITION (p=1) SET FILEFORMAT SEQUENCEFILE"))
  }

  test("ADD/REPLACE COLUMNS update the registered definition; CHANGE COLUMN is rejected") {
    import operators.GraftSql.{run => door}
    Tables.registerAll(spark, sfDir)
    val path = Tables.scratch(s"hive-addcols/${java.util.UUID.randomUUID()}")
    door(spark, s"SET ${HiveDialect.DialectKey} = hive")
    try {
      door(spark,
        s"""CREATE TABLE graft_hd_cols (event_id BIGINT, value DOUBLE)
           |STORED AS PARQUET LOCATION '$path'""".stripMargin)
      door(spark, "ALTER TABLE graft_hd_cols ADD COLUMNS (tag STRING, n INT) CASCADE")
      val cols = graft.streaming.GraftDdl.tableCols(spark, "graft_hd_cols").get
      assert(cols.toLowerCase.contains("event_id bigint"), cols)
      assert(cols.toLowerCase.contains("tag string"), cols)
      door(spark, "ALTER TABLE graft_hd_cols REPLACE COLUMNS (a INT, b STRING)")
      val cols2 = graft.streaming.GraftDdl.tableCols(spark, "graft_hd_cols").get
      assert(cols2.trim.toLowerCase == "a int, b string", cols2)
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_cols CHANGE COLUMN a a1 DECIMAL(5,2)"))
      // an UNREGISTERED name falls through to Spark's own ALTER (which
      // rejects the missing table itself) — the hive branch must not
      // hijack real catalog tables
      intercept[Exception](door(spark,
        "ALTER TABLE no_such_table_xyz ADD COLUMNS (x INT)"))
    } finally door(spark, s"SET ${HiveDialect.DialectKey} = default")
  }

  test("ADD/REPLACE COLUMNS on a PARTITIONED table keep the partition tail intact") {
    import operators.GraftSql.{run => door}
    Tables.registerAll(spark, sfDir)
    val path = Tables.scratch(s"hive-partcols/${java.util.UUID.randomUUID()}")
    door(spark, s"SET ${HiveDialect.DialectKey} = hive")
    try {
      door(spark,
        s"""CREATE TABLE graft_hd_pcols (event_id BIGINT, value DOUBLE)
           |PARTITIONED BY (etype STRING, day INT)
           |STORED AS PARQUET LOCATION '$path'""".stripMargin)
      // ADD inserts BEFORE the partition tail (partition columns are
      // schema-final — SqlCreateHiveTable appends them last, always)
      door(spark, "ALTER TABLE graft_hd_pcols ADD COLUMNS (tag STRING)")
      val afterAdd = graft.streaming.GraftDdl.tableCols(spark, "graft_hd_pcols").get
      assert(afterAdd.toLowerCase.replaceAll("\\s+", " ") ==
        "event_id bigint, value double, tag string, etype string, day int",
        afterAdd)
      // REPLACE swaps only the non-partition prefix; the partition
      // definitions survive at the tail (the r13 bug stripped them)
      door(spark, "ALTER TABLE graft_hd_pcols REPLACE COLUMNS (a INT, b STRING)")
      val afterReplace = graft.streaming.GraftDdl.tableCols(spark, "graft_hd_pcols").get
      assert(afterReplace.toLowerCase.replaceAll("\\s+", " ") ==
        "a int, b string, etype string, day int", afterReplace)
      // redeclaring a partition column through the surgery is rejected
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_pcols ADD COLUMNS (etype STRING)"))
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_pcols REPLACE COLUMNS (x INT, day INT)"))
    } finally door(spark, s"SET ${HiveDialect.DialectKey} = default")
  }

  test("a quoted value containing ') WITH (' still translates (engine-form probe blanks literals)") {
    val out = tr(
      "CREATE TABLE t (x INT) STORED AS PARQUET LOCATION '/p' " +
        "TBLPROPERTIES ('note' = 'compat) WITH (nothing')")
    assert(out.startsWith("CREATE TABLE t (x INT)"), out)
    assert(out.contains("'format' = 'parquet'"), out)
    assert(out.contains("'note' = 'compat) WITH (nothing'"), out)
  }

  test("PARTITION RENAME moves the partition directory with its data") {
    import operators.GraftSql.{run => door}
    Tables.registerAll(spark, sfDir)
    val path = Tables.scratch(s"hive-partrename/${java.util.UUID.randomUUID()}")
    door(spark, s"SET ${HiveDialect.DialectKey} = hive")
    try {
      door(spark,
        s"""CREATE TABLE graft_hd_ren (event_id BIGINT, value DOUBLE)
           |PARTITIONED BY (etype STRING)
           |STORED AS PARQUET
           |LOCATION '$path'""".stripMargin)
      door(spark,
        """INSERT OVERWRITE TABLE graft_hd_ren PARTITION (etype = 'click')
          |SELECT event_id, value FROM events WHERE event_type = 'click'""".stripMargin)
      val n = spark.read.parquet(path).where("etype = 'click'").count()
      assert(n > 0)
      val out = door(spark,
        """ALTER TABLE graft_hd_ren PARTITION (etype = 'click')
          |RENAME TO PARTITION (etype = 'tap')""".stripMargin).collect()
      assert(out.head.getString(0) == "etype=click" && out.head.getString(1) == "etype=tap")
      val after = spark.read.parquet(path)
      assert(after.where("etype = 'click'").count() == 0)
      assert(after.where("etype = 'tap'").count() == n,
        "the data must travel with the renamed partition")
      // renaming a missing partition, or onto an existing one, fails clearly
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_ren PARTITION (etype = 'click') RENAME TO PARTITION (etype = 'x')"))
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_ren PARTITION (etype = 'tap') RENAME TO PARTITION (etype = 'tap')"))
    } finally door(spark, s"SET ${HiveDialect.DialectKey} = default")
  }

  test("translate is idempotent: default-dialect text and queries pass through") {
    val engine = "CREATE TABLE t (x INT) WITH ('path' = '/p', 'format' = 'parquet')"
    assert(tr(engine) == engine)
    val sparkDdl = "CREATE TABLE t (x INT) USING parquet"
    assert(tr(sparkDdl) == sparkDdl)
    val query = "SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1"
    assert(tr(query) == query)
    // a translated CREATE re-enters unchanged (isEngineForm)
    val once = tr("CREATE TABLE t (x INT) STORED AS PARQUET LOCATION '/p'")
    assert(tr(once) == once)
  }

  test("the door only translates under SET table.sql-dialect = hive, and SET restores") {
    import operators.GraftSql.{run => door}
    // hive grammar under the DEFAULT dialect must fail (no silent translate)
    intercept[Exception] {
      door(spark, "CREATE TABLE graft_hd_gate (x INT) STORED AS PARQUET LOCATION '/tmp/never'")
    }
    door(spark, s"SET ${HiveDialect.DialectKey} = hive")
    try {
      val p = Tables.scratch("hive-dialect-gate")
      door(spark, s"CREATE TABLE graft_hd_gate (x INT) STORED AS PARQUET LOCATION '$p'")
      assert(graft.streaming.GraftDdl.tableOptions(spark, "graft_hd_gate")
        .exists(_.get("format").contains("parquet")))
    } finally door(spark, s"SET ${HiveDialect.DialectKey} = default")
    assert(!HiveDialect.isHive(spark))
  }

  test("ADD/DROP PARTITION manage the partition directories of a filesystem sink") {
    import operators.GraftSql.{run => door}
    Tables.registerAll(spark, sfDir)
    val path = Tables.scratch(s"hive-partddl/${java.util.UUID.randomUUID()}")
    door(spark, s"SET ${HiveDialect.DialectKey} = hive")
    try {
      door(spark,
        s"""CREATE TABLE graft_hd_part (event_id BIGINT, value DOUBLE)
           |PARTITIONED BY (etype STRING)
           |STORED AS PARQUET
           |LOCATION '$path'""".stripMargin)
      door(spark,
        """INSERT OVERWRITE TABLE graft_hd_part PARTITION (etype = 'click')
          |SELECT event_id, value FROM events WHERE event_type = 'click'""".stripMargin)
      // a second scoped OVERWRITE: the static-partition overwrite replaces
      // only its named partition, so clicks survive (batch INSERT INTO is
      // this engine's disclosed whole-sink idempotent overwrite — not what
      // a multi-partition layout wants)
      door(spark,
        """INSERT OVERWRITE TABLE graft_hd_part PARTITION (etype = 'view')
          |SELECT event_id, value FROM events WHERE event_type = 'view'""".stripMargin)
      val both = spark.read.parquet(path)
      val clicks = both.where("etype = 'click'").count()
      val views = both.where("etype = 'view'").count()
      assert(clicks > 0 && views > 0)

      // ADD pre-creates a directory; a duplicate ADD needs IF NOT EXISTS
      val added = door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (etype = 'purchase')").collect()
      assert(added.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq("etype=purchase" -> "added"))
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (etype = 'purchase')"))
      door(spark,
        "ALTER TABLE graft_hd_part ADD IF NOT EXISTS PARTITION (etype = 'purchase')")

      // DROP deletes the partition's data; the readback loses exactly it
      val dropped = door(spark,
        "ALTER TABLE graft_hd_part DROP PARTITION (etype = 'click')").collect()
      assert(dropped.head.getString(1) == "dropped")
      val after = spark.read.parquet(path)
      assert(after.where("etype = 'click'").count() == 0)
      assert(after.where("etype = 'view'").count() == views)

      // DROP of a missing partition needs IF EXISTS; multi-spec drops work
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part DROP PARTITION (etype = 'click')"))
      val multi = door(spark,
        """ALTER TABLE graft_hd_part DROP IF EXISTS
          |PARTITION (etype = 'view'), PARTITION (etype = 'never')""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(multi == Seq("etype=view" -> "dropped", "etype=never" -> "missing"))

      // per-partition LOCATION and wrong spec columns are rejected
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (etype = 'x') LOCATION '/elsewhere'"))
      // a MID-LIST LOCATION is rejected too, not silently dropped (the r13
      // end-anchored probe missed it), and trailing garbage is an error
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (etype = 'x') LOCATION '/x' " +
          "PARTITION (etype = 'y')"))
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (etype = 'x') BOGUS TRAILING"))
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (wrongcol = 'x')"))
      // a path-traversing value must never reach the filesystem: a quoted
      // '../..' in a DROP would otherwise delete outside the sink root
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part DROP PARTITION (etype = '../..')"))
      intercept[IllegalArgumentException](door(spark,
        "ALTER TABLE graft_hd_part ADD PARTITION (etype = 'a/b')"))
    } finally door(spark, s"SET ${HiveDialect.DialectKey} = default")
  }

  test("q_hive_dialect_ddl: the full DDL+DML flow round-trips and restores the dialect") {
    val rows = HiveDialect.qHiveDdl.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("etype") == "click"))
    assert(!HiveDialect.isHive(spark), "the query must restore the session dialect")
  }
}
