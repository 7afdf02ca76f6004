package graft

import graft.operators.GraftSql
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the unified-door TEXT utilities — the two scanners
  * whose correctness every recognizer relies on: statement splitting and
  * balanced-paren subquery extraction. Both must be exactly quote-aware
  * (a `';'` or `'('` inside a SQL string literal is content, not syntax).
  * scalacheck drives randomized statements built from an alphabet that
  * includes quoted chunks containing the very delimiters being scanned. */
class GraftSqlPropSpec extends GraftSpec {

  private def holds(p: Prop, n: Int = 300): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  // statement pieces: plain identifiers-with-spaces, or single-quoted chunks
  // that may contain the delimiters (';', '(', ')')
  private val plainPiece: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.const('=')))
      .map(_.mkString)
  private val quotedPiece: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf(';', '(', ')', ' ')))
      .map(cs => "'" + cs.mkString + "'")
  private val statement: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(3 -> plainPiece, 1 -> quotedPiece))
      .map(_.mkString(" "))
      .suchThat(_.trim.nonEmpty)

  test("splitStatements: joins back to the same statements, quotes respected") {
    holds(Prop.forAll(Gen.nonEmptyListOf(statement)) { stmts =>
      val split = GraftSql.splitStatements(stmts.mkString(";"))
      split == stmts.map(_.trim).filter(_.nonEmpty).toVector
    })
  }

  test("splitStatements: a quoted semicolon never splits") {
    holds(Prop.forAll(plainPiece, plainPiece) { (a, b) =>
      GraftSql.splitStatements(s"SELECT '$a;$b' AS x").size == 1
    })
  }

  // balanced-paren noise that may legitimately precede/follow the subquery
  private val noise: Gen[String] = Gen.oneOf(
    "", "f(a, b)", "g(h(x))", "'(;)'", "count(1)", "'), ('")

  test("extractParenSubquery: finds the marked subquery under noise") {
    val marker = "FOR SYSTEM_TIME AS OF"
    holds(Prop.forAll(noise, noise) { (pre, post) =>
      val inner = s"SELECT x $pre FROM t $marker p.ts $post"
      val text = s"SELECT a, $pre q FROM ( $inner ) e WHERE b = $post 1"
      GraftSql.extractParenSubquery(text, marker) match {
        case Some((s0, e0, got)) =>
          got == inner.trim &&
            text.substring(s0, e0).startsWith("(") &&
            text.substring(s0, e0).endsWith(")") &&
            // splicing removes the marker from the remaining text
            !(text.substring(0, s0) + text.substring(e0)).toUpperCase
              .contains(marker)
        case None => false
      }
    })
  }

  test("extractParenSubquery: top-level marker extracts nothing") {
    val marker = "FOR SYSTEM_TIME AS OF"
    holds(Prop.forAll(noise) { n =>
      GraftSql.extractParenSubquery(
        s"SELECT x FROM t $marker p.ts JOIN u ON $n a = b", marker).isEmpty
    })
  }

  // ---- catalog-command scanners: the reference parser is case-insensitive
  // and whitespace-tolerant (Calcite lexer), so the command regexes must be
  // too — drive randomized spellings through the real dispatcher

  private def mixCase(s: String): Gen[String] =
    Gen.listOfN(s.length, Gen.oneOf(true, false)).map(bs =>
      s.zip(bs).map { case (c, b) => if (b) c.toUpper else c.toLower }.mkString)
  private val ws: Gen[String] = Gen.choose(1, 3).map(" " * _)

  test("CREATE/DROP VIEW: any case/whitespace spelling round-trips") {
    holds(Prop.forAll(
      mixCase("create"), Gen.oneOf("", "TEMPORARY "), mixCase("view"),
      mixCase("drop"), ws, ws) { (cr, tmp, vw, dr, w1, w2) =>
      val name = "gsql_prop_v"
      GraftSql.run(spark, s"$cr$w1$tmp$vw$w2$name${w1}AS${w2}SELECT 1 AS x")
      val created = spark.catalog.tableExists(name)
      GraftSql.run(spark, s"$dr$w2${vw}$w1$name;")
      created && !spark.catalog.tableExists(name)
    }, n = 60)
  }

  test("CREATE/DROP FUNCTION: any case/whitespace spelling round-trips") {
    holds(Prop.forAll(
      mixCase("create function"), mixCase("drop function"), ws) { (cf, df, w) =>
      val name = "gsql_prop_fn"
      GraftSql.run(spark, s"$cf$w$name${w}AS$w'upper'")
      val ok = GraftSql.run(spark, s"SELECT $name('a') AS s")
        .collect().head.getString(0) == "A"
      GraftSql.run(spark, s"$df$w$name")
      ok
    }, n = 40)
  }

  test("group windows: the Flink spelling plans like the window() spelling") {
    val s0 = spark
    import s0.implicits._
    Seq(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).toDF("ts")
      .createOrReplaceTempView("gw_prop")
    val unit = Gen.oneOf("SECOND", "MINUTE", "HOUR", "DAY")
    val g = for {
      n <- Gen.choose(1, 120); u <- unit
      m <- Gen.choose(1, n) // a HOP slide may not exceed its size
      kind <- Gen.oneOf("TUMBLE", "HOP", "SESSION")
    } yield {
      val (size, slide) = (s"INTERVAL '$n' $u", s"INTERVAL '$m' $u")
      val (args, window) = kind match {
        case "TUMBLE" => (s"ts, $size", s"window(ts, '$n $u')")
        case "HOP" => (s"ts, $slide, $size", s"window(ts, '$n $u', '$m $u')")
        case _ => (s"ts, $size", s"session_window(ts, '$n $u')")
      }
      val col = if (kind == "SESSION") "session_window" else "window"
      (s"SELECT ${kind}_START($args) AS w, count(*) AS c FROM gw_prop GROUP BY $kind($args)",
        s"SELECT $col.start AS w, count(*) AS c FROM gw_prop GROUP BY $window")
    }
    def optimized(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.canonicalized
    holds(Prop.forAll(g) { case (flinkText, sparkText) =>
      optimized(GraftSql.run(spark, flinkText)) ==
        optimized(spark.sql(sparkText))
    }, n = 60)
  }

  test("CREATE/USE/DROP CATALOG: any case/whitespace spelling round-trips") {
    holds(Prop.forAll(
      mixCase("create catalog"), mixCase("use catalog"),
      mixCase("drop catalog"), ws) { (cc, uc, dc, w) =>
      GraftSql.resetNamedCatalogs(spark)
      val name = "gsql_prop_cat"
      GraftSql.run(spark, s"$cc$w$name${w}WITH$w('type'$w=$w'generic_in_memory')")
      val listed = GraftSql.run(spark, "SHOW CATALOGS").collect()
        .exists(_.getString(0) == name)
      GraftSql.run(spark, s"$uc$w$name")
      val inUse = GraftSql.run(spark, s"DESCRIBE CATALOG $name")
        .head.getString(2) == "true"
      GraftSql.run(spark, s"USE CATALOG default_catalog")
      GraftSql.run(spark, s"$dc$w$name;")
      val gone = !GraftSql.run(spark, "SHOW CATALOGS").collect()
        .exists(_.getString(0) == name)
      GraftSql.resetNamedCatalogs(spark)
      listed && inUse && gone
    }, n = 40)
  }

  test("ALTER VIEW RENAME/AS + ALTER FUNCTION: any case/whitespace spelling") {
    holds(Prop.forAll(
      mixCase("alter view"), mixCase("rename to"),
      mixCase("alter function"), ws) { (av, rt, af, w) =>
      GraftSql.run(spark, "CREATE VIEW gsql_prop_av AS SELECT 1 AS x")
      GraftSql.run(spark, s"$av${w}gsql_prop_av$w$rt${w}gsql_prop_av2")
      val renamed = spark.catalog.tableExists("gsql_prop_av2") &&
        !spark.catalog.tableExists("gsql_prop_av")
      GraftSql.run(spark, s"$av${w}gsql_prop_av2${w}AS${w}SELECT 2 AS x")
      val rebodied = spark.table("gsql_prop_av2").head.getInt(0) == 2
      GraftSql.run(spark, "DROP VIEW gsql_prop_av2")
      GraftSql.run(spark, "CREATE FUNCTION gsql_prop_afn AS 'upper'")
      GraftSql.run(spark, s"$af${w}gsql_prop_afn${w}AS$w'lower'")
      val repointed = spark.sql("SELECT gsql_prop_afn('A') AS s")
        .head.getString(0) == "a"
      GraftSql.run(spark, "DROP FUNCTION gsql_prop_afn")
      renamed && rebodied && repointed
    }, n = 30)
  }
}
