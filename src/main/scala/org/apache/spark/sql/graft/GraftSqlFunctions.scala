/* Lives under org.apache.spark.sql for private[sql] access (sessionState /
 * FunctionRegistry) — see JvmHashCode.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction,
  UnresolvedGenerator, UnresolvedTableValuedFunction, UnresolvedTVFAliases}
import org.apache.spark.sql.catalyst.expressions.{Divide, Explode, Expression, GetStructField,
  LateralSubquery, Literal, Multiply, PosExplode, SessionWindow, Sqrt, StringSplit, TimeWindow}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LateralJoin, LogicalPlan,
  SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.connector.catalog.CatalogV2Implicits.MultipartIdentifierHelper
import org.apache.spark.sql.types.{CalendarIntervalType, DayTimeIntervalType, StringType,
  YearMonthIntervalType}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** Registers graft's native expressions as SQL functions on an existing
  * session (works on any session, including one we didn't build — the
  * post-hoc equivalent of SparkSessionExtensions#injectFunction, which only
  * applies at session construction).
  *
  * Reference analogue: FlinkSqlOperatorTable registration of built-ins.
  */
object GraftSqlFunctions {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // only what is missing: every door statement lands here, and replacing a
    // function logs a WARN per name; a user's CREATE FUNCTION of one of
    // these names stays in place
    def define(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    define("hash_code", e => JvmHashCodeExpression(e.head))
    define("dot_product", e => DotProduct(e(0), e(1)))
    define("proctime", _ => ProcTimeExpression())
    define("cosine_similarity", e =>
      Divide(DotProduct(e(0), e(1)),
        Multiply(Sqrt(DotProduct(e(0), e(0))), Sqrt(DotProduct(e(1), e(1))))))
    for (w <- GroupWindows) {
      define(w, e => groupWindow(w, e))
      define(s"${w}_start", e => GetStructField(groupWindow(w, e), 0, Some("start")))
      define(s"${w}_end", e => GetStructField(groupWindow(w, e), 1, Some("end")))
    }
    // the reference's UDTFs as generators: `LATERAL VIEW split_rows(…)` and
    // the lowered `LATERAL TABLE(split_rows(…))` resolve them natively
    define("split_rows", e => Explode(literalSplit(e)))
    define("split_rows_indexed", e => PosExplode(literalSplit(e)))
  }

  /** `split_rows(s, 'd')` splits on a LITERAL delimiter (the reference UDTF,
    * and the DuckDB oracle's string_split); Spark's split() takes a regex,
    * where a '.', '|' or '+' would split on everything or nothing. A literal
    * delimiter gets its metacharacters escaped (`.` becomes `\.`), which
    * String.split still takes on its no-regex fast path — Pattern.quote's
    * `\Q…\E` would compile a regex per row. A non-literal delimiter keeps
    * regex semantics. */
  private def literalSplit(args: Seq[Expression]): Expression = args match {
    case Seq(str, Literal(d: UTF8String, _: StringType)) =>
      StringSplit(str,
        Literal(d.toString.replaceAll("([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1")), Literal(-1))
    case Seq(str, delim) => StringSplit(str, delim, Literal(-1))
    case _ => throw new IllegalArgumentException(
      s"split_rows takes (string, delimiter), got ${args.length} arguments")
  }

  /** Flink's group windows (reference FlinkSqlOperatorTable.java:778–826:
    * TUMBLE/HOP/SESSION and their `_START`/`_END` auxiliaries) build Spark's
    * own window expressions, so the analyzer's ResolveTimeWindows /
    * ResolveSessionWindows plan them exactly like `window()` /
    * `session_window()`, and reject two different windows in one SELECT. */
  private val GroupWindows = Seq("tumble", "hop", "session")

  private def groupWindow(name: String, args: Seq[Expression]): Expression =
    (name, args) match {
      case ("tumble", Seq(ts, size)) => TimeWindow(ts, micros(size), micros(size), 0L)
      // Flink is HOP(time, slide, size); TimeWindow takes size before slide
      case ("hop", Seq(ts, slide, size)) => TimeWindow(ts, micros(size), micros(slide), 0L)
      // SessionWindow accepts only a CalendarIntervalType gap
      case ("session", Seq(ts, gap)) =>
        SessionWindow(ts, Literal(new CalendarInterval(0, 0, micros(gap)), CalendarIntervalType))
      case _ => throw new IllegalArgumentException(
        s"${name.toUpperCase} with ${args.length} arguments: the group windows are " +
          "TUMBLE(time, size), HOP(time, slide, size) and SESSION(time, gap)")
    }

  private def micros(interval: Expression): Long = interval match {
    case Literal(us: Long, _: DayTimeIntervalType) => us
    case Literal(_, _: YearMonthIntervalType) => throw new IllegalArgumentException(
      s"group window interval ${interval.sql} is in YEAR/MONTH units, which have " +
        "no fixed length: use SECOND, MINUTE, HOUR or DAY")
    case other => throw new IllegalArgumentException(
      s"group window interval must be an INTERVAL literal, got ${other.sql}")
  }

  private val Auxiliaries: Map[String, String] =
    GroupWindows.flatMap(w => Seq(s"${w}_start" -> w, s"${w}_end" -> w)).toMap

  /** The one SQL entry for graft's Flink idioms: parses `text` once and
    * lowers on plans, never on text. It registers graft's functions (a
    * catalog restore on a `newSession()` never called [[register]]), checks
    * the group-window rule Spark lacks on the parsed plan (an auxiliary must
    * sit in an Aggregate grouped by its window; Spark alone would give each
    * row its own window), lowers `LATERAL TABLE` there, and lowers the
    * `rn = 1` dedup idiom on the analyzed plan
    * ([[_root_.graft.streaming.DedupSql.lower]]). */
  def sql(spark: SparkSession, text: String): DataFrame = {
    register(spark)
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val tracker = new QueryPlanningTracker
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        session.sessionState.sqlParser.parsePlan(text))
      requireGroupedAuxiliaries(parsed)
      val df = classic.Dataset.ofRows(session, lowerLateralTables(parsed), tracker)
      // a streaming rank builds (only start() rejects it), so the idiom can
      // be matched on the analyzed plan and the DataFrame rebuilt
      val analyzed = df.queryExecution.analyzed
      val deduped = _root_.graft.streaming.DedupSql.lower(analyzed)
      if (deduped eq analyzed) df else classic.Dataset.ofRows(session, deduped, tracker)
    }
  }

  /** Flink's correlate `FROM t, LATERAL TABLE(f(args)) [AS] T(cols)` and
    * `LEFT JOIN LATERAL TABLE(…) [AS] T(cols) ON TRUE` (reference Correlate
    * rules) parse as a lateral join over a table function named TABLE. Each
    * becomes `LATERAL VIEW [OUTER] f(args) T AS cols`: a Generate resolving
    * `f` as a generator (cross-apply drops rows with no output; the left
    * correlate keeps them with nulls). Every other lateral join is left
    * alone, and an unknown `f` fails as an unresolved routine. CTE bodies
    * and subquery plans are lowered too. */
  private def lowerLateralTables(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (name, body, depth) => (name, body.copy(child = lowerLateralTables(body.child)), depth)
      })
      case LateralJoin(left, LateralSubquery(SubqueryAlias(alias, UnresolvedTVFAliases(_,
          UnresolvedTableValuedFunction(Seq(table), Seq(f: UnresolvedFunction), _), cols)),
          _, _, _, _), joinType @ (Inner | LeftOuter), cond)
          if table.equalsIgnoreCase("table") && cond.forall(_ == Literal.TrueLiteral) =>
        Generate(UnresolvedGenerator(f.nameParts.asFunctionIdentifier, f.arguments),
          unrequiredChildIndex = Nil, outer = joinType == LeftOuter,
          qualifier = Some(alias.name), generatorOutput = cols.map(UnresolvedAttribute.quoted),
          child = left)
    }

  private def requireGroupedAuxiliaries(plan: LogicalPlan): Unit = {
    def calls(es: Seq[Expression]): Seq[String] = es.flatMap(_.collect {
      case f: UnresolvedFunction if f.nameParts.length == 1 => f.nameParts.head.toLowerCase
    })
    val grouped = plan match {
      case a: Aggregate => calls(a.groupingExpressions).toSet
      case _ => Set.empty[String]
    }
    calls(plan.expressions).filter(Auxiliaries.contains).foreach { aux =>
      val w = Auxiliaries(aux)
      require(grouped(w), s"${aux.toUpperCase} outside a query grouped by " +
        s"${w.toUpperCase}(…): the reference rejects a window auxiliary without " +
        "its grouped window")
    }
    // CTE definitions are inner children; subquery expressions hold plans
    (plan.children ++ plan.innerChildren.collect { case p: LogicalPlan => p } ++
      plan.subqueries).foreach(requireGroupedAuxiliaries)
  }

  /** `CREATE FUNCTION name AS 'impl'` support (reference
    * SqlCommandParser.java:151, CreateTempSystemFunctionOperation — there the
    * impl string names a UDF class to instantiate): here impl is either a
    * graft expression class (simple or fully-qualified, the engine's ScalarFunction
    * analogues) or ANY function already registered in the session — Spark
    * builtins included, since the session registry is seeded from them —
    * and `name` registers as an alias for it. */
  def registerAlias(spark: SparkSession, name: String, impl: String): Unit = {
    val reg = spark.sessionState.functionRegistry
    val builder: Seq[Expression] => Expression = impl.trim.toLowerCase match {
      case "org.apache.spark.sql.graft.jvmhashcodeexpression" =>
        e => JvmHashCodeExpression(e.head)
      case "org.apache.spark.sql.graft.dotproduct" =>
        e => DotProduct(e(0), e(1))
      case "org.apache.spark.sql.graft.proctimeexpression" =>
        _ => ProcTimeExpression()
      case other =>
        reg.lookupFunctionBuilder(
            org.apache.spark.sql.catalyst.FunctionIdentifier(other))
          .getOrElse(throw new IllegalArgumentException(
            s"CREATE FUNCTION impl is neither a graft expression class nor a " +
              s"registered function name: $impl"))
    }
    reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** DROP FUNCTION (reference SqlCommandParser.java:152-154). True iff the
    * function existed in the session registry. */
  def dropFunction(spark: SparkSession, name: String): Boolean =
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))

  /** CHANGELOG_MODE classification (reference ExplainDetail.java:36 — the
    * changelog mode a plan produces, e.g. `changelogMode=[I,UA,D]`): a
    * streaming plan is insert-only iff Spark's OWN append-mode analysis
    * accepts it — the same authority that would reject the query at start —
    * otherwise it produces updates/retractions (the reference's [I,UB,UA,D]).
    * Bounded plans are insert-only by definition. */
  def appendOnly(df: org.apache.spark.sql.DataFrame): Boolean =
    !df.isStreaming || {
      try {
        org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker
          .checkForStreaming(df.queryExecution.analyzed,
            org.apache.spark.sql.streaming.OutputMode.Append())
        true
      } catch { case _: org.apache.spark.sql.AnalysisException => false }
    }
}
