package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** The reference's TEMPORAL TABLE FUNCTION surface — the 1.11-era sibling
  * of `FOR SYSTEM_TIME AS OF` (reference
  * flink-table/flink-table-api-java/.../Table.java:151
  * `createTemporalTableFunction(timeAttribute, primaryKey)`;
  * planner LogicalCorrelateToJoinFromTemporalTableFunctionRule.scala;
  * SQL grammar `FROM Orders o, LATERAL TABLE (Rates(o.rowtime)) AS r
  * WHERE o.currency = r.currency`). 1.11 users write BOTH forms; the
  * AS-OF half is [[TemporalSql]], this module closes the function half.
  *
  * Semantics (reference TemporalTableFunction): `Rates(t)` is the
  * keyed-by-primaryKey view of the history table containing, for each key,
  * the version row with the greatest timeAttribute <= t. The planner
  * refuses a correlate with no primary-key equality in the WHERE clause —
  * same stance here — which turns the correlate into a keyed as-of join,
  * not a time-conditioned cross product.
  *
  * Lowering: the registry resolves the function name to (history, timeAttr,
  * primaryKey); the WHERE clause's primary-key equality supplies the probe
  * key; the correlate then lowers onto [[TemporalSql.temporalJoin]] — the
  * same single-shuffle union+window pass as the AS-OF form, so both
  * spellings of the reference's temporal join run the same scale-correct
  * plan. The remaining SELECT/WHERE/GROUP BY/ORDER BY text re-enters
  * `spark.sql` over the joined view, so aggregates and expressions over
  * `o.*` and `r.*` (the documented `SUM(o.amount * r.rate)` shape) work
  * unmodified.
  */
object TemporalFunction {

  /** A registered temporal table function (reference
    * TemporalTableFunctionImpl: underlying history relation + time
    * attribute + primary key). */
  final case class TemporalFn(history: DataFrame, timeAttr: String, primaryKey: String)

  private val registry = new graft.SessionScoped(TrieMap[String, TemporalFn]())

  /** Table-API registration (reference Table.createTemporalTableFunction +
    * TableEnvironment.registerFunction): `history` versioned by `timeAttr`,
    * keyed by `primaryKey`, callable as `name(<time>)` in LATERAL TABLE —
    * in `history`'s session only, like the reference's FunctionCatalog. */
  def createTemporalTableFunction(name: String, history: DataFrame,
      timeAttr: String, primaryKey: String): Unit = {
    require(history.columns.contains(timeAttr),
      s"time attribute '$timeAttr' not in history schema ${history.columns.mkString("(", ", ", ")")}")
    require(history.columns.contains(primaryKey),
      s"primary key '$primaryKey' not in history schema ${history.columns.mkString("(", ", ", ")")}")
    registry(history.sparkSession)(name.toLowerCase) = TemporalFn(history, timeAttr, primaryKey)
  }

  def get(spark: SparkSession, name: String): Option[TemporalFn] =
    registry(spark).get(name.toLowerCase)

  /** Table-API correlate (reference Table.joinLateral(rates($"rowtime"),
    * $"k" === $"pk")): probe each row of `probe` against the function's
    * version valid at `probe.probeTs`, keyed probe.probeKey = history's
    * primary key. Build columns come back prefixed `r_` (the reference
    * returns them under the function's field names; the prefix avoids
    * probe collisions the same way its alias does). Inner correlate —
    * probe rows with no version at-or-before their time drop, matching
    * the comma-join form. */
  def joinLateral(probe: DataFrame, fnName: String, probeTs: String,
      probeKey: String): DataFrame = {
    val fn = get(probe.sparkSession, fnName).getOrElse(throw new IllegalArgumentException(
      s"unknown temporal table function '$fnName' — " +
        "createTemporalTableFunction first"))
    val joined = TemporalSql.temporalJoin(probe, fn.history,
      probeKey, fn.primaryKey, probeTs, fn.timeAttr, leftJoin = false)
    // __b_c → r_c: stable, alias-independent build-side names
    fn.history.columns.filterNot(_ == fn.primaryKey).foldLeft(joined) {
      (df, c) => df.withColumnRenamed(s"__b_$c", s"r_$c")
    }
  }

  /** PROCESSING-TIME temporal correlate (reference
    * TemporalProcessTimeJoinOperator.java: `Rates(o.proctime)` joins each
    * probe row with the key's CURRENT latest version, not an as-of-rowtime
    * one). The versioned side collapses to its latest version per key
    * (max_by over the time attribute — map-side partial aggregate) and the
    * correlate becomes a plain equi-join against that snapshot: Catalyst
    * broadcasts it when dim-sized, and a STREAMING probe takes it as a
    * stream-static join — the snapshot re-evaluates per micro-batch, which
    * IS the reference's "version current at processing time" semantics
    * under micro-batching. Build columns return prefixed `r_` like
    * [[joinLateral]]. */
  def joinLatest(probe: DataFrame, fnName: String, probeKey: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val fn = get(probe.sparkSession, fnName).getOrElse(throw new IllegalArgumentException(
      s"unknown temporal table function '$fnName' — " +
        "createTemporalTableFunction first"))
    val hist = fn.history
    val others = hist.columns.filterNot(_ == fn.primaryKey).toSeq
    val latest = hist.groupBy(hist(fn.primaryKey).as("__k"))
      .agg(max_by(struct(others.map(hist(_)): _*), hist(fn.timeAttr)).as("__v"))
    val joined = probe.join(latest, probe(probeKey) === col("__k"))
    joined.select(
      probe.columns.toSeq.map(probe(_)) ++
        others.map(c => col("__v").getField(c).as(s"r_$c")): _*)
  }

  // SELECT <items> FROM <probe> [AS] o, LATERAL TABLE ( fn ( o.ts ) ) [AS] r
  // WHERE <conjuncts> [GROUP BY …] [ORDER BY …]
  private val StmtR =
    ("(?is)\\s*SELECT\\s+(.*?)\\s+FROM\\s+(\\w+)\\s+(?:AS\\s+)?(\\w+)\\s*,\\s*" +
      "LATERAL\\s+TABLE\\s*\\(\\s*(\\w+)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*\\)\\s*\\)\\s+" +
      "(?:AS\\s+)?(\\w+)\\s+WHERE\\s+(.*?)" +
      "(\\s+GROUP\\s+BY\\s+[\\w.,\\s]+?)?(\\s+ORDER\\s+BY\\s+[\\w.,\\s]+?)?\\s*;?\\s*").r
  private val EqR = "(?i)\\s*(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*".r

  /** True iff the text's LATERAL TABLE call names a REGISTERED temporal
    * table function — the door's routing predicate (a UDTF lateral with the
    * same grammar belongs to [[LateralSql]], exactly the reference's
    * function-catalog kind check at Correlate planning time). */
  def recognizes(spark: SparkSession, text: String): Boolean = text match {
    case StmtR(_, _, _, fnName, _, _, _, _, _, _) => get(spark, fnName).isDefined
    case _ => false
  }

  /** Parse + execute the SQL correlate form against registered temp views.
    * Throws on an unrecognized shape or a missing primary-key equality. */
  def sql(spark: SparkSession, text: String): DataFrame = text match {
    case StmtR(items, probeV, pAlias, fnName, tsAlias, tsCol, bAlias,
        whereTxt, groupTxt, orderTxt) =>
      val fn = get(spark, fnName).getOrElse(throw new IllegalArgumentException(
        s"unknown temporal table function '$fnName'"))
      require(tsAlias.equalsIgnoreCase(pAlias),
        s"temporal function argument must be the probe's time attribute " +
          s"($pAlias.<ts>), got $tsAlias.$tsCol")
      // the reference's planner rule demands a primary-key equality in the
      // correlate condition; find it among the top-level AND conjuncts
      val conjuncts = whereTxt.split("(?i)\\s+AND\\s+").toSeq
      val (keyEqs, residue) = conjuncts.partition {
        case EqR(a1, c1, a2, c2) =>
          (a1.equalsIgnoreCase(bAlias) && c1.equalsIgnoreCase(fn.primaryKey) &&
            a2.equalsIgnoreCase(pAlias)) ||
          (a2.equalsIgnoreCase(bAlias) && c2.equalsIgnoreCase(fn.primaryKey) &&
            a1.equalsIgnoreCase(pAlias))
        case _ => false
      }
      val probeKey = keyEqs.headOption match {
        case Some(EqR(a1, c1, _, c2)) =>
          if (a1.equalsIgnoreCase(pAlias)) c1 else c2
        case _ => throw new IllegalArgumentException(
          s"temporal table function correlate requires " +
            s"$pAlias.<key> = $bAlias.${fn.primaryKey} in WHERE (reference " +
            "LogicalCorrelateToJoinFromTemporalTableFunctionRule)")
      }
      val joined = joinLateral(spark.table(probeV), fnName, tsCol, probeKey)
      val view = s"graft_ttf_${Integer.toHexString(text.hashCode)}"
      joined.createOrReplaceTempView(view)
      // remaining text re-enters spark.sql over the joined view: qualify
      // probe refs bare, build refs r_-prefixed (r.currency → r_currency)
      def requalify(s: String): String =
        s.replaceAll(s"(?i)\\b$bAlias\\.(\\w+)", "r_$1")
          .replaceAll(s"(?i)\\b$pAlias\\.(\\w+)", "$1")
      val where = residue.map(requalify).mkString(" AND ")
      val sqlText = s"SELECT ${requalify(items)} FROM $view" +
        (if (where.nonEmpty) s" WHERE $where" else "") +
        Option(groupTxt).map(requalify).getOrElse("") +
        Option(orderTxt).map(requalify).getOrElse("")
      // spark.sql analyzes eagerly: the returned plan holds the view's plan,
      // not its name, so the view can go before the caller sees the rows
      try spark.sql(sqlText)
      finally spark.catalog.dropTempView(view)
    case other => throw new IllegalArgumentException(
      s"unrecognized temporal-table-function SQL (expected SELECT … FROM p, " +
        s"LATERAL TABLE (fn(p.ts)) AS r WHERE p.k = r.pk …): $other")
  }

  /** Register the canonical fixture function: `sigrate(t)` = each user's
    * latest signup version at-or-before t (the Rates-table analogue over
    * the events fixture). Idempotent. */
  def registerFixtureFn(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val e = Tables.t(spark, dir, "events")
    createTemporalTableFunction("sigrate",
      e.filter($"event_type" === "signup").select($"user_id", $"ts", $"value"),
      timeAttr = "ts", primaryKey = "user_id")
  }

  /** q_temporal_fn: the Table-API half — createTemporalTableFunction +
    * joinLateral, the reference's
    * `orders.joinLateral(rates($"rowtime"), $"currency" === $"r_currency")`.
    * Same as-of semantics — and oracle — as q_asof_join/q_temporal_join_sql,
    * entered via the function registration. Inner correlate: probe rows
    * with no version drop. */
  val qTemporalFn: Q = Q(
    "q_temporal_fn",
    (s, dir) => {
      import s.implicits._
      registerFixtureFn(s, dir)
      val purchases = Tables.t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      joinLateral(purchases, "sigrate", "ts", "user_id")
        .select($"event_id", $"r_value".as("last_signup_value"))
        .orderBy($"event_id")
    },
    Some("""SELECT a.event_id, v.last_signup_value
           |FROM events a, LATERAL (
           |  SELECT arg_max(b.value, printf('%020d-%012d', epoch_us(b.ts), b.event_id)) AS last_signup_value
           |  FROM events b
           |  WHERE b.user_id = a.user_id AND b.event_type = 'signup'
           |    AND b.ts <= a.ts) v
           |WHERE a.event_type = 'purchase' AND v.last_signup_value IS NOT NULL
           |ORDER BY a.event_id""".stripMargin))

  /** q_temporal_fn_sql: the SQL text half through the unified door — the
    * reference's documented enrichment-aggregate over a temporal table
    * function (`SELECT SUM(o.amount * r.rate) FROM Orders o, LATERAL TABLE
    * (Rates(o.rowtime)) r WHERE r.currency = o.currency GROUP BY …`),
    * spelled over the fixture: per-user purchase value weighted by the
    * signup-version value in effect at purchase time. */
  val qTemporalFnSql: Q = Q(
    "q_temporal_fn_sql",
    (s, dir) => {
      import s.implicits._
      registerFixtureFn(s, dir)
      Tables.t(s, dir, "events").filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
        .createOrReplaceTempView("graft_ttf_purchases")
      // decimal-exact sum (Relational.moneySum pattern): the identical
      // double product snaps to the same DECIMAL(18,6) on both engines, and
      // decimal summation is order-independent — round(sum(double)) is not
      GraftSql.run(s,
        """SELECT o.user_id AS user_id,
          |       CAST(SUM(CAST(o.value * r.value AS DECIMAL(18,6))) AS DOUBLE)
          |         AS weighted_value,
          |       COUNT(*) AS n
          |FROM graft_ttf_purchases AS o,
          |  LATERAL TABLE (sigrate(o.ts)) AS r
          |WHERE o.user_id = r.user_id
          |GROUP BY o.user_id
          |ORDER BY user_id""".stripMargin)
    },
    Some("""SELECT a.user_id,
           |       CAST(SUM(CAST(a.value * v.sig_value AS DECIMAL(18,6))) AS DOUBLE)
           |         AS weighted_value,
           |       COUNT(*) AS n
           |FROM events a, LATERAL (
           |  SELECT arg_max(b.value, printf('%020d-%012d', epoch_us(b.ts), b.event_id)) AS sig_value
           |  FROM events b
           |  WHERE b.user_id = a.user_id AND b.event_type = 'signup'
           |    AND b.ts <= a.ts) v
           |WHERE a.event_type = 'purchase' AND v.sig_value IS NOT NULL
           |GROUP BY a.user_id
           |ORDER BY a.user_id""".stripMargin))

  /** q_temporal_fn_proctime: the processing-time correlate — every purchase
    * enriched with the user's CURRENT latest signup value (version table
    * collapsed to its latest snapshot, equi-join against it), vs the as-of
    * row-time version q_temporal_fn picks. Inner correlate: users with no
    * signup drop. */
  val qTemporalFnProctime: Q = Q(
    "q_temporal_fn_proctime",
    (s, dir) => {
      import s.implicits._
      registerFixtureFn(s, dir)
      val purchases = Tables.t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      joinLatest(purchases, "sigrate", "user_id")
        .select($"event_id", $"r_value".as("current_signup_value"))
        .orderBy($"event_id")
    },
    Some("""SELECT a.event_id, v.current_signup_value
           |FROM events a JOIN (
           |  SELECT user_id, arg_max(value, ts) AS current_signup_value
           |  FROM events WHERE event_type = 'signup' GROUP BY user_id) v
           |  ON a.user_id = v.user_id
           |WHERE a.event_type = 'purchase'
           |ORDER BY a.event_id""".stripMargin))

  val all: Seq[Q] = Seq(qTemporalFn, qTemporalFnSql, qTemporalFnProctime)
}
