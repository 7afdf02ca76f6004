package graft.operators

import graft.{Q, Tables}

/** SQL-entry-path relational coverage (reference lifecycle §3.1: parse →
  * validate → optimize; subquery handling per FlinkSubQueryRemoveRule /
  * decorrelation phase). Each query runs through spark.sql on registered
  * views — the same string works verbatim as its own DuckDB oracle, so
  * coverage here is parser+rewriter parity, not just DataFrame parity.
  */
object RelationalSql {

  private def sqlQ(name: String, sql: String): Q = Q(
    name,
    (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) },
    Some(sql))

  /** GROUP BY + HAVING. */
  val qHaving: Q = sqlQ(
    "q_having",
    """SELECT o_custkey, count(*) AS n_orders
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 12
      |ORDER BY o_custkey""".stripMargin)

  /** IN-subquery → semi join (ConvertToNotInOrInRule analogue is built-in). */
  val qInSubquery: Q = sqlQ(
    "q_in_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin)

  /** NOT IN subquery on non-nullable keys → anti join. */
  val qNotInSubquery: Q = sqlQ(
    "q_not_in_subquery",
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin)

  /** IN over an agg-HAVING subquery (TPC-H Q18 shape). */
  val qAggHavingSubquery: Q = sqlQ(
    "q_agg_having_subquery",
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(l_quantity) > 150)
      |ORDER BY o_orderkey""".stripMargin)

  /** UNION with distinct semantics (q_union_all covers ALL). */
  val qUnionDistinct: Q = sqlQ(
    "q_union_distinct",
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin)

  /** OVER with numeric RANGE frame: trailing-7-day revenue per customer
    * (reference BatchExecOverAggregate RANGE frames). Spark and DuckDB spell
    * epoch-seconds differently, hence two texts. */
  val qOverRangeFrame: Q = Q(
    "q_over_range_frame",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_custkey, o_orderkey,
              |       round(sum(o_totalprice) OVER (
              |         PARTITION BY o_custkey
              |         ORDER BY unix_timestamp(o_orderdate)
              |         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS wk_total
              |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)
    },
    Some("""SELECT o_custkey, o_orderkey,
           |       round(sum(o_totalprice) OVER (
           |         PARTITION BY o_custkey
           |         ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
           |         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS wk_total
           |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Conditional aggregation over a join (TPC-H Q12 shape). */
  val qCaseSum: Q = sqlQ(
    "q_case_sum",
    """SELECT o_orderpriority,
      |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
      |       CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END), 2) AS returned_value
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Conditional ratio (TPC-H Q14 shape): share of revenue from small parts. */
  val qCondRatio: Q = sqlQ(
    "q_cond_ratio",
    """SELECT round(
      |         100.0 * sum(CASE WHEN p_type = 'SMALL' THEN l_extendedprice * (1 - l_discount)
      |                          ELSE 0 END)
      |         / sum(l_extendedprice * (1 - l_discount)), 6) AS small_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)

  /** Avg-threshold anti-join (TPC-H Q22 shape): high-balance customers with
    * no orders, vs the positive-balance average. */
  val qQ22Shape: Q = sqlQ(
    "q_q22_shape",
    """SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  /** N-ary union (reference StreamExecUnion is n-ary). */
  val qUnionMulti: Q = sqlQ(
    "q_union_multi",
    """SELECT nationkey, count(*) AS cnt FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION ALL SELECT s_nationkey FROM supplier
      |  UNION ALL SELECT n_nationkey FROM nation
      |  UNION ALL SELECT r_regionkey FROM region)
      |GROUP BY nationkey ORDER BY nationkey""".stripMargin)

  /** Window navigation functions: first/last/nth_value + cume_dist
    * (reference FlinkSqlOperatorTable rank family). */
  val qOverNavigation: Q = sqlQ(
    "q_over_navigation",
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
      |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** GROUPING / GROUPING_ID over ROLLUP (reference FlinkSqlOperatorTable
    * GROUPING/GROUPING_ID + DecomposeGroupingSetsRule): the Expand-generated
    * grouping-set id surfaced to SQL. Identical text runs on both engines. */
  val qGroupingId: Q = sqlQ(
    "q_grouping_id",
    """SELECT c_nationkey, c_mktsegment,
      |       CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat,
      |       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
      |       CAST(GROUPING_ID(c_nationkey, c_mktsegment) AS BIGINT) AS gid,
      |       count(*) AS cnt
      |FROM customer GROUP BY ROLLUP(c_nationkey, c_mktsegment)
      |ORDER BY gid, c_nationkey, c_mktsegment""".stripMargin)

  /** TPC-H Q3 (shipping priority): 3-way join, filtered both sides of the
    * date, grouped revenue, top-10. The date column is cast to DATE so the
    * output schema is engine-portable. */
  val qTpchQ3: Q = sqlQ(
    "q_tpch_q3",
    """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       CAST(o_orderdate AS DATE) AS odate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |              JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, odate, l_orderkey LIMIT 10""".stripMargin)

  /** TPC-H Q5 (local supplier volume): 6-way join through region; the two
    * tiny dims broadcast, the fact joins shuffle on their keys. */
  val qTpchQ5: Q = sqlQ(
    "q_tpch_q5",
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |              JOIN lineitem ON l_orderkey = o_orderkey
      |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |              JOIN nation ON s_nationkey = n_nationkey
      |              JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)

  /** TPC-H Q10 (returned-item reporting): top-20 customers by lost revenue. */
  val qTpchQ10: Q = sqlQ(
    "q_tpch_q10",
    """SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       round(c_acctbal, 2) AS acctbal, n_name
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |              JOIN lineitem ON l_orderkey = o_orderkey
      |              JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** SQL query hint (reference: Flink 1.11 table/query hints, FlinkHints /
    * OptionsHintTest): /*+ BROADCAST */ forces the build side. DuckDB reads
    * the hint as a plain block comment, so the text is engine-portable;
    * `PlanAuditSpec` asserts the hint actually produced a broadcast join. */
  val qHintBroadcast: Q = sqlQ(
    "q_hint_broadcast",
    """SELECT /*+ BROADCAST(nation) */ n_name, count(*) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin)

  /** TPC-H Q7 (volume shipping): supplier nation ⋈ customer nation pairs in
    * either direction, yearly revenue. Self-joined nation dims broadcast. */
  val qTpchQ7: Q = sqlQ(
    "q_tpch_q7",
    """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |         l_extendedprice * (1 - l_discount) AS volume
      |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |                JOIN orders ON o_orderkey = l_orderkey
      |                JOIN customer ON c_custkey = o_custkey
      |                JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |                JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  /** TPC-H Q8 (national market share): share of one nation's volume within
    * a region's market per year — conditional-sum ratio over a 7-way join. */
  val qTpchQ8: Q = sqlQ(
    "q_tpch_q8",
    """SELECT o_year,
      |       round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
      |             / sum(volume), 6) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |         l_extendedprice * (1 - l_discount) AS volume,
      |         n2.n_name AS nation
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |            JOIN supplier ON s_suppkey = l_suppkey
      |            JOIN orders ON l_orderkey = o_orderkey
      |            JOIN customer ON o_custkey = c_custkey
      |            JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |            JOIN region ON n1.n_regionkey = r_regionkey
      |            JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'AMERICA' AND p_type = 'SMALL'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
      |GROUP BY o_year ORDER BY o_year""".stripMargin)

  /** Recursive CTE (Spark ≥4.0; the SQL-text analogue of the reference's
    * DataSet bulk iteration — same per-round step as q_stream_iterate's
    * feedback loop, executed by Spark's iterative UNION ALL). Catalyst runs
    * each recursion round as a distributed step; the frontier shrinks as
    * rows fall below the WHERE guard — the loop-unrolling twin of
    * `IterateOps.iterate`. */
  /** One cloned session per (parent session, input dir), carrying the
    * raised recursion valve — see [[qRecursiveCte]]. */
  private val recursionSessions = new graft.SessionScoped(
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.SparkSession]())

  val qRecursiveCte: Q = Q(
    "q_recursive_cte",
    (s, dir) => {
      // default safety valve is 1M accumulated rows; ~6 halving rounds over
      // the input legitimately produce ~5x input rows. The valve guards
      // runaway recursion, not data volume — so SIZE IT TO THE INPUT
      // (input x 8 covers halving any quantity < 128; a static 20M held at
      // sf0.1 but tripped on the growth gate's 100x tree, the same
      // tested-SF-only sizing mistake as the r15 LSH band saturation). The
      // count is one metadata-sized driver aggregate, the same pattern as
      // the co-supply threshold.
      //
      // The valve must be raised while the recursion EXECUTES, not merely
      // while the DataFrame is built: physical planning reads the session
      // conf lazily, at action time. The previous shape therefore ran the
      // recursion eagerly inside a conf guard and parked the result in a
      // scratch parquet (write + re-scan + range-sort of the full result
      // per invocation — ~1.5 s of pure I/O at sf0.1, 60M rows of it on
      // the 100x tree). r21: scope the raised valve to a CLONED session
      // instead. newSession() shares the SparkContext and data but owns an
      // isolated SQLConf, so the returned (lazy) DataFrame executes under
      // the raised valve whenever the caller acts on it, the parent
      // session's valve is untouched, and the write-then-read disappears —
      // the plan is the recursion itself, distributed and heap-flat.
      val sub =
        recursionSessions(s).computeIfAbsent(dir, _ => {
          val ns = s.newSession()
          // newSession starts from the context defaults, not the parent's
          // runtime conf — copy every modifiable conf so the recursion
          // plans under the same session posture (timezone, ANSI, AQE,
          // shuffle partitions) as every other query in the run
          s.conf.getAll.foreach { case (k, v) =>
            if (ns.conf.isModifiable(k)) ns.conf.set(k, v)
          }
          val inputRows = Tables.t(ns, dir, "lineitem").count()
          ns.conf.set("spark.sql.cteRecursionRowLimit",
            math.max(20000000L, inputRows * 8L).toString)
          ns
        })
      Tables.registerAll(sub, dir)
      sub.sql("""WITH RECURSIVE it AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln,
        |         CAST(FLOOR(l_quantity) AS BIGINT) AS n, 0 AS iters
        |  FROM lineitem
        |  UNION ALL
        |  SELECT ok, ln, n DIV 2, iters + 1 FROM it WHERE n > 1
        |)
        |SELECT ok, ln, n, iters FROM it WHERE n <= 1""".stripMargin)
        .orderBy("ok", "ln")
    },
    Some("""WITH RECURSIVE it AS (
           |  SELECT l_orderkey AS ok, l_linenumber AS ln,
           |         CAST(FLOOR(l_quantity) AS BIGINT) AS n, 0 AS iters
           |  FROM lineitem
           |  UNION ALL
           |  SELECT ok, ln, n // 2, iters + 1 FROM it WHERE n > 1
           |)
           |SELECT ok, ln, n, iters FROM it WHERE n <= 1 ORDER BY ok, ln""".stripMargin))

  val all: Seq[Q] = Seq(
    qHaving, qInSubquery, qNotInSubquery, qAggHavingSubquery, qUnionDistinct,
    qOverRangeFrame, qCaseSum, qCondRatio, qQ22Shape, qUnionMulti, qOverNavigation,
    qGroupingId, qTpchQ3, qTpchQ5, qTpchQ10, qHintBroadcast, qTpchQ7, qTpchQ8,
    qRecursiveCte)
}
