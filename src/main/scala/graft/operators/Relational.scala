package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational operator surface — the reference's Blink batch physical
  * nodes (reference: flink-table/flink-table-planner-blink/src/main/scala/org/apache/
  * flink/table/planner/plan/nodes/physical/batch/) re-expressed as declarative
  * DataFrame plans so Catalyst + Tungsten pick hash/sort-merge/broadcast
  * strategies (replacing BatchExecHashJoinRule / BatchExecSortMergeJoinRule /
  * BatchExecHashAggRule cost rules with JoinSelection + AQE).
  *
  * Determinism/oracle conventions: every query ends in a total ORDER BY; float
  * outputs are rounded at a precision strictly finer than the exact decimal
  * precision of the true value (sum of 2-dec inputs -> round 2, product of two
  * 2-dec inputs -> round 4, non-terminating stats -> round 6) so Spark and the
  * DuckDB oracle hash identically despite summation-order ulp differences.
  *
  * Scale notes (100 TB): joins below keep the fact table (lineitem/orders)
  * un-repartitioned until the join key demands a shuffle; dimension sides
  * (region, nation, supplier, part at fixed size) are broadcast explicitly.
  * Aggregations rely on partial (map-side) aggregation, which Spark inserts
  * automatically — equivalent of the reference's two-phase
  * BatchExecLocalHashAggregate/BatchExecHashAggregate split.
  */
object Relational {

  /** Exact money sum: per-element cast to DECIMAL(18,s) (the element value is
    * exactly representable at s decimals, so the cast merely snaps off double
    * noise), decimal-exact summation, final cast back to double (the sums
    * stay under 2^53 units). Immune to the summation-order ulp drift that
    * breaks round(sum(double), s) parity at large magnitudes — at sf0.1 a
    * 2.8e9-magnitude sum already accumulates ~1e-4 of float error, past the
    * round-4 boundary. Mirrors CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)
    * in the oracle. */
  private[operators] def moneySum(e: org.apache.spark.sql.Column, scale: Int) =
    sum(e.cast(org.apache.spark.sql.types.DecimalType(18, scale))).cast("double")

  /** Calc (fused project+filter) — reference StreamExecCalc.scala /
    * BatchExecCalc.scala + CalcCodeGenerator.scala; here a single
    * whole-stage-codegen'd Project+Filter whose predicate reaches the parquet
    * scan as PushedFilters. */
  val qCalcFilter: Q = Q(
    "q_calc_filter",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .filter($"l_quantity" > 45 && $"l_returnflag" === "R")
        .select(
          $"l_orderkey", $"l_linenumber",
          round($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"),
          to_date($"l_shipdate").as("ship_date"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
           |       round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           |       CAST(l_shipdate AS DATE) AS ship_date
           |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
           |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** Hash aggregate, TPC-H Q1 shape — reference BatchExecHashAggregate.scala
    * (BytesHashMap runtime); Spark HashAggregateExec partial+final. */
  val qAggQ1: Q = Q(
    "q_agg_q1",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          moneySum($"l_quantity", 2).as("sum_qty"),
          moneySum($"l_extendedprice", 2).as("sum_base_price"),
          moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("sum_disc_price"),
          moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"), 6).as("sum_charge"),
          round(avg($"l_quantity"), 6).as("avg_qty"),
          round(avg($"l_extendedprice"), 6).as("avg_price"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           |       round(avg(l_quantity), 6) AS avg_qty,
           |       round(avg(l_extendedprice), 6) AS avg_price,
           |       round(avg(l_discount), 6) AS avg_disc,
           |       count(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** 3-way join + agg + top-N, TPC-H Q3 shape — reference BatchExecHashJoin /
    * BatchExecSortLimit. customer is broadcast (dimension ≪ fact at any SF
    * where it fits the 10 MB-to-GBs broadcast budget); orders⋈lineitem is a
    * shuffled hash join on the fact keys, and the final top-10 is
    * TakeOrderedAndProject (per-partition top-k then merge — no full sort). */
  val qJoinTopN: Q = Q(
    "q_join_topn",
    (s, dir) => {
      import s.implicits._
      val c = Tables.t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      val o = Tables.t(s, dir, "orders").filter($"o_orderdate" < lit("1999-01-01").cast("timestamp"))
      val l = Tables.t(s, dir, "lineitem")
      broadcast(c).join(o, $"c_custkey" === $"o_custkey")
        .join(l, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey", $"o_orderdate")
        .agg(moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"))
        .select($"o_orderkey", to_date($"o_orderdate").as("order_date"), $"revenue")
        .orderBy($"revenue".desc, $"o_orderkey")
        .limit(10)
    },
    Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |              JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
           |GROUP BY o_orderkey, o_orderdate
           |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))

  /** Broadcast hash join — reference LongHashJoinGenerator.scala specialized
    * build side; Spark BroadcastHashJoinExec via explicit broadcast() hint. */
  val qBroadcastJoinAgg: Q = Q(
    "q_broadcast_join_agg",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .join(broadcast(Tables.t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          count(lit(1)).as("cnt"),
          moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"))
        .orderBy($"p_brand")
    },
    Some("""SELECT p_brand, count(*) AS cnt,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  /** LEFT OUTER join — reference SortMergeJoinOperator.java one-side-outer
    * iterators; Spark picks SMJ/SHJ via AQE. */
  val qLeftOuter: Q = Q(
    "q_left_outer_join",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey", $"c_name")
        .agg(
          count($"o_orderkey").as("n_orders"),
          round(coalesce(sum($"o_totalprice"), lit(0.0)), 2).as("total_spent"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           |       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
           |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin))

  /** FULL OUTER join — reference FlinkJoinType.FULL +
    * SortMergeFullOuterJoinIterator. */
  val qFullOuter: Q = Q(
    "q_full_outer_join",
    (s, dir) => {
      import s.implicits._
      val c = Tables.t(s, dir, "customer").groupBy($"c_nationkey".as("nk_c"))
        .agg(count(lit(1)).as("c_cnt"))
      val sup = Tables.t(s, dir, "supplier").groupBy($"s_nationkey".as("nk_s"))
        .agg(count(lit(1)).as("s_cnt"))
      c.join(sup, $"nk_c" === $"nk_s", "full")
        .select(coalesce($"nk_c", $"nk_s").as("nationkey"), $"c_cnt", $"s_cnt")
        .orderBy($"nationkey")
    },
    Some("""SELECT coalesce(c.nk, s.nk) AS nationkey, c.c_cnt, s.s_cnt
           |FROM (SELECT c_nationkey AS nk, count(*) AS c_cnt FROM customer GROUP BY 1) c
           |FULL JOIN (SELECT s_nationkey AS nk, count(*) AS s_cnt FROM supplier GROUP BY 1) s
           |  ON c.nk = s.nk
           |ORDER BY nationkey""".stripMargin))

  /** RIGHT OUTER join — reference FlinkJoinType.RIGHT. */
  val qRightOuter: Q = Q(
    "q_right_outer_join",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"), $"o_custkey" === $"c_custkey", "right")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"),
          round(coalesce(max($"o_totalprice"), lit(0.0)), 2).as("max_order"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
           |       round(coalesce(max(o_totalprice), 0), 2) AS max_order
           |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin))

  /** LEFT SEMI join (EXISTS) — reference StreamingSemiAntiJoinOperator.java /
    * HashJoinType.SEMI. */
  val qSemiJoin: Q = Q(
    "q_semi_join",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** LEFT ANTI join (NOT EXISTS) — reference HashJoinType.ANTI. */
  val qAntiJoin: Q = Q(
    "q_anti_join",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** Cross join — reference BatchExecNestedLoopJoin; Spark
    * BroadcastNestedLoopJoinExec. */
  val qCrossJoin: Q = Q(
    "q_cross_join",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "region").select($"r_name")
        .crossJoin(Tables.t(s, dir, "orders").select($"o_orderstatus").distinct())
        .orderBy($"r_name", $"o_orderstatus")
    },
    Some("""SELECT r_name, o_orderstatus
           |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
           |ORDER BY r_name, o_orderstatus""".stripMargin))

  /** UNION ALL — reference StreamExecUnion/BatchExecUnion. */
  val qUnionAll: Q = Q(
    "q_union_all",
    (s, dir) => {
      import s.implicits._
      val c = Tables.t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
      val sup = Tables.t(s, dir, "supplier").select($"s_nationkey".as("nationkey"))
      c.union(sup).groupBy($"nationkey").agg(count(lit(1)).as("cnt"))
        .orderBy($"nationkey")
    },
    Some("""SELECT nationkey, count(*) AS cnt FROM (
           |  SELECT c_nationkey AS nationkey FROM customer
           |  UNION ALL SELECT s_nationkey FROM supplier)
           |GROUP BY nationkey ORDER BY nationkey""".stripMargin))

  /** INTERSECT — reference ReplaceIntersectWithSemiJoinRule.scala (Catalyst
    * applies the same semi-join rewrite internally). */
  val qIntersect: Q = Q(
    "q_intersect",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .intersect(Tables.t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
           |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  /** INTERSECT ALL — reference RewriteIntersectAllRule.scala (multiplicity
    * = min of the two sides' counts, rewritten to a counted join). */
  val qIntersectAll: Q = Q(
    "q_intersect_all",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .intersectAll(Tables.t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
           |INTERSECT ALL SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  /** EXCEPT ALL — reference RewriteMinusAllRule.scala (multiplicity =
    * left count minus right count, floored at zero). */
  val qExceptAll: Q = Q(
    "q_except_all",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .exceptAll(Tables.t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
           |EXCEPT ALL SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  /** EXCEPT — reference ReplaceMinusWithAntiJoinRule.scala. */
  val qExcept: Q = Q(
    "q_except",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .except(Tables.t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
           |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin))

  /** DISTINCT — agg-based dedup, reference rewrites distinct to Aggregate. */
  val qDistinct: Q = Q(
    "q_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem").select($"l_returnflag", $"l_linestatus")
        .distinct().orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** ROLLUP — reference DecomposeGroupingSetsRule.scala -> Expand + agg;
    * Spark Expand operator, identical decomposition. */
  val qRollup: Q = Q(
    "q_rollup",
    (s, dir) => {
      import s.implicits._
      val c = Tables.t(s, dir, "customer")
      val n = Tables.t(s, dir, "nation")
      val r = Tables.t(s, dir, "region")
      val o = Tables.t(s, dir, "orders")
      o.join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("cnt"), moneySum($"o_totalprice", 2).as("total"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    },
    Some("""SELECT r_name, n_name, count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |            JOIN nation ON c_nationkey = n_nationkey
           |            JOIN region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)
           |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin))

  /** CUBE. */
  val qCube: Q = Q(
    "q_cube",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum($"l_quantity"), 2).as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           |       round(sum(l_quantity), 2) AS sum_qty
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  /** GROUPING SETS via SQL — exercises the spark.sql entry path (reference
    * lifecycle §3.1: parse -> validate -> optimize). */
  val qGroupingSets: Q = Q(
    "q_grouping_sets",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT n_name, c_mktsegment, count(*) AS cnt,
              |       round(sum(c_acctbal), 2) AS bal
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
              |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)
    },
    Some("""SELECT n_name, c_mktsegment, count(*) AS cnt,
           |       round(sum(c_acctbal), 2) AS bal
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
           |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin))

  /** OVER with ROWS frame (running total) — reference
    * BatchExecOverAggregate.scala frames in operators/over/frame/. */
  val qOverRows: Q = Q(
    "q_over_rows",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.t(s, dir, "orders")
        .select(
          $"o_custkey", $"o_orderkey",
          round(sum($"o_totalprice").over(w), 2).as("running_total"))
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
           |       round(sum(o_totalprice) OVER (
           |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
           |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** OVER ranking family — rank/dense_rank/percent_rank/ntile/lag (reference
    * FlinkSqlOperatorTable.java:1000–1004). */
  val qOverRank: Q = Q(
    "q_over_rank",
    (s, dir) => {
      import s.implicits._
      val wRank = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc)
      val wTotal = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
      Tables.t(s, dir, "customer")
        .select(
          $"c_nationkey", $"c_custkey",
          rank().over(wRank).as("rnk"),
          dense_rank().over(wRank).as("drnk"),
          round(percent_rank().over(wRank), 6).as("pr"),
          ntile(4).over(wTotal).as("quartile"),
          round(lag($"c_acctbal", 1).over(wTotal), 2).as("prev_bal"))
        .orderBy($"c_nationkey", $"c_custkey")
    },
    Some("""SELECT c_nationkey, c_custkey,
           |       CAST(rank() OVER w1 AS INTEGER) AS rnk,
           |       CAST(dense_rank() OVER w1 AS INTEGER) AS drnk,
           |       round(percent_rank() OVER w1, 6) AS pr,
           |       CAST(ntile(4) OVER w2 AS INTEGER) AS quartile,
           |       round(lag(c_acctbal, 1) OVER w2, 2) AS prev_bal
           |FROM customer
           |WINDOW w1 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC),
           |       w2 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
           |ORDER BY c_nationkey, c_custkey""".stripMargin))

  /** Rank/TopN per group — reference StreamExecRank.scala /
    * AppendOnlyTopNFunction.java; batch form is window + filter which Catalyst
    * optimizes into a per-partition top-k (WindowGroupLimit). */
  val qTopN: Q = Q(
    "q_topn",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
        .orderBy($"o_custkey", $"rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice,
           |         CAST(row_number() OVER (PARTITION BY o_custkey
           |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
           |  FROM orders) WHERE rn <= 3
           |ORDER BY o_custkey, rn""".stripMargin))

  /** Deduplicate keep-first — reference StreamExecDeduplicate.scala /
    * DeduplicateKeepFirstRowFunction.java (ROW_NUMBER = 1 rewrite). */
  val qDedupFirst: Q = Q(
    "q_dedup_first",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type").orderBy($"event_id")
      Tables.t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id", $"value")
        .orderBy($"user_id", $"event_type")
    },
    Some("""SELECT user_id, event_type, event_id, value FROM (
           |  SELECT user_id, event_type, event_id, value,
           |         row_number() OVER (PARTITION BY user_id, event_type
           |                            ORDER BY event_id) AS rn
           |  FROM events) WHERE rn = 1
           |ORDER BY user_id, event_type""".stripMargin))

  /** ORDER BY + LIMIT — reference BatchExecSortLimit.scala; Spark
    * TakeOrderedAndProjectExec (per-partition top-k, no global sort). */
  val qSortLimit: Q = Q(
    "q_sort_limit",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))

  /** Multi-distinct aggregate — reference SplitAggregateRule.scala skew
    * rewrite; Spark RewriteDistinctAggregates + Expand handles it. */
  val qCountDistinct: Q = Q(
    "q_count_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          countDistinct($"o_custkey").as("n_cust"),
          countDistinct($"o_orderpriority").as("n_prio"),
          count(lit(1)).as("cnt"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
           |       count(DISTINCT o_orderpriority) AS n_prio, count(*) AS cnt
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** LISTAGG — reference ListAggFunction.java; deterministic sorted order. */
  val qListAgg: Q = Q(
    "q_listagg",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "customer")
        .groupBy($"c_nationkey")
        .agg(graft.functions.FlinkFunctions.listAgg($"c_name", ",").as("names"))
        .orderBy($"c_nationkey")
    },
    Some("""SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
           |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin))

  /** FIRST_VALUE/LAST_VALUE by explicit order key — reference
    * FirstValueAggFunction.java/LastValueAggFunction.java; expressed with
    * min_by/max_by (codegen'd) instead of a stateful retractable agg. */
  val qFirstLast: Q = Q(
    "q_first_last",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "events")
        .groupBy($"user_id")
        .agg(
          min_by($"value", $"event_id").as("first_val"),
          max_by($"value", $"event_id").as("last_val"),
          round(min($"value"), 2).as("min_val"),
          round(max($"value"), 2).as("max_val"),
          round(sum($"value"), 2).as("sum_val"),
          count(lit(1)).as("cnt"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, arg_min(value, event_id) AS first_val,
           |       arg_max(value, event_id) AS last_val,
           |       round(min(value), 2) AS min_val, round(max(value), 2) AS max_val,
           |       round(sum(value), 2) AS sum_val, count(*) AS cnt
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Statistical aggregates — reference aggfunctions (STDDEV_POP/SAMP,
    * VAR_POP/SAMP); rounded to 4 (different but numerically-stable algorithms
    * on both engines). */
  val qStats: Q = Q(
    "q_stats_agg",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          round(stddev_samp($"l_quantity"), 4).as("sd_samp"),
          round(stddev_pop($"l_quantity"), 4).as("sd_pop"),
          round(var_samp($"l_quantity"), 4).as("v_samp"),
          round(var_pop($"l_quantity"), 4).as("v_pop"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |       round(stddev_samp(l_quantity), 4) AS sd_samp,
           |       round(stddev_pop(l_quantity), 4) AS sd_pop,
           |       round(var_samp(l_quantity), 4) AS v_samp,
           |       round(var_pop(l_quantity), 4) AS v_pop
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Approximate aggregates — the 100 TB scale path for distinct counts and
    * quantiles. Spark's native sketches (approx_count_distinct = HLL++,
    * approx_percentile = KLL-style) are algorithm-specific and not
    * reproducible cross-engine, so this query uses the engine's DETERMINISTIC
    * sketch pair instead (SketchOps KMV precedent), which a DuckDB oracle
    * reproduces bit-for-bit:
    *   - distinct customers per status: KMV(k=64) over a fixed md5-derived
    *     hash — mergeable (k smallest survive partial agg), estimate
    *     (k-1)/normalized kth minimum;
    *   - median totalprice per status: exact interpolated percentile over a
    *     deterministic 20% hash-sample of orders (hash(o_orderkey) % 5 = 0)
    *     — the fixed-sample quantile sketch.
    * PartitionPruningSpec asserts both estimates' tolerance vs exact. */
  val qApprox: Q = Q(
    "q_approx_agg",
    (s, dir) => {
      import s.implicits._
      val k = 64
      val p31 = 2147483647L
      val o = Tables.t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_orderstatus").orderBy($"h")
      val kmv = o
        .select($"o_orderstatus",
          graft.functions.FlinkFunctions.md5Hash31($"o_custkey".cast("string")).as("h"))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= k)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_min"), max($"h").as("kth"))
        .select($"o_orderstatus",
          when($"n_min" < k, $"n_min")
            .otherwise(round(lit((k - 1).toDouble) * p31 / $"kth"))
            .cast("long").as("approx_cust"))
      val p50 = o
        .filter(graft.functions.FlinkFunctions.md5Hash31($"o_orderkey".cast("string")) % 5 === 0)
        .groupBy($"o_orderstatus")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("approx_p50"))
      kmv.join(p50, Seq("o_orderstatus")).orderBy($"o_orderstatus")
    },
    Some("""WITH hashed AS (
           |  SELECT DISTINCT o_orderstatus AS st,
           |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
           |      % 2147483647 AS h
           |  FROM orders),
           |ranked AS (
           |  SELECT st, h, row_number() OVER (PARTITION BY st ORDER BY h) AS rn
           |  FROM hashed),
           |kmv AS (
           |  SELECT st, count(*) AS n_min, max(h) AS kth
           |  FROM ranked WHERE rn <= 64 GROUP BY st),
           |p50 AS (
           |  SELECT o_orderstatus AS st,
           |         round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS approx_p50
           |  FROM orders
           |  WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
           |          % 2147483647 % 5 = 0
           |  GROUP BY o_orderstatus)
           |SELECT kmv.st AS o_orderstatus,
           |       CAST(CASE WHEN n_min < 64 THEN n_min
           |                 ELSE round(63.0 * 2147483647 / kth) END AS BIGINT) AS approx_cust,
           |       approx_p50
           |FROM kmv JOIN p50 ON kmv.st = p50.st
           |ORDER BY o_orderstatus""".stripMargin))

  /** Correlation/covariance/percentile aggregates (reference §2.1 built-in
    * agg functions; percentile = exact linear interpolation on both engines,
    * the scale path would use approx_percentile). */
  val qStats2: Q = Q(
    "q_stats_agg2",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          round(corr($"l_quantity", $"l_extendedprice"), 6).as("cor"),
          round(covar_pop($"l_quantity", $"l_extendedprice"), 4).as("cov_p"),
          round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("cov_s"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  round(corr(l_quantity, l_extendedprice), 6) AS cor,
           |  round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p,
           |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
           |  round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
           |  round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Correlate / UDTF lateral join — reference StreamExecCorrelate.scala +
    * CorrelateCodeGenerator.scala; Spark Generate (explode). */
  val qExplodeTokens: Q = Q(
    "q_explode_tokens",
    (s, dir) => {
      import s.implicits._
      Tables.t(s, dir, "documents")
        .select(explode(split($"text", " ")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token")
        .limit(20)
    },
    Some("""SELECT token, count(*) AS cnt FROM (
           |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin))

  /** Correlated scalar subquery — exercises Catalyst decorrelation
    * (reference FlinkSubQueryRemoveRule.scala / decorrelate phase,
    * FlinkStreamProgram.scala:49–74). */
  val qScalarSubquery: Q = Q(
    "q_subquery_scalar",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders o
              |WHERE o_totalprice > (SELECT avg(l_extendedprice) * 7
              |                      FROM lineitem WHERE l_orderkey = o_orderkey)
              |ORDER BY o_orderkey""".stripMargin)
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders o
           |WHERE o_totalprice > (SELECT avg(l_extendedprice) * 7
           |                      FROM lineitem WHERE l_orderkey = o_orderkey)
           |ORDER BY o_orderkey""".stripMargin))

  /** Five-way star join (TPC-H Q5 shape) — join-reorder + broadcast food. */
  val qStarJoin: Q = Q(
    "q_star_join",
    (s, dir) => {
      import s.implicits._
      val l = Tables.t(s, dir, "lineitem")
      val o = Tables.t(s, dir, "orders")
      val c = Tables.t(s, dir, "customer")
      val n = Tables.t(s, dir, "nation")
      val r = Tables.t(s, dir, "region")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""SELECT r_name, n_name,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           |       count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |     JOIN customer ON o_custkey = c_custkey
           |     JOIN nation ON c_nationkey = n_nationkey
           |     JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin))

  /** Skew-split count-distinct (reference SplitAggregateRule.scala) through
    * the explicit two-level operator; exact semantics, oracle = plain
    * COUNT(DISTINCT). */
  val qSplitCountDistinct: Q = Q(
    "q_split_count_distinct",
    (s, dir) => {
      import s.implicits._
      graft.plans.SplitDistinctAgg.splitCountDistinct(
          Tables.t(s, dir, "orders"), Seq("o_orderstatus"), "o_custkey",
          buckets = 16, resultName = "n_cust")
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  val all: Seq[Q] = Seq(
    qCalcFilter, qAggQ1, qJoinTopN, qBroadcastJoinAgg, qLeftOuter, qFullOuter,
    qRightOuter, qSemiJoin, qAntiJoin, qCrossJoin, qUnionAll, qIntersect,
    qExcept, qIntersectAll, qExceptAll, qDistinct,
    qRollup, qCube, qGroupingSets, qOverRows, qOverRank, qTopN, qDedupFirst,
    qSortLimit, qCountDistinct, qListAgg, qFirstLast, qStats, qStats2,
    qApprox, qExplodeTokens, qScalarSubquery, qStarJoin, qSplitCountDistinct)
}
