package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** Skew-resistant COUNT(DISTINCT) split — a port of the reference's
  * SplitAggregateRule (flink-table-planner-blink/src/main/scala/org/apache/
  * flink/table/planner/plan/rules/logical/SplitAggregateRule.scala): rewrite
  *
  *   SELECT g, COUNT(DISTINCT k) FROM t GROUP BY g
  * into
  *   SELECT g, SUM(pc) FROM (
  *     SELECT g, hash(k) % N AS bucket, COUNT(DISTINCT k) AS pc
  *     FROM t GROUP BY g, bucket) GROUP BY g
  *
  * Buckets are disjoint by construction (a distinct k lands in exactly one),
  * so the rewrite is exact. The win at scale: the heavy distinct state is
  * spread over N× more groups, so one hot key g no longer funnels every
  * distinct value through a single reducer — the final agg sees at most N
  * rows per g. Spark has no equivalent rule (RewriteDistinctAggregates
  * targets multiple-distinct correctness, not skew).
  *
  * Two forms:
  *  - [[splitCountDistinct]]: explicit DataFrame-level operator.
  *  - [[SplitDistinctAggRule]]: optimizer rule, gated behind
  *    `spark.graft.splitDistinctAgg.enabled` (default off), rewriting any
  *    single-distinct aggregate whose other aggregates are sum/min/max/count.
  */
object SplitDistinctAgg {

  val EnabledKey = "spark.graft.splitDistinctAgg.enabled"
  val BucketsKey = "spark.graft.splitDistinctAgg.buckets"

  /** Explicit two-level split: exact count-distinct of `k` per `groupCols`. */
  def splitCountDistinct(
      df: DataFrame, groupCols: Seq[String], k: String,
      buckets: Int, resultName: String): DataFrame = {
    val g = groupCols.map(col)
    df.groupBy(g :+ pmod(hash(col(k)), lit(buckets)).as("__bucket"): _*)
      .agg(countDistinct(col(k)).as("__pc"))
      .groupBy(g: _*)
      .agg(sum("__pc").as(resultName))
  }
}

object SplitDistinctAggRule extends Rule[LogicalPlan] {
  import SplitDistinctAgg._

  private def enabled: Boolean =
    conf.getConfString(EnabledKey, "false").toBoolean
  private def buckets: Int =
    conf.getConfString(BucketsKey, "64").toInt

  private def mergeFn(fn: AggregateFunction, partial: Expression): Option[AggregateFunction] =
    fn match {
      case _: Count => Some(Sum(partial))
      case _: Sum => Some(Sum(partial))
      case _: Min => Some(Min(partial))
      case _: Max => Some(Max(partial))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case agg @ Aggregate(grouping, aggExprs, child, _) if splittable(agg) =>
        val distinctEx = aggExprs.flatMap(_.collect {
          case ae: AggregateExpression if ae.isDistinct => ae
        })
        val k = distinctEx.head.aggregateFunction.children.head
        val bucket = Alias(Pmod(Murmur3Hash(Seq(k), 42), Literal(buckets)), "__graft_bucket")()

        // level 1: group by (g..., bucket); emit grouping values + partial aggs
        val gAliases = grouping.zipWithIndex.map { case (e, i) =>
          Alias(e, s"__g$i")()
        }
        // each original agg runs unchanged at level 1 (count(distinct k)
        // stays distinct *within its bucket* — buckets are disjoint in k)
        var partials = Vector.empty[Alias]
        aggExprs.foreach { ne =>
          ne.foreach {
            case ae: AggregateExpression =>
              partials :+= Alias(ae, s"__p${partials.size}")()
            case _ =>
          }
        }
        val l1 = Aggregate(
          grouping :+ bucket.child,
          gAliases ++ partials,
          child)

        // level 2: group by the level-1 grouping attrs; merge partials
        val gAttrs = gAliases.map(_.toAttribute)
        var pIdx = -1
        val finalAggs: Seq[NamedExpression] = aggExprs.map { ne =>
          // transformUp: the replacement wraps the merged AggregateExpression
          // in Cast/Coalesce, and transformDown would descend into that
          // wrapper and re-match it (double-advancing the partial index)
          val rewritten = ne.transformUp {
            case e: Expression if grouping.exists(_.semanticEquals(e)) =>
              gAttrs(grouping.indexWhere(_.semanticEquals(e)))
            case ae: AggregateExpression =>
              pIdx += 1
              val pAttr = partials(pIdx).toAttribute
              // distinct-count merges as SUM of disjoint bucket counts;
              // count/sum/min/max merge with their natural combiner
              val merged =
                if (ae.isDistinct) Sum(pAttr)
                else mergeFn(ae.aggregateFunction, pAttr).get
              val mergedAe = ae.copy(aggregateFunction = merged, isDistinct = false)
              // keep the rewrite type-transparent: Sum over Decimal partials
              // widens precision again, and Sum of a Count partial is nullable
              // where Count is not — cast/coalesce back to the original type
              val typed: Expression =
                if (mergedAe.dataType == ae.dataType) mergedAe
                else Cast(mergedAe, ae.dataType)
              ae.aggregateFunction match {
                case _: Count => Coalesce(Seq(typed, Literal(0L, ae.dataType)))
                case _ => typed
              }
          }
          // a bare grouping attribute at the top level was just replaced by the
          // fresh __gN attr — alias it back to the original name AND exprId so
          // parent operators (Sort/Project/Filter) keep resolving
          rewritten match {
            case out: NamedExpression if out.exprId == ne.exprId => out
            case other => Alias(other, ne.name)(exprId = ne.exprId)
          }
        }
        Aggregate(gAttrs, finalAggs, l1)
    }
  }

  private def splittable(agg: Aggregate): Boolean = {
    val aes = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    val distincts = aes.filter(_.isDistinct)
    distincts.length == 1 &&
      distincts.head.aggregateFunction.isInstanceOf[Count] &&
      distincts.head.aggregateFunction.children.length == 1 &&
      distincts.head.filter.isEmpty &&
      aes.forall(ae => ae.filter.isEmpty &&
        (ae.isDistinct || mergeFn(ae.aggregateFunction, Literal(0L)).isDefined)) &&
      agg.groupingExpressions.nonEmpty
  }

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
