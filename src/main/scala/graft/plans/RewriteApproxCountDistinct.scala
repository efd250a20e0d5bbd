package graft.plans

import graft.sql.{CardinalitySketchAgg, SketchHashing}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optional Catalyst rule (SURVEY.md §4.2): rewrite Spark's built-in
  * `approx_count_distinct` (HyperLogLogPlusPlus) to this library's adaptive
  * sketch aggregate. Off by default; enable per session with
  * `spark.graft.rewriteApproxCountDistinct=true`. Existing queries then get
  * exact answers up to 128 distinct per group and, through
  * `graft.sql.SketchAggregation`, the columnar sketch partial aggregate, with
  * no code changes.
  *
  * relativeSD -> precision via the HLL error model p = ceil(log2((1.04/sd)^2)),
  * clamped to the sketch's [4..18] range.
  */
case class RewriteApproxCountDistinct(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.rewriteApproxCountDistinct").contains("true")

  private def precisionFor(relativeSD: Double): Int = {
    val p = math.ceil(2.0 * math.log(1.04 / relativeSD) / math.log(2.0)).toInt
    math.max(4, math.min(18, p))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(
            hll: HyperLogLogPlusPlus, _, false, None, _)
          if hll.child.resolved && SketchHashing.supported(hll.child.dataType) =>
        ae.copy(aggregateFunction = CardinalitySketchAgg(
          hll.child, p = precisionFor(hll.relativeSD), emitEstimate = true))
    }
  }
}
