package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Partial}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, ObjectHashAggregateExec}

/** Planner strategy for aggregates made only of sketch functions
  * (`ce_approx_distinct`, `ce_sketch`, `ce_merge`, `ce_merge_estimate`).
  *
  * It plans the aggregate exactly as Spark's own `Aggregation` strategy does
  * (`AggUtils.planAggregateWithoutDistinct`) and swaps only the partial
  * ObjectHashAggregateExec for a [[SketchPartialAggregateExec]] with the same
  * output. The exchange, the final ObjectHashAggregateExec, the wire format
  * and every estimate stay as they are. Anything else (a mixed
  * `ce + count`, DISTINCT or FILTER, a nondeterministic input such as
  * `rand()`, streaming, a plan that Spark would not make an
  * ObjectHashAggregate partial for) is left to Spark: the strategy returns
  * Nil.
  */
object SketchAggregation extends SparkStrategy {

  private def eligible(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && ae.deterministic && (ae.aggregateFunction match {
      case _: CardinalitySketchAgg | _: CardinalityUnionAgg => true
      case _ => false
    })

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(grouping, aggs, results, child)
        if !plan.isStreaming && aggs.nonEmpty && aggs.forall(eligible) &&
          grouping.forall(_.deterministic) =>
      AggUtils.planAggregateWithoutDistinct(grouping, aggs, results, planLater(child)) match {
        case Seq(fin: ObjectHashAggregateExec) => fin.child match {
          case p: ObjectHashAggregateExec if p.aggregateExpressions.forall(_.mode == Partial) =>
            val partial = SketchPartialAggregateExec(p.groupingExpressions,
              p.aggregateExpressions, p.aggregateAttributes, p.resultExpressions, p.child)
            fin.withNewChildren(Seq(partial)) :: Nil
          case _ => Nil
        }
        case _ => Nil
      }
    case _ => Nil
  }

  /** Adds the strategy to `session` unless its planner already has it (from
    * an earlier call or from `GraftExtensions`).
    */
  def install(session: SparkSession): Unit = session match {
    case s: classic.SparkSession => synchronized {
      if (!s.sessionState.planner.strategies.contains(this)) {
        s.experimental.extraStrategies = this +: s.experimental.extraStrategies
      }
    }
    case _ =>
  }

  /** [[install]] on the calling thread's active session, if any. */
  def installOnActive(): Unit = classic.SparkSession.getActiveSession.foreach(install)
}
