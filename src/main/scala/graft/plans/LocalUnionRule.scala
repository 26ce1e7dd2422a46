package graft.plans

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: a `UNION ALL` whose children are all
  * driver-held rows (non-streaming `LocalRelation`s) becomes one
  * `LocalRelation` holding their rows in order, and the projections,
  * filters and limits above it are then folded on the driver by
  * `ConvertToLocalRelation`.
  *
  * Stock Catalyst folds a projection, filter or limit over a single
  * `LocalRelation`, but not a union of them. A union pipeline over
  * capped area loads (each a `LocalRelation`, see
  * [[graft.ingest.Ingest.loadTheme]]) would otherwise run as a
  * `UnionExec` of local scans, and its final LIMIT as a `CollectLimit`
  * that schedules Spark jobs for rows the driver already holds.
  *
  * Left unchanged: a union with any other child, a by-name union, and
  * a distinct `UNION` (after Spark's rewrite, a union directly under a
  * group-only `Aggregate`), so the rule never changes what a
  * deduplicating plan looks like. Registered by `Engine.prepare` next
  * to [[GridJoinRule]]; both run in the extra-optimizations batch,
  * after Spark's own `LocalRelation` batch has folded each branch.
  */
object LocalUnionRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val distinct = plan.collect {
      case Distinct(u: Union) => u
      case a @ Aggregate(_, _, u: Union, _) if groupOnly(a) => u
    }
    var folded = false
    val out = plan.transformUp {
      case u @ Union(children, false, false)
          if children.forall(isLocal) && !distinct.exists(_ eq u) =>
        folded = true
        LocalRelation(u.output, children.collect { case l: LocalRelation => l.data }.flatten)
    }
    if (folded) ConvertToLocalRelation(out) else plan
  }

  /** Every output is a grouping key: Spark's rewrite of DISTINCT. */
  private def groupOnly(a: Aggregate): Boolean = a.aggregateExpressions.forall {
    case Alias(c, _) => a.groupingExpressions.exists(_.semanticEquals(c))
    case e => a.groupingExpressions.exists(_.semanticEquals(e))
  }

  private def isLocal(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }
}
