package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Catalyst optimizer rule: rewrites spatial theta-joins guarded by
  * the reference's coordinate pre-filter into grid-cell equi-joins.
  * It is the engine's only grid-join mechanism — the compiler,
  * analysis and geo queries emit the plain pre-filter SQL and rely on
  * it.
  *
  * Every spatial join in the reference carries the cheap pre-filter
  * (pipeline.js:129-132, analysisQueries.js:29,46)
  *
  * {{{ ... ON ABS(a.centroid_lon - b.centroid_lon) < 0.2
  *        AND ABS(a.centroid_lat - b.centroid_lat) < 0.2
  *        AND st_intersects(a.geometry, b.geometry) }}}
  *
  * inside an inner join or an EXISTS / NOT EXISTS subquery. As a pure
  * theta predicate the stock planner runs it as a
  * BroadcastNestedLoopJoin — O(n·m) pairings. This rule matches an
  * `Inner`, `LeftSemi` or `LeftAnti` join (EXISTS and NOT EXISTS
  * arrive as the latter two) whose condition has no equi key and holds
  * two conjuncts `ABS(x − y) < w` with `w ≤ CellDeg`, deterministic
  * numeric `x` and `y`, and `x`, `y` drawn from opposite join sides.
  * The conjuncts are paired by side, not by column name: after a
  * subquery rewrite the view's `st_x(st_centroid(…))` is inlined in
  * place of `centroid_lon`.
  *
  * One side is expanded to its 3×3 cell neighborhood by an `Expand` of
  * nine projections — whose size estimate carries the ×9, so the
  * planner does not broadcast a side it thinks is 9× smaller than it
  * is — and `(gx, gy)` equalities against the other side's own cell
  * are added to the condition, so Catalyst plans a hash join on the
  * cells. An inner join expands its smaller side; a semi or anti join
  * expands its right side, since its left rows are the output. The
  * original condition is kept verbatim: a pair with |Δ| < cell lands
  * in exactly one neighboring copy, so results are identical.
  *
  * Registered by `Engine.prepare` as an extra optimization. That batch
  * runs after Spark rewrites EXISTS into semi/anti joins; a rule
  * injected through `SparkSessionExtensions` runs before it and would
  * never see them.
  */
object GridJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Cell size in degrees — equal to the pre-filter window, the
    * largest size that keeps the 3×3 neighborhood sufficient.
    */
  val CellDeg = 0.2

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, joinType @ (Inner | LeftSemi | LeftAnti), Some(cond), hint)
        if j.resolved && ExtractEquiJoinKeys.unapply(j).isEmpty =>
      prefilterAxes(splitConjunctivePredicates(cond), left, right) match {
        case Some(axes) =>
          // the join keeps its output; the cell columns stay internal
          Project(j.output, rewrite(joinType, left, right, cond, hint, axes))
        case None => j
      }
  }

  /** Two distinct `ABS(x − y) < w` conjuncts (w ≤ CellDeg) relating
    * the sides, as (left operand, right operand) pairs.
    */
  private def prefilterAxes(conjuncts: Seq[Expression], left: LogicalPlan,
                            right: LogicalPlan): Option[Seq[(Expression, Expression)]] = {
    def from(e: Expression, side: LogicalPlan): Boolean =
      e.deterministic && e.dataType.isInstanceOf[NumericType] &&
        e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    val axes = conjuncts.collect {
      case LessThan(Abs(Subtract(x, y, _), _), w) if literalLe(w, CellDeg) => (x, y)
    }.collect {
      case (x, y) if from(x, left) && from(y, right) => (x, y)
      case (x, y) if from(x, right) && from(y, left) => (y, x)
    }.distinct
    if (axes.length >= 2) Some(axes.take(2)) else None
  }

  private def literalLe(e: Expression, bound: Double): Boolean = e match {
    case Literal(v: Double, DoubleType) => v <= bound
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble <= bound
    case Cast(inner, _, _, _) => literalLe(inner, bound)
    case _ => false
  }

  private def cellOf(e: Expression): Expression =
    Cast(Floor(Divide(Cast(e, DoubleType), Literal(CellDeg, DoubleType))), LongType)

  /** `side` with each row copied to the nine cells around its own
    * cell of `own`, and the condition equating those copies' cells
    * with the other side's cell of `other`. The cells are computed
    * once per row below the `Expand`, not once per copy.
    */
  private def grid(side: LogicalPlan, own: Seq[Expression],
                   other: Seq[Expression]): (LogicalPlan, Expression) = {
    val cells = own.zipWithIndex.map { case (e, i) => Alias(cellOf(e), s"_graft_c$i")() }
    val keys = Seq("_graft_gx", "_graft_gy").map(AttributeReference(_, LongType)())
    val projections = for (dx <- -1L to 1L; dy <- -1L to 1L) yield
      side.output ++ cells.zip(Seq(dx, dy)).map { case (c, d) =>
        Add(c.toAttribute, Literal(d, LongType))
      }
    val expanded = Expand(projections, side.output ++ keys, Project(side.output ++ cells, side))
    (expanded, keys.zip(other).map { case (k, e) => EqualTo(k, cellOf(e)) }.reduce(And))
  }

  private def rewrite(joinType: JoinType, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, hint: JoinHint,
                      axes: Seq[(Expression, Expression)]): Join = {
    val (l, r) = axes.unzip
    if (joinType == Inner && left.stats.sizeInBytes < right.stats.sizeInBytes) {
      val (expanded, keys) = grid(left, l, r)
      Join(expanded, right, joinType, Some(And(keys, cond)), hint)
    } else {
      val (expanded, keys) = grid(right, r, l)
      Join(left, expanded, joinType, Some(And(keys, cond)), hint)
    }
  }
}
