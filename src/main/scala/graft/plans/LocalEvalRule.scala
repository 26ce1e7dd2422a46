package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.graft.CatalystBridge

/** Catalyst optimizer rule: an operator whose children are all
  * driver-held rows (batch `LocalRelation`s) is evaluated on the
  * driver and replaced by a `LocalRelation` of its result; the
  * projections, filters and limits above it then fold the same way,
  * through Spark's own `ConvertToLocalRelation`.
  *
  * Stock Catalyst folds only a projection, filter or limit over a
  * `LocalRelation`. A pipeline edit or search over capped area loads
  * (each a `LocalRelation`, see [[graft.ingest.Ingest.loadTheme]]) and
  * their FTS indexes also joins, aggregates and sorts them, and each of
  * those operators would plan stages and run Spark jobs for rows the
  * driver already holds. Folded here:
  *  - `Union`, every kind;
  *  - `Join` of type inner, cross, left outer, left semi or left anti:
  *    a hash join on the `ExtractEquiJoinKeys` keys (the grid cells
  *    [[GridJoinRule]] adds, `id = id`) with the residual condition
  *    checked on the joined row, or a nested loop when the join has no
  *    keys (BNLJ semantics, null-aware `NOT IN` included);
  *  - `Aggregate` whose functions are all `DeclarativeAggregate`s,
  *    through their buffer expressions, with group keys compared as
  *    `UnsafeRow`s after `NormalizeFloatingNumbers`;
  *  - `Sort`, `Expand`, and `Generate` of a collection generator
  *    (`explode`, `posexplode`, `inline`);
  *  - the global half of a limit, once the local half has folded.
  *
  * Expressions run through Spark's interpreted paths
  * (`InterpretedMutableProjection`, `InterpretedUnsafeProjection`,
  * `Predicate.createInterpreted`, `InterpretedOrdering`), so a fold
  * returns the rows Spark's own execution returns. Left to Spark: any
  * other operator; an operator with a non-deterministic, subquery or
  * otherwise unevaluable expression, or a DISTINCT, FILTER or
  * imperative aggregate; group or join keys that do not compare by
  * their bytes (collated strings); a fold that would read or produce
  * more than [[MaxRows]] rows, or a keyless join of more pairs; and a
  * fold whose evaluation throws (Spark raises the error when it runs
  * the plan).
  *
  * Registered by `Engine.prepare` after [[GridJoinRule]], in the same
  * extra-optimizations batch: a spatial join over driver-held loads is
  * first rewritten to its grid-cell equi-join, then evaluated here as
  * a hash join.
  */
object LocalEvalRule extends Rule[LogicalPlan] {

  /** The most rows a fold reads from one child or produces, and the
    * most pairs a keyless join tests: the 3×3 grid expansion of one
    * full area load ([[graft.ingest.Ingest.AreaLimit]] rows). A larger
    * result stays distributed, as a larger load does.
    */
  val MaxRows: Long = 9L * graft.ingest.Ingest.AreaLimit

  override def apply(plan: LogicalPlan): LogicalPlan = {
    var folded = false
    val out = plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p if p.children.nonEmpty && p.children.forall(isLocal) =>
        ConvertToLocalRelation(p) match {
          case l: LocalRelation => l
          case _ => evaluate(p) match {
            case Some(rows) =>
              folded = true
              LocalRelation(p.output, rows)
            case None => p
          }
        }
    }
    if (folded) out else plan
  }

  private def isLocal(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  private def rows(p: LogicalPlan): Seq[InternalRow] = p.asInstanceOf[LocalRelation].data

  /** The rows of `p` over its local children, or None to leave `p` to Spark. */
  private def evaluate(p: LogicalPlan): Option[Seq[InternalRow]] = {
    if (!p.resolved || !p.expressions.forall(evaluable(p, _)) ||
        p.children.exists(rows(_).length > MaxRows)) return None
    val out = new Output
    try {
      p match {
        case u: Union => u.children.foreach(c => rows(c).foreach(out += _))
        case GlobalLimit(IntegerLiteral(n), child) => rows(child).take(n).foreach(out += _)
        case j: Join if Seq(Inner, Cross, LeftOuter, LeftSemi, LeftAnti).contains(j.joinType) =>
          join(j, out)
        case a: Aggregate => aggregate(a, out)
        case s: Sort => rows(s.child).sorted(new InterpretedOrdering(s.order, s.child.output))
          .foreach(out += _)
        case e: Expand => expand(e, out)
        case g: Generate if g.generator.isInstanceOf[CollectionGenerator] => generate(g, out)
        case _ => abandon()
      }
      Some(out.rows.toSeq)
    } catch {
      case _: Abandon | NonFatal(_) => None
    }
  }

  /** Gives the fold being evaluated back to Spark. */
  private final class Abandon extends scala.util.control.ControlThrowable
  private def abandon(): Nothing = throw new Abandon

  /** The result rows of a fold, abandoned past [[MaxRows]]. */
  private final class Output {
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    def +=(row: InternalRow): Unit = {
      if (rows.length >= MaxRows) abandon()
      rows += row
    }
  }

  /** True when `e`, an expression of `p`, evaluates on the driver. */
  private def evaluable(p: LogicalPlan, e: Expression): Boolean = e match {
    case a: AggregateExpression =>
      p.isInstanceOf[Aggregate] && a.mode == Complete && !a.isDistinct && a.filter.isEmpty &&
        a.aggregateFunction.isInstanceOf[DeclarativeAggregate] &&
        a.aggregateFunction.deterministic && a.aggregateFunction.children.forall(evaluable(p, _))
    case _: AttributeReference => true
    case s: SortOrder => s.children.forall(evaluable(p, _))
    case _: SubqueryExpression | _: Unevaluable => false
    case _ => e.deterministic && e.children.forall(evaluable(p, _))
  }

  private def bind(es: Seq[Expression], input: Seq[Attribute]): Seq[Expression] =
    es.map(BindReferences.bindReference(_, input))

  /** Interpreted projection to compact `UnsafeRow`s; copy what you keep. */
  private def unsafe(es: Seq[Expression], input: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(bind(es, input))

  /** Keys as Spark's hash join and hash aggregate compare them: the
    * bytes of an `UnsafeRow` of the float-normalized values.
    */
  private def keys(es: Seq[Expression], input: Seq[Attribute]): UnsafeProjection = {
    if (!es.forall(e => UnsafeRowUtils.isBinaryStable(e.dataType))) abandon()
    unsafe(es.map(CatalystBridge.normalizeFloats), input)
  }

  private def join(j: Join, out: Output): Unit = {
    val (left, right) = (rows(j.left), rows(j.right))
    val (leftKeys, rightKeys, residual) = j match {
      case ExtractEquiJoinKeys(_, lk, rk, other, _, _, _, _) => (lk, rk, other)
      case _ => (Nil, Nil, j.condition)
    }
    // nullable right columns: a left outer join writes NULLs there
    val schema = j.left.output ++ j.right.output.map(_.withNullability(true))
    val matches: InternalRow => Iterator[InternalRow] =
      if (leftKeys.isEmpty) {
        if (left.length.toLong * right.length > MaxRows) abandon()
        _ => right.iterator
      } else {
        if (leftKeys.zip(rightKeys).exists { case (l, r) =>
              !CatalystBridge.sameType(l.dataType, r.dataType) }) abandon()
        val (lk, rk) = (keys(leftKeys, j.left.output), keys(rightKeys, j.right.output))
        val table = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
        right.foreach { row =>
          val k = rk(row)
          if (!k.anyNull) table.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += row
        }
        row => {
          val k = lk(row)
          if (k.anyNull) Iterator.empty else table.get(k).fold(Iterator.empty[InternalRow])(_.iterator)
        }
      }
    val holds: InternalRow => Boolean = residual match {
      case Some(c) =>
        val pred = Predicate.createInterpreted(BindReferences.bindReference(c, schema))
        pred.initialize(0)
        pred.eval
      case None => _ => true
    }
    val joined = new JoinedRow
    val project = unsafe(schema, schema)
    val nulls = new GenericInternalRow(j.right.output.length)
    left.foreach { l =>
      val hits = matches(l).filter(r => holds(joined(l, r)))
      j.joinType match {
        case LeftSemi => if (hits.hasNext) out += l
        case LeftAnti => if (!hits.hasNext) out += l
        case LeftOuter =>
          if (!hits.hasNext) out += project(joined(l, nulls)).copy()
          hits.foreach(r => out += project(joined(l, r)).copy())
        case _ => hits.foreach(r => out += project(joined(l, r)).copy())
      }
    }
  }

  /** Spark's hash aggregation in Complete mode: per group, the
    * functions' initial values, then their update expressions over each
    * input row, then their evaluate expressions; the result
    * expressions read the group's key and those results.
    */
  private def aggregate(a: Aggregate, out: Output): Unit = {
    val input = a.child.output
    val key = keys(a.groupingExpressions, input)
    val groups = a.groupingExpressions.map {
      case n: NamedExpression => n -> n.toAttribute
      case e => e -> Alias(e, e.toString)().toAttribute
    }
    val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.canonicalized)
    val funcs = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = funcs.flatMap(_.aggBufferAttributes)
    val results = a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression =>
        aggs.find(_.canonicalized == ae.canonicalized).get.resultAttribute
      case e if !e.foldable =>
        groups.collectFirst { case (g, attr) if g.semanticEquals(e) => attr }.getOrElse(e)
    })
    val init = new InterpretedMutableProjection(funcs.flatMap(_.initialValues))
    val update = new InterpretedMutableProjection(funcs.flatMap(_.updateExpressions), buffer ++ input)
    val evaluate = new InterpretedMutableProjection(funcs.map(_.evaluateExpression), buffer)
    val result = unsafe(results, groups.map(_._2) ++ aggs.map(_.resultAttribute))
    val state = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    def newBuffer(): InternalRow = {
      val b = new SpecificInternalRow(buffer.map(_.dataType))
      init.target(b)(InternalRow.empty)
      b
    }
    if (a.groupingExpressions.isEmpty) state(key(InternalRow.empty).copy()) = newBuffer()
    val joined = new JoinedRow
    rows(a.child).foreach { row =>
      val k = key(row)
      val b = state.getOrElse(k, { val n = newBuffer(); state(k.copy()) = n; n })
      update.target(b)(joined(b, row))
    }
    state.foreach { case (k, b) => out += result(joined(k, evaluate(b))).copy() }
  }

  private def expand(e: Expand, out: Output): Unit = {
    val projections = e.projections.map(unsafe(_, e.child.output))
    if (rows(e.child).length.toLong * projections.length > MaxRows) abandon()
    rows(e.child).foreach(row => projections.foreach(p => out += p(row).copy()))
  }

  /** Spark's `GenerateExec`: each input row's required columns joined
    * with every row its generator yields, or with NULLs for an outer
    * generate that yields none.
    */
  private def generate(g: Generate, out: Output): Unit = {
    val generator = BindReferences.bindReference(g.generator, g.child.output)
    val width = g.child.output.length
    val project = InterpretedUnsafeProjection.createProjection(
      bind(g.requiredChildOutput, g.child.output) ++ g.generatorOutput.zipWithIndex.map {
        case (a, i) => BoundReference(width + i, a.dataType, nullable = true)
      })
    val nulls = new GenericInternalRow(g.generatorOutput.length)
    val joined = new JoinedRow
    rows(g.child).foreach { row =>
      val generated = generator.eval(row).iterator
      if (g.outer && !generated.hasNext) out += project(joined(row, nulls)).copy()
      generated.foreach(r => out += project(joined(row, r)).copy())
    }
  }
}
