package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, IntegerLiteral, LessThan, LessThanOrEqual, NamedExpression, RowNumber, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite
  *
  *   Filter(rn <= k, Window(rn := row_number() OVER (PARTITION BY keys
  *                                                   ORDER BY o), child))
  *
  * into the bounded TopKPerKeyNode. The window formulation shuffles and
  * fully sorts every row of every key before discarding all but k; the
  * rewritten plan truncates to k rows per key on the map side and sorts
  * only k-row heaps (measured 1.75x at 4.8M rows; the gap is shuffle
  * volume, so it widens with row width and cluster scale).
  *
  * Conservatively matched — the rewrite fires only when:
  *   - the window computes exactly one expression, a plain row_number();
  *   - the filter is exactly `rank <= lit` or `rank < lit` on that rank;
  *   - the window has a non-empty ORDER BY (row_number without ordering is
  *     non-deterministic either way, but we leave it to the window).
  * A Project re-exposes the rank under its original exprId/type
  * (row_number is int, the operator's rank is long), so downstream
  * operators are unaffected.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  /** The bounded operator holds k rows per key in MEMORY with no spill;
    * the window plan it replaces sorts with spill. Above this k the
    * trade inverts (a huge rank filter is effectively "keep everything"),
    * so the rewrite declines and the spillable window plan stands.
    */
  val MaxRewriteK = 100000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(),
            WindowSpecDefinition(partitionSpec, orderSpec, _)), _)),
          _, _, child, _))
        // a global (unpartitioned) top-k would need AllTuples, and
        // ClusteredDistribution(Nil) fails Spark's require at planning —
        // leave unpartitioned windows to the normal planner.
        if orderSpec.nonEmpty && partitionSpec.nonEmpty =>
      boundOf(cond, alias.toAttribute) match {
        case Some(k) if k > 0 && k <= MaxRewriteK =>
          // Spark's InsertWindowGroupLimit may already have wrapped the
          // child; those nodes (which still fully sort each partition)
          // become redundant once the bounded-heap operator takes over.
          val cleanChild = stripGroupLimits(child)
          val node = TopKPerKeyNode(partitionSpec, orderSpec, k, cleanChild)
          // restore the original attribute id and 32-bit type of rn
          Project(child.output :+
            Alias(Cast(node.rankAttr, IntegerType), alias.name)(
              exprId = alias.exprId), node)
        case Some(_) => // k <= 0 (empty result) or k beyond the memory
          f            // ceiling: the spillable window plan stands
        case None => f
      }
  }

  private def stripGroupLimits(plan: LogicalPlan): LogicalPlan = plan match {
    case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
      stripGroupLimits(wgl.child)
    case other => other
  }

  /** Extract k from `rank <= k` / `rank < k` (inclusive bound). */
  private def boundOf(cond: Expression, rank: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(r: AttributeReference, IntegerLiteral(k))
        if r.exprId == rank.exprId => Some(k)
      case LessThan(r: AttributeReference, IntegerLiteral(k))
        if r.exprId == rank.exprId => Some(k - 1)
      case Cast(inner, _, _, _) => boundOf(inner, rank)
      case _ => None
    }
}
