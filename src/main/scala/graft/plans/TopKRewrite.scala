package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the compose-first top-k-per-group pattern
  *
  *   Project(cols without rn,
  *     Filter(rn <= k [AND rest],
  *       Window(row_number() OVER (PARTITION BY g ORDER BY o) AS rn)))
  *
  * into the heap-based [[TopKPerGroup]] operator — O(n log k) with
  * bounded per-group state instead of a full per-group sort. At 100 TB
  * this is the difference between "sort every group's rows" and "keep
  * k rows per group alive"; the rank predicate collapses into the
  * operator, and any residual conjuncts stay as a Filter ABOVE it
  * (they were evaluated after ranking in the original plan, so
  * filtering before the top-k would change which rows rank).
  *
  * Fires only when the rank column itself is projected away — if the
  * query keeps `rn`, the Window form is the semantics and is left
  * alone. Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) together with
  * the planner strategy for the physical node.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {
  /** `rn <= k`-shaped conjunct → k (supports <, <=, = 1, and the
    * mirrored literal-first forms). */
  private def rankBound(e: Expression, rn: ExprId): Option[Int] = e match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rn => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rn => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rn && k == 1 => Some(1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: AttributeReference)
      if a.exprId == rn => Some(k)
    case GreaterThan(Literal(k: Int, IntegerType), a: AttributeReference)
      if a.exprId == rn => Some(k - 1)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)),
            parts, order, child, _)))
        if order.nonEmpty &&
          !projList.exists(_.references.exists(_.exprId == al.exprId)) =>
      val conjuncts = splitConjuncts(cond)
      val (rankConds, rest) = conjuncts.partition(
        _.references.exists(_.exprId == al.exprId))
      val bounds = rankConds.map(rankBound(_, al.exprId))
      if (rankConds.nonEmpty && bounds.forall(_.isDefined) &&
          bounds.flatten.forall(_ > 0)) {
        val k = bounds.flatten.min
        val topk = TopKPerGroup(parts, order, k, child)
        val filtered =
          if (rest.isEmpty) topk
          else Filter(rest.reduce(And), topk)
        Project(projList, filtered)
      } else p
  }
}

/** `SparkSessionExtensions` entry point: inject the top-k rewrite and
  * its planner strategy, and the ICU case-mapping rewrite
  * ([[CaseMapRule]]), into any session via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TopKRewriteRule)
    ext.injectOptimizerRule(_ => CaseMapRule)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}
