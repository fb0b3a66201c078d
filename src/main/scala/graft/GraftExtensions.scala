package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.{ArrayCosine, ArrayMinkowski, ArraySqEuclidean, SortedIntersectSize}

/** SparkSessionExtensions entry point: makes the engine installable into
  * any session via `--conf spark.sql.extensions=graft.GraftExtensions`
  * (the deployment story for a shared cluster). It is the only route by
  * which SQL text reaches the fused vector expressions by name; the
  * DataFrame API builds them as plain Columns
  * ([[graft.functions.VectorExprs]]) and needs no registration.
  *
  * Injects:
  *  - the fused vector expressions as SQL functions;
  *  - [[FoldSelfDistance]], an optimizer rule constant-folding
  *    distance(x, x) — such calls appear when generated queries compare a
  *    column against itself (e.g. self-join dedup before id filtering).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[ArrayCosine].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => ArrayCosine(exprs(0), exprs(1))))
    e.injectFunction((new FunctionIdentifier("graft_sq_euclidean"),
      new ExpressionInfo(classOf[ArraySqEuclidean].getName,
        "graft_sq_euclidean"),
      (exprs: Seq[Expression]) => ArraySqEuclidean(exprs(0), exprs(1))))
    e.injectFunction((new FunctionIdentifier("graft_minkowski15"),
      new ExpressionInfo(classOf[ArrayMinkowski].getName,
        "graft_minkowski15"),
      (exprs: Seq[Expression]) => ArrayMinkowski(exprs(0), exprs(1), 1.5)))
    e.injectFunction((new FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName,
        "graft_sorted_intersect_size"),
      (exprs: Seq[Expression]) => SortedIntersectSize(exprs(0), exprs(1))))
    e.injectOptimizerRule(_ => FoldSelfDistance)
  }
}

/** distance(x, x) = 0 identically (even for zero/empty vectors), so
  * self-distance calls fold to a literal. Cosine is deliberately NOT
  * folded: cos(0⃗, 0⃗) is 0 under the denominator floor, not 1, so a
  * constant would be unsound. Folding only fires on *deterministic*,
  * non-nullable children — matching Catalyst's constant-folding
  * discipline. */
object FoldSelfDistance extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArraySqEuclidean(a, b) if a.deterministic &&
          a.semanticEquals(b) && !a.nullable =>
        Literal(0.0, DoubleType)
      case ArrayMinkowski(a, b, _) if a.deterministic &&
          a.semanticEquals(b) && !a.nullable =>
        Literal(0.0, DoubleType)
    }
}
