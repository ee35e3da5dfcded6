package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ExpressionInfo, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.expressions.IntersectSize

/** Optimizer rule: `size(array_intersect(a, b))` →
  * `IntersectSize(a, b)`.
  *
  * The built-in pair materializes the intersection array per row
  * (interpreted set construction + array allocation) only to take its
  * length; the kernel is a codegen'd hash-probe count. Restricted to
  * null-free string arrays, where the semantics are provably
  * identical (distinct-count, remove-on-match).
  *
  * This is the graft convention for custom plan work: extend Catalyst
  * where the built-in underperforms, via a Rule injected through
  * SparkSessionExtensions — never a parallel execution path.
  */
object RewriteSetOps extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ai @ ArrayIntersect(a, b), _)
          if isNullFreeStringArray(a.dataType) &&
            isNullFreeStringArray(b.dataType) && ai.deterministic =>
        IntersectSize(a, b)
    }

  private def isNullFreeStringArray(dt: org.apache.spark.sql.types.DataType) =
    dt match {
      case ArrayType(StringType, containsNull) => !containsNull
      case _ => false
    }
}

/** Session extension entry point: `withExtensions(new GraftExtensions)`
  * on a session builder, as `GraftSession.builder` does. It installs
  * `RewriteSetOps` once, in the "Pre CBO Rules" batch
  * (`injectOptimizerRule` would put it in both operator-optimization
  * batches), and injects graft's SQL functions. `GraftSession.prepare`
  * finds those functions and adds nothing; a session built without
  * this extension gets the rule from `prepare`, as an extra
  * optimization.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectPreCBORule(_ => RewriteSetOps)
    graft.functions.sqlFunctions.foreach { case (name, builder) =>
      extensions.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name), builder))
    }
  }
}
