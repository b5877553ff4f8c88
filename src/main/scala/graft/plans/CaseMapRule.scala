package graft.plans

import graft.functions.CaseMapExpr
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType

/** Optimizer rule: `Lower`/`Upper` over a UTF8_BINARY string become
  * [[CaseMapExpr]] while `spark.sql.icu.caseMappings.enabled` is on
  * (Spark's default). Both compute the same value; Spark's goes
  * through `CollationAwareUTF8String`, whose class initializer takes
  * about 1.8 s on a 4-core host, once per JVM (in `curation_mix` the
  * first `lower` of `dedup_cluster` waited on it). With ICU mappings
  * off Spark uses `UTF8String`'s own case mapping and other
  * collations have their own routes; both are left alone, as is
  * `InitCap`, which does read the title-case table. Constant folding
  * and local-relation evaluation run before this rule, so a `lower`
  * of a literal or of a local `Seq` is still Spark's. Registered in
  * [[GraftExtensions]]. */
object CaseMapRule extends Rule[LogicalPlan] {
  private def binary(e: Expression): Boolean =
    e.dataType match {
      case st: StringType =>
        st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)) plan
    else plan.transformAllExpressionsWithPruning(
        _.containsPattern(UPPER_OR_LOWER)) {
      case Lower(c) if binary(c) => CaseMapExpr(c, upper = false)
      case Upper(c) if binary(c) => CaseMapExpr(c, upper = true)
    }
}
