package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for exposing graft's custom Catalyst expressions as Columns.
  * Lives in the org.apache.spark.sql package because Expression→Column
  * wrapping (ExpressionUtils.column) is private[sql] — the standard
  * pattern for third-party expression libraries that ship native
  * codegen'd expressions rather than UDFs. */
object graftexpr {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `plan`, a new root rebuilt from analyzed parts
    * with the same output (a prepared alert tick): every node is marked
    * analyzed, so the analyzer passes it through untouched. The root
    * drops the Dataset ids its copy shares with the plan it was rebuilt
    * from, which would otherwise gain one id per DataFrame built over a
    * copy. `classic.Dataset.ofRows` is private[sql]. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    catalyst.graftplan.markAnalyzed(plan)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}

package catalyst {
  /** `LogicalPlan.setAnalyzed` is private[catalyst]. */
  private[sql] object graftplan {
    def markAnalyzed(plan: LogicalPlan): Unit = plan.setAnalyzed()
  }
}
