package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Shared builder scaffolding for the native operators ([[AsOf]]/[[Band]]) —
  * single-sourced so a fix to one face can never silently miss the other.
  */
private[plans] object NativePlans {

  /** Resolve a column of an analyzed plan by name, or fail with the plan's
    * actual columns. */
  def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name)
      .getOrElse(sys.error(s"column $name not found in ${plan.output.map(_.name)}"))

  /** Re-alias every column of `df`: when both join sides share lineage (the
    * common self-join case) their attribute ids collide, and the analyzer's
    * relation dedup would rewrite the right child underneath the native
    * node's already-bound expressions. Fresh aliases make the children
    * disjoint. */
  def realiased(df: DataFrame): LogicalPlan =
    df.select(df.columns.toIndexedSeq.map(c =>
        org.apache.spark.sql.functions.col(c).as(c)): _*)
      .queryExecution.analyzed
}
