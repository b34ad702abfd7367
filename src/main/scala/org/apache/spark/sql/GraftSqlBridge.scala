package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The ONE place graft crosses Spark's `private[sql]` line: wrapping a
  * Catalyst `Expression` into a public `Column` (and back), and a logical
  * plan into a `DataFrame` (a rewritten plan has no SQL text). Every other
  * graft expression is registered in the function registry and reached
  * through SQL text, but an expression carrying a non-SQL-expressible
  * constructor argument — a `Broadcast` handle, e.g.
  * [[graft.functions.BloomMightContain]] — cannot be built from text, and
  * embedding the payload as a binary literal instead would ship it in the
  * plan string (megabytes of hex in every explain) rather than through
  * the broadcast machinery.
  *
  * `classic.ExpressionUtils.column/expression` and `classic.Dataset.ofRows`
  * are exactly what the DataFrame API itself calls; `private[sql]`
  * compiles to public bytecode and this file lives in
  * `org.apache.spark.sql` solely to satisfy the Scala access check. No Spark internals are re-implemented here.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
