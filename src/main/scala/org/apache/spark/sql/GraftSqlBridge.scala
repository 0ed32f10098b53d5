package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
/** Bridge into `private[sql]` Spark surfaces needed by graft's custom
  * expressions and plans: Column↔Expression conversion and logical
  * plan → DataFrame (classic backend). Lives in the org.apache.spark.sql
  * package solely for access; contains no Spark code.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)
}
