package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ Expression converters so graft
  * can wrap its native Catalyst expressions (e.g.
  * `graft.plans.ArrayDotProduct`) as `Column`s without registering them
  * per-session. The alternative — `call_function("array_dot", ...)` —
  * resolves against the session registry, which would make every
  * operator silently depend on `GraftFunctions.register` having run.
  * Same technique every Spark extension library uses for typed column
  * construction. `frame` reaches the `private[sql]` `Dataset.ofRows` the
  * same way, to wrap a graft logical node as a DataFrame.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
