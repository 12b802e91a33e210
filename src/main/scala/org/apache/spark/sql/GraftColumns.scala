package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionColumnNode

/** Spark keeps the constructors of a Column over a hand-built Catalyst
  * expression, and of a DataFrame over a hand-built logical plan,
  * internal to its sql package, hence this file's package. */
object GraftColumns {
  /** Used by the state store's journal-key filter
    * (`graft.functions.KeySetProbe`), which carries its key set as a
    * plan parameter and so has no SQL name to call. */
  def of(e: Expression): Column = new Column(ExpressionColumnNode(e))

  /** Used by `graft.operators.SqlProgram`, which binds the table names
    * of a parsed query text itself instead of through the catalog. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
