package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionColumnNode

/** A Column over a hand-built Catalyst expression. Spark keeps the
  * constructor internal to its sql package, hence this file's package.
  * Its one user is the state store's journal-key filter
  * (`graft.functions.KeySetProbe`), which carries its key set as a
  * plan parameter and so has no SQL name to call. */
object GraftColumns {
  def of(e: Expression): Column = new Column(ExpressionColumnNode(e))
}
