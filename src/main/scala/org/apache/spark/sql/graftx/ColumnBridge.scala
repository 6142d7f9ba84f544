package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 moved the classic `Column(expr)` constructor behind
  * `private[sql] ExpressionUtils`; a library providing custom expressions
  * (the documented extension path — custom `Expression` with `doGenCode`)
  * reaches it from an `org.apache.spark.sql` subpackage, the same pattern
  * third-party Spark extensions use. The `graftx` package holds every
  * such bridge (this one, [[FunctionBridge]], [[CheckpointBridge]] and
  * [[SchedulerBridge]]); no other code sits outside the `graft`
  * namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
