package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** This package is the one sanctioned hole into Spark's `private[sql]`
  * surface (with [[SessionBridge]]): converts between [[Column]] and
  * catalyst [[Expression]] for graft's native codegen kernels
  * ([[graft.functions.VectorExpressions]]). Lives under
  * `org.apache.spark.sql` solely for the qualified-private access —
  * everything else in graft stays on the public API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
