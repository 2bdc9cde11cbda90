package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils), needed to expose
  * custom Catalyst expressions as Columns. Lives under
  * org.apache.spark.sql.* for package-private access — the same
  * technique Spark-ecosystem libraries use for custom expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
