package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to Spark's `private[sql]` Column ↔ Expression conversions,
  * needed to expose custom Catalyst expressions as Columns and
  * Column-DSL trees as Catalyst expressions. Lives under
  * org.apache.spark.sql.* for package-private access — the same
  * technique Spark-ecosystem libraries use for custom expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst tree of `c`, converted as classic `Dataset` converts
    * a column, so it also serves a function builder
    * ([[graft.GraftExtensions]]): the registry path does not convert
    * the opaque wrapper `ExpressionUtils.expression` returns.
    */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
