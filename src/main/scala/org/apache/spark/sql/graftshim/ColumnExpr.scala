package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the sql-private Column ↔ Catalyst Expression conversion
  * (Spark 4 removed the public `Column.expr`). Lives under
  * org.apache.spark.sql to satisfy `private[sql]` access. */
object ColumnExpr {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `Dataset.showString` is `private[sql]`; the shell needs the same
    * bounded tabular rendering `df.show()` prints. */
  def showString(df: org.apache.spark.sql.DataFrame, numRows: Int,
      truncate: Int): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .showString(numRows, truncate, vertical = false)

  /** `DataSourceStrategy.translateFilter` is `protected[sql]`: the
    * Catalyst → `sources.Filter` translation scan pushdown applies. */
  def pushedFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
