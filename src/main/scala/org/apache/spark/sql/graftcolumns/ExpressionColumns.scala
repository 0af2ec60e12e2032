package org.apache.spark.sql.graftcolumns

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst expression, for kernels built as expressions rather
  * than through a registered SQL function (so that a parameter that is
  * not a literal reaches the expression). Spark 4 keeps both
  * conversions package-private to `org.apache.spark.sql`, hence this
  * package. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
