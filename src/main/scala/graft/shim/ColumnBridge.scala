package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 hides the classic
  * `ExpressionUtils` behind `private[sql]`; every graft kernel builds
  * its native expression into a Column through this bridge, with no
  * session or SQL registry lookup (and some, like the broadcast-handle
  * bloom probe, take arguments that are not Columns at all), so this
  * one-file subpackage of `org.apache.spark.sql` re-exports the two
  * conversions — the standard extension-library idiom, no behavior of
  * its own.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
