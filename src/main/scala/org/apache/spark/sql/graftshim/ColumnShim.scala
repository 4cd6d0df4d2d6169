/** Lives in the `org.apache.spark.sql` package space on purpose: Spark 4
  * keeps Expression↔Column conversion (`classic.ExpressionUtils`)
  * `private[sql]`, and this is the narrowest way to reach it without
  * forking Spark. Keep this file free of graft logic — it is an access
  * shim only.
  */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnShim {

  /** A Column over a Catalyst expression (children may be unresolved). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression of a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
