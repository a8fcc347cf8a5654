package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The two conversions between a Catalyst [[Expression]] and a [[Column]]
  * that the Column builders of `graft.plans` need. Spark keeps both
  * `private[sql]`, so they are reachable only from a package under
  * `org.apache.spark.sql`; this object is the engine's one piece of code
  * there. With it a builder wraps the expression of its function table
  * entry directly, and the column resolves in any session, with nothing
  * installed in that session's function registry. */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
