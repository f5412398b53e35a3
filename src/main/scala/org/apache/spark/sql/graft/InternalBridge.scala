package org.apache.spark.sql.graft

/** Minimal bridge into the `private[sql]` Column ⇄ Expression plumbing of
  * the classic session (hence this file's package), for custom Catalyst
  * expressions such as CosineSim. */
object InternalBridge {

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
