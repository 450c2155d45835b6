package org.apache.spark.sql

/** A Column over a Catalyst expression that is not registered as a SQL
  * function. The conversion is private to Spark's sql package, hence
  * this file's package.
  */
object ExpressionColumn {
  def apply(e: catalyst.expressions.Expression): Column = classic.ExpressionUtils.column(e)
}
