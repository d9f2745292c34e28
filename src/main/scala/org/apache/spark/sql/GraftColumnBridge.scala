package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-package-private Column↔Expression converters — the
  * supported way for an extension library to expose custom Catalyst
  * expressions as Columns on Spark 4 (Column no longer carries `.expr`).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `inputTypes` of an expression that takes TIMESTAMP or TIMESTAMP_NTZ and
    * lets the analyzer cast anything else to TIMESTAMP (the type classes are
    * sql-package-private).
    */
  val anyTimestampInput =
    Seq(types.TypeCollection(types.TimestampType, types.TimestampNTZType))

  /** DataFrame over an arbitrary logical plan — lets an optimizer rule
    * ANALYZE a Column-API expression against a plan's own attributes
    * (e.g. [[graft.plans.MvRewrite]] re-deriving the hash expression a
    * KMV view sketches, with matching exprIds via a LocalRelation over
    * the plan's output).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
