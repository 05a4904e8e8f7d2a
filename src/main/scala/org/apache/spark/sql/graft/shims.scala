package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst `Expression`s and the public `Column` API.
  * Spark 4 made `Column` wrap a ColumnNode and the conversion helpers
  * `private[sql]`; this shim lives under org.apache.spark.sql to reach
  * them — the standard technique for Catalyst-level extension
  * libraries.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to Catalyst's floating-point canonicalization
  * (`NormalizeFloatingNumbers.normalize` is `private[sql]`). The rule
  * itself only rewrites Aggregate/Window/Join keys — a custom
  * grouping operator (TopKPerKey) must normalize its own keys, or
  * -0.0 vs 0.0 and differing NaN bit patterns land in different
  * groups under raw binary comparison.
  */
object NormalizeShim {
  /** Canonicalize float/double (incl. nested in array/struct) in `e`;
    * returns `e` unchanged for types that need no normalization.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}

/** Bridge to `DataType.asNullable` (`private[spark]`): the schema
  * Spark's file writers give parquet — every field, nested ones too,
  * nullable. Snap's task writer applies it so its files match.
  */
object SchemaShim {
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}

/** Bridge to construct a DataFrame from a hand-built LogicalPlan
  * (custom operator nodes). `Dataset.ofRows` moved to the
  * `private[sql]` classic package in Spark 4.
  */
object PlanShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A QueryExecution over a hand-built (possibly unresolvable)
    * logical plan — lets tests exercise listener paths for queries
    * that die before planning.
    */
  def queryExecution(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.execution.QueryExecution =
    new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
