package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.DataType

/** The engine's reach into `private[sql]` Spark code, which is why it
  * lives under `org.apache.spark.sql`. */
object SqlAccess {

  /** A DataFrame over an already-resolved relation, with fresh output
    * attributes (`newInstance`), so two frames over one relation self-join
    * and resolve `df("col")` as two separate reads do. No data source is
    * resolved and no file is listed. */
  def frameOver(spark: SparkSession, relation: LogicalRelation): DataFrame =
    Dataset.ofRows(castToImpl(spark), relation.newInstance())

  /** A Column over a Catalyst expression (the engine's native kernels). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression of a Column (a kernel's argument). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `dt` with every nested field, element and value nullable, as
    * `from_json`'s result type. */
  def asNullable(dt: DataType): DataType = dt.asNullable

  /** The error Spark's `/` raises on a zero divisor in ANSI mode. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
