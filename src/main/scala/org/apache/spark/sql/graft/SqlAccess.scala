package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The engine's reach into `private[sql]` Spark code, which is why it
  * lives under `org.apache.spark.sql`. */
object SqlAccess {

  /** A DataFrame over an already-resolved relation, with fresh output
    * attributes (`newInstance`), so two frames over one relation self-join
    * and resolve `df("col")` as two separate reads do. No data source is
    * resolved and no file is listed. */
  def frameOver(spark: SparkSession, relation: LogicalRelation): DataFrame =
    Dataset.ofRows(castToImpl(spark), relation.newInstance())

  /** The error Spark's `/` raises on a zero divisor in ANSI mode. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
