package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/**
 * Bridge into `private[sql]` surface, the standard pattern for
 * third-party Spark extension libraries (spatial/ML libs all ship such a
 * shim): lift a Catalyst Expression into the public Column API and reach
 * the session FunctionRegistry on Spark 4.x (where Column is
 * ColumnNode-backed and no longer wraps Expression directly), and
 * read the `private[spark]` deep-nullable view of a schema.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def register(spark: SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Deep-nullable view of a schema (`StructType.asNullable` is
    * `private[spark]`): file-source inference reports every column
    * nullable, so the driver-side footer schema must match it exactly
    * or plans would differ from the inference path. */
  def asNullable(s: StructType): StructType = s.asNullable
}
