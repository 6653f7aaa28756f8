package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Column↔Expression conversion — the
  * standard mechanism for libraries that define custom Catalyst
  * expressions (Spark's own connectors do the same). No behavior here,
  * only visibility.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an ALREADY-BUILT session (extensions
    * only apply at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       name: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[SparkSession].sessionState.functionRegistry
      .registerFunction(name, info, builder)

  /** A DataFrame over rows already in Catalyst's internal form: no
    * Row-to-InternalRow serializer is generated for `schema`. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
                              rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rows, schema)
}
