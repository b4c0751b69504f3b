package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column <-> Expression converters,
  * so library code can wrap a custom Catalyst Expression in a Column
  * without registering it in any session's function registry (the
  * registry route couples Column CONSTRUCTION to whichever session is
  * active on the calling thread — wrong session, failed resolution).
  * The package placement is the standard extension-library pattern for
  * reaching `private[sql]` API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Standard analysis-time wrong-argument-count error (the same one
    * built-ins raise), reachable from function builders outside the
    * sql package — `private[sql]` QueryCompilationErrors otherwise.
    */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, Seq(expected.toString), actual)
}

/** Bridge to the `private[sql]` DataFrame constructor over Catalyst's
  * internal rows: the rows stay in their binary form, so no encoder
  * (and no generated serializer class) sits between an RDD-level step
  * and the DataFrame that exposes it. The plan leaf carries `stats`, so
  * joins against it plan like joins against a local checkpoint of the
  * same rows (a broadcast when it is small).
  */
object FrameBridge {
  def frame(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      stats: org.apache.spark.sql.catalyst.plans.logical.Statistics)
      : org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows)(session, Some(stats), None))
  }

  /** The optimizer's size estimate of `df`. */
  def stats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.Statistics =
    df.queryExecution.optimizedPlan.stats
}
