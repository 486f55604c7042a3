package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal `private[sql]` bridge for the graft extension library — the
  * standard pattern for third-party Catalyst extensions: Column ↔ Expression
  * conversion and temp-function registration are `private[sql]` in Spark 4,
  * so this is the single file that lives inside the Spark namespace.
  * Everything semantic stays in `graft.*`.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def registerTemp(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")

  /** The session's Hadoop configuration with per-scan options merged — what
    * a DSv2 source must ship to its readers instead of `new Configuration()`
    * (which would drop `spark.hadoop.*` props, object-store credentials, and
    * HDFS HA nameservices). `sessionState` is `private[sql]` in Spark 4. */
  def hadoopConfWithOptions(spark: SparkSession, options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** Spark's DIVIDE_BY_ZERO error, as ANSI `Divide` raises it
    * (`QueryExecutionErrors` is `private[sql]`). */
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** Apply an extensions object's injected functions to a registry clone —
    * lets tests exercise the `SparkSessionExtensions` path without booting a
    * second SparkContext (`registerFunctions` is `private[sql]`). */
  def applyFunctionExtensions(ext: SparkSessionExtensions): catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(catalyst.analysis.FunctionRegistry.builtin.clone())
}
