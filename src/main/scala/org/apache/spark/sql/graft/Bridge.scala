package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Spark internals used by graft's native
  * expressions — the standard pattern for Spark extension libraries (a
  * minimal shim inside the `org.apache.spark.sql` package namespace; all
  * engine logic stays in `graft.*`).
  */
object Bridge {

  /** Lift a Catalyst Expression into the public Column API. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst Expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native function builder under `name` for SQL use. */
  def registerFunction(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")

  /** Build a DataFrame directly over an InternalRow RDD (no Row boxing) —
    * the write-path twin of `queryExecution.toRdd`.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Block until every listener has seen every event posted so far, so a
    * listener's counts are complete once the action that posted them returns.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Classes Janino has compiled in this JVM so far: one per miss of
    * Spark's JVM-wide codegen cache. The delta over a run is the run's
    * compile count.
    */
  def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
