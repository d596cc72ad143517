package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]`, so this one-file shim lives under the
  * `org.apache.spark.sql` namespace (the standard pattern for libraries
  * that ship custom Catalyst expressions against Spark 4's split
  * Column API). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Plan a (resolved) logical plan to a physical plan — test-only, for
    * the plan-shape guards: at the `sparkPlan` stage a subquery
    * expression still wraps its LOGICAL plan (physical subquery planning
    * happens in prepare, and under AQE the prepared subquery hides
    * behind a leaf AdaptiveSparkPlanExec), so auditing the physical
    * shape INSIDE a scalar/EXISTS subquery requires planning it
    * explicitly. `sessionState`/`executePlan` are `private[sql]`. */
  def planLogical(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.execution.SparkPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(plan).sparkPlan

  /** Block until the listener bus has delivered every queued event, or
    * throw `java.util.concurrent.TimeoutException` after `timeoutMillis`
    * — profiling tools attribute job/stage/task counts to the query that
    * just ran, and the bus is asynchronous (`listenerBus` is
    * `private[spark]`, reachable from this package). */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession, timeoutMillis: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)

  /** Delete `dir` and everything under it when the JVM exits, through
    * Spark's own shutdown-delete hook (`private[spark]`). */
  def deleteOnShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
