package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin accessor for the `private[sql]` Column⇄Expression bridge — the
  * standard technique for Spark extension libraries that ship custom
  * Catalyst expressions with a Column-API front door.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → CATALYST expression via the session's converter. Unlike
    * [[expression]] (which wraps the column node lazily), this produces a
    * real catalyst tree immediately — required when embedding user columns
    * into a custom LogicalPlan, where no Dataset API boundary will ever
    * run the column-node conversion.
    */
  def catalystExpression(spark: org.apache.spark.sql.SparkSession,
                         c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** DataFrame from a custom LogicalPlan (the `private[sql]`
    * Dataset.ofRows, for libraries shipping whole custom operators).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DSv2 predicate in its V1 [[org.apache.spark.sql.sources.Filter]]
    * form, through Spark's own (`private[sql]`) converter; None = the
    * predicate has no V1 form.
    */
  def toV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Block until the context's asynchronous listener bus has delivered
    * every event posted so far (`private[spark]`
    * `LiveListenerBus.waitUntilEmpty`; a `TimeoutException` after 10 s).
    * Job, stage and SQL-execution events for an action that has returned
    * are then in every `SparkListener` and `QueryExecutionListener`.
    */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a function builder on an already-running session (for
    * environments that don't control session construction; the
    * `spark.sql.extensions=graft.plans.GraftExtensions` config path uses
    * the same builders at session-build time).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
