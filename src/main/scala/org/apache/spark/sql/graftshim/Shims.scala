package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column <-> Expression converters so
  * graft's native Catalyst expressions (e.g. graft.functions.PacketVector)
  * can surface as ordinary Columns. This is the one place the build peeks
  * under org.apache.spark.sql; everything else uses public API.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unique-per-session id (exposed only on the classic SparkSession
    * subclass) — the only safe cache key for session-scoped state;
    * identityHashCode can be reused after a stopped session is GC'd. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Block until queued listener events are delivered — needed when
    * reading listener-accumulated metrics at a synchronous boundary
    * (bench per-query shuffle accounting). */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Resolve the optimizer rules an extensions object would inject into a
    * session (private[sql] builder) — lets tests assert the
    * spark.sql.extensions deploy path without building a fresh
    * SparkContext. */
  def builtOptimizerRules(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** Same, for the planner strategies an extensions object injects. */
  def builtPlannerStrategies(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** A DataFrame over an already-analyzed logical plan — the way a custom
    * logical node (e.g. graft.plans.Widen) becomes a frame without an
    * RDD round trip. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
