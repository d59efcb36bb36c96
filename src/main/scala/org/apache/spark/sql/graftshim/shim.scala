package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and DataFrame ⇄ LogicalPlan bridges. Spark 4 made
  * these conversions `private[sql]` (`org.apache.spark.sql.classic.*`);
  * extension libraries that define native Catalyst expressions or logical
  * operators reach them from a subpackage of `org.apache.spark.sql` — the
  * standard pattern used by Spark-ecosystem projects. Nothing else in this
  * repo lives outside the `graft` namespace.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved or unresolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame (the plan its resolved
    * column attributes reference).
    */
  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The RDDs backing a `localCheckpoint()`ed DataFrame (its `LogicalRDD`
    * leaves). Spark exposes no public way to release localCheckpoint
    * storage — the blocks live until RDD GC — so cache-hygiene code
    * (graft.ext.Caching) reaches the pinned RDD here to `unpersist` it
    * once the downstream result is materialized.
    */
  def backingRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Returns once every event posted so far has reached every listener
    * (Spark delivers listener events asynchronously; the drain is
    * `private[spark]`).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
