package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4 made the converters `private[sql]`
  * (Column is backed by ColumnNode in sql-api); extension libraries reach
  * them from an org.apache.spark.sql subpackage — this is the only file in
  * the repo that lives outside the graft namespace. The checkpoint-stats
  * reset and the listener-bus drain are here for the same reason.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `checkpointed` (a `localCheckpoint` result) with the unknown size
    * estimate any RDD-backed DataFrame has, in place of the one it carries
    * over from the plan it materialized. A loop that joins its own
    * checkpoint back in every round otherwise compounds that estimate — a
    * join's estimate is the product of its children's — and the planner's
    * BigInt arithmetic on it comes to dominate each round.
    */
  def withUnknownSize(checkpointed: DataFrame): DataFrame = {
    val r = checkpointed.queryExecution.logical.asInstanceOf[LogicalRDD]
    ofRows(checkpointed.sparkSession, r.copy()(
      checkpointed.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      None, Some(r.constraints)))
  }

  /** Block until the listeners hold every event posted so far (≤ 10 s). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
