package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4 made the converters `private[sql]`
  * (Column is backed by ColumnNode in sql-api); extension libraries reach
  * them from an org.apache.spark.sql subpackage — this is the only file in
  * the repo that lives outside the graft namespace. The checkpoint-size
  * estimate and the listener-bus drain are here for the same reason.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `checkpointed` (a `localCheckpoint` result) with the size its stored
    * blocks take as its estimate, in place of the one it carries over from
    * the plan it materialized (unknown when no block is stored). That
    * carried estimate is the product of every join's children above the
    * scan: a loop that joins its own checkpoint back compounds it each round
    * until the planner's BigInt arithmetic dominates, and even a 47-node
    * graph reads ~4e16 bytes, so every join plans as a sort-merge join that
    * AQE demotes to a broadcast only after running both exchanges. The
    * stored size lets a small table broadcast from the start and keeps a
    * large one on the shuffle path.
    */
  def withStoredSize(checkpointed: DataFrame): DataFrame = {
    val r = checkpointed.queryExecution.logical.asInstanceOf[LogicalRDD]
    val stored = checkpointed.sparkSession.sparkContext
      .getRDDStorageInfo(_.id == r.rdd.id).headOption
      .map(i => Statistics(BigInt(i.memSize + i.diskSize)))
    ofRows(checkpointed.sparkSession, r.copy()(
      checkpointed.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      stored, Some(r.constraints)))
  }

  /** Block until the listeners hold every event posted so far (≤ 10 s). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
