package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** The one `private[sql]` doorway this library needs: turning a custom
  * [[LogicalPlan]] (graft.plans.AsOfJoinNode) into a DataFrame.
  * `Dataset.ofRows` is `private[sql]`, so this object lives under the
  * `org.apache.spark.sql` package — the established pattern for Spark
  * extension libraries that add logical operators (connectors and
  * join-extension libraries ship the same shim). The only other
  * internal it reaches is the `private[spark]` listener-bus drain
  * ([[drainListeners]]).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Wrap a catalyst Expression as a Column without requiring the
    * session to have registered it as a named function.
    */
  def column(expr: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(expr)

  /** The catalyst Expression behind a Column (inverse of [[column]]). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached the listeners,
    * so a listener's counts cover the jobs that already started.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
