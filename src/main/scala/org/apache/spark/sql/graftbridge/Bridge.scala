package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression↔Column bridge for custom Catalyst expressions.
  * `ExpressionUtils` is `private[sql]` in Spark 4's classic module, so
  * this lives under the `org.apache.spark.sql` package — the standard
  * pattern for Spark extension libraries that define native
  * expressions.
  */
object Bridge {
  def column(e: Expression): Column   = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan
    * (`Dataset.ofRows` is `private[sql]`).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The running SparkContext, if any (`getActive` is `private[spark]`). */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** A copy of the calling thread's local properties — job group,
    * description, scheduler pool, SQL execution ids
    * (`getLocalProperties` is `private[spark]`).
    */
  def getLocalProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Replace the calling thread's local properties
    * (`setLocalProperties` is `private[spark]`).
    */
  def setLocalProperties(sc: org.apache.spark.SparkContext, props: java.util.Properties): Unit =
    sc.setLocalProperties(props)

  /** Stable per-session id (`sessionUUID` is `private[sql]`). */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
